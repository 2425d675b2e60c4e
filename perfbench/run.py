#!/usr/bin/env python3
"""KG benchmark: one command, every metric with its unit, checked outputs.

From any directory (paths below are relative to the repository root):

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload query --steady 5   # spread over seeds 1..5

One process, ``local[nproc]``, one closed-loop client. Inputs are
generated from the seed into ``<repo>/.perfbench/inputs`` (untimed,
cached per seed); every file a run writes stays under
``<repo>/.perfbench``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics. Any output mismatch or
failed call makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def start_session(event_dir: Path | None = None):
    """What ``jobs/build_kg.py`` does before its first job: ``get_spark``
    (which also ships the package to the workers) and the alias dimension."""
    from dstlr_spark.session import get_spark
    from dstlr_spark.sources.fixtures import alias_dict

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    alias_dict(spark)
    return spark


def _record(work: Path, workload: str, first_pass_s: float) -> None:
    with open(work / "untraced.jsonl", "a") as fh:
        fh.write(json.dumps({"workload": workload, "first_pass_s": first_pass_s}) + "\n")


def _untraced_reference(work: Path, workload: str) -> float | None:
    """Median untraced first pass of ``workload`` recorded in this checkout."""
    path = work / "untraced.jsonl"
    if not path.exists():
        return None
    vals = [r["first_pass_s"] for r in map(json.loads, path.read_text().splitlines())
            if r["workload"] == workload]
    return statistics.median(vals) if vals else None


def run_once(args, bench: dict) -> int:
    from perfbench import host, inputs, workloads as wl

    work = ROOT / ".perfbench"
    run_dir = work / f"run-{os.getpid()}"
    data = inputs.prepare(work / "inputs", args.workload, args.seed)
    plan = host.plan_session(run_dir / "local")
    plan.apply(run_dir / "tmp")
    print("perfbench: session " + json.dumps(plan.as_dict()), flush=True)
    event_dir = run_dir / "events" if args.trace else None
    res = wl.Outcome()
    tr = None
    try:
        with host.RssSampler() as rss:
            spark = start_session(event_dir)
            setups = [host.process_age_s()]
            for _ in range(4):
                spark.stop()
                t0 = time.perf_counter()
                spark = start_session(event_dir)
                setups.append(time.perf_counter() - t0)
            print(f"perfbench: set-ups {setups}", file=sys.stderr, flush=True)
            if args.trace:
                tr = wl.Tracer(spark)
                try:
                    if args.workload == "build":
                        wl.trace_build(spark, data, run_dir, res, tr)
                    else:
                        wl.trace_query(spark, data, args.seed, res, tr)
                except Exception as e:  # reported as a failed call, with the result line
                    res.attempted += 1
                    wl.failed_call(res, f"traced {args.workload}", e)
                spark.stop()
            elif args.workload == "build":
                wl.run_build(data, run_dir, args.seconds, res)
            else:
                wl.run_query(spark, data, args.seed, args.seconds, res)
                spark.stop()
        if args.trace:
            wl.spark_layers(event_dir, res, tr)
            res.layers.setdefault("trace.pass_s", 0.0)
    finally:
        host.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    for msg in res.errors:
        print(f"perfbench: FAILED {msg}", flush=True)
    correct = res.failed == 0 and res.attempted > 0
    if args.trace:
        res.layers["session.start_s"] = setups[0]
        ref = _untraced_reference(work, args.workload)
        print(f"perfbench: untraced first pass in this checkout: {ref}", flush=True)
        res.layers["trace.overhead_s"] = res.layers["trace.pass_s"] - ref if ref else 0.0
        spec, values = bench["per_layer"], res.layers
        unknown = sorted(set(values) - {m["name"] for m in spec})
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    else:
        spec = bench["end_to_end"]
        values = {"setup_s": statistics.median(setups), "peak_rss_mb": rss.peak_mb}
        if res.passes_s:
            values["first_pass_s"] = res.passes_s[0]
            values["first_pass_cpu_s"] = res.passes_cpu_s[0]
            _record(work, args.workload, res.passes_s[0])
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def steady(args) -> int:
    """Repeat the workload in fresh processes over seeds seed..seed+n-1 and
    print each metric's median, quartiles and spread (IQR / median), for
    all runs, for the first run alone and for the runs after it."""
    runs = []
    for i in range(args.steady):
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True) as proc:
            try:
                stdout, stderr = proc.communicate()
            except BaseException:
                # SIGTERM, not SIGKILL: the run must get to end its JVM
                proc.terminate()
                proc.wait()
                raise
        last = stdout.strip().splitlines()[-1] if stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(stdout[-2000:], stderr[-2000:], sep="\n", file=sys.stderr)
            return 1
        runs.append(json.loads(last))
        print(f"run {i + 1}/{args.steady} seed {args.seed + i}: {last}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "first": vals[0],
            "after_first_median": statistics.median(vals[1:]) if len(vals) > 1 else med,
        }
    print(json.dumps({"workload": args.workload, "runs": len(runs), "metrics": summary}))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0,
                   help="repeat the workload this many times and print the spread")
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    if not (ROOT / "dstlr_spark").is_dir():
        print(f"perfbench: no dstlr_spark package next to {ROOT / 'perfbench'}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # on SIGTERM, unwind through run_once's clean-up, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.steady:
        return steady(args)
    return run_once(args, bench)


if __name__ == "__main__":
    sys.exit(main())

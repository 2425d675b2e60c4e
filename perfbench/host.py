"""Session sizing from the host, process-tree memory, and process age.

The program's ``get_spark`` defaults were tuned on a 32-core/126 GiB
host (48g driver heap, ``/dev/shm`` local dir). The benchmark never relies
on them: it sizes the session from the host it runs on and passes the
result through the program's ``SPARK_GRAFT_*`` overrides.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path

HEAP_SHARE = 0.4  # JVM heap share of MemTotal: workers, page cache and OS share the rest
MIN_LOCAL_FREE_GB = 2.0


@dataclass(frozen=True)
class SessionPlan:
    cpus: int
    driver_mem_mb: int
    mem_total_mb: int
    local_dir: str
    local_free_gb: float

    def apply(self, tmp_dir: Path) -> None:
        """Export the plan through the program's overrides. Must run before
        pyspark starts the JVM; also keeps every temp file inside ``tmp_dir``."""
        tmp_dir.mkdir(parents=True, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{self.driver_mem_mb}m",
            SPARK_GRAFT_LOCAL_DIR=self.local_dir,
            TMPDIR=str(tmp_dir),
            # hsperfdata would go to /tmp whatever java.io.tmpdir says
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        )

    def as_dict(self) -> dict:
        return asdict(self)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def plan_session(local_dir: Path) -> SessionPlan:
    """Heap from MemTotal, ``local[nproc]``, and a local dir with room.

    Shuffle files and DISK_ONLY blocks go to ``local_dir``, which lives in
    the benchmark's work directory: the benchmark writes only inside its
    checkout, so tmpfs is not a candidate. Too little free space there is
    refused up front instead of failing mid-shuffle."""
    local_dir.mkdir(parents=True, exist_ok=True)
    free_gb = shutil.disk_usage(local_dir).free / 2**30
    if free_gb < MIN_LOCAL_FREE_GB:
        raise RuntimeError(f"{local_dir}: {free_gb:.1f} GiB free, need {MIN_LOCAL_FREE_GB}")
    total = mem_total_mb()
    return SessionPlan(
        cpus=len(os.sched_getaffinity(0)),
        driver_mem_mb=max(1024, int(total * HEAP_SHARE)),
        mem_total_mb=total,
        local_dir=str(local_dir),
        local_free_gb=round(free_gb, 1),
    )


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None once the
    process has ended (gone, or a zombie waiting to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields


def descendants(root: int) -> dict[int, str]:
    """Live descendants of ``root``: pid -> start time, which tells a
    process apart from a later one that reuses its pid."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _stat(int(entry))) is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
            start[int(entry)] = fields[19]
    found, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found[pid] = start[pid]
        todo += children.get(pid, [])
    return found


def wait_ended(procs: dict[int, str], timeout_s: float) -> None:
    """Wait until every process in ``procs`` has ended; kill what is left
    after ``timeout_s`` and wait for that too."""
    def alive() -> list[int]:
        return [pid for pid, t in procs.items()
                if (f := _stat(pid)) is not None and f[19] == t]

    deadline = time.monotonic() + timeout_s
    while (left := alive()) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.05)


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, end the JVM pyspark launched, and wait until
    the JVM and every process it started (the Python worker daemons) have
    ended. ``SparkContext.stop`` leaves the JVM running until this process
    exits, and it would then outlive the run while its shutdown hooks run."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    wait_ended(procs, timeout_s)


def _tree(root: int) -> tuple[float, float]:
    """(RSS in MB, CPU seconds used so far) of ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime + stime, plus cutime + cstime of reaped children (exited workers)
        usage[pid] = (int(fields[21]), sum(int(f) for f in fields[11:15]))
    pages = ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        rss, cpu = usage.get(pid, (0, 0))
        pages, ticks = pages + rss, ticks + cpu
        todo += children.get(pid, [])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20, ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and its workers."""
    return _tree(os.getpid())[1]


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and the Python workers it forks) and keeps the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree(os.getpid())[0])
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

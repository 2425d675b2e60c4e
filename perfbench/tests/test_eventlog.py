"""Event-log reader over a tiny committed log in Spark 4.1's rolling layout.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.eventlog import event_files, read_groups  # noqa: E402

DATA = Path(__file__).resolve().parent / "data"


def test_rolling_files_are_read_in_order():
    names = [p.name for p in event_files(DATA)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_group_metrics():
    g = read_groups(DATA)
    a = g["A"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 3)
    assert a.task_run_s == pytest.approx(0.65)
    assert a.jvm_cpu_s == pytest.approx(0.35)
    assert a.python_s == pytest.approx(0.30)
    assert a.gc_s == pytest.approx(0.01)
    assert a.shuffle_write_mb == pytest.approx(2.0)
    assert a.shuffle_read_mb == pytest.approx(2.0)
    assert a.spill_mb == pytest.approx(1.0)
    assert a.max_stage_skew == pytest.approx(400 / 300)
    assert a.wall_s == pytest.approx(1.0)
    assert a.driver_gap_s == pytest.approx(0.5)  # tasks cover 1100-1500 and 1600-1700

    b = g["B"]  # stage 3 was listed but never ran
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert b.driver_gap_s == pytest.approx(0.3)

    assert g[None].jobs == 1  # a job outside any group, from the second file
    whole = g["*"]
    assert (whole.jobs, whole.stages, whole.tasks) == (3, 4, 5)
    assert whole.wall_s == pytest.approx(2.2)
    assert whole.driver_gap_s == pytest.approx(1.5)


def test_compressed_log_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-2"
    app.mkdir()
    shutil.copy(DATA / "eventlog_v2_local-1" / "events_1_local-1", app / "events_1_local-2.zstd")
    with pytest.raises(ValueError, match="compressed"):
        read_groups(tmp_path)

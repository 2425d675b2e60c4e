"""Host-sized session defaults: heap from MemTotal, tmpfs only with room."""

from __future__ import annotations

import os
import tempfile

from dstlr_spark.session import HEAP_FRACTION, SHM_MIN_FREE_BYTES, host_defaults

_MEMINFO = "MemTotal:       16000000 kB\nMemFree:        15000000 kB\n"


def _statvfs(free_bytes: int) -> os.statvfs_result:
    frsize = 4096
    blocks = free_bytes // frsize
    # (bsize, frsize, blocks, bfree, bavail, files, ffree, favail, flag, namemax)
    return os.statvfs_result((frsize, frsize, blocks * 2, blocks, blocks, 0, 0, 0, 0, 255))


def test_heap_is_a_share_of_memtotal():
    got = host_defaults(_MEMINFO, None)["spark.driver.memory"]
    assert got == f"{int(16_000_000 * HEAP_FRACTION) // 1024}m" == "9375m"


def test_heap_falls_back_without_memtotal():
    assert host_defaults("", None)["spark.driver.memory"] == "16g"


def test_tmpfs_local_dir_only_when_it_has_room():
    roomy = host_defaults(_MEMINFO, _statvfs(SHM_MIN_FREE_BYTES))
    tight = host_defaults(_MEMINFO, _statvfs(SHM_MIN_FREE_BYTES - (1 << 20)))
    absent = host_defaults(_MEMINFO, None)
    assert roomy["spark.local.dir"].startswith("/dev/shm/")
    assert tight["spark.local.dir"] == tempfile.gettempdir()
    assert absent["spark.local.dir"] == tempfile.gettempdir()

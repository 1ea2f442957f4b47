"""Optimistic-concurrency commits (sources/iceberg.py).

Two writers racing the pointer swap must never silently orphan a
committed snapshot (the last-wins failure mode): non-commutative
ops surface CommitConflictError; appends auto-rebase and retry.
"""

from __future__ import annotations

import fcntl
import os
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from bdqc_spark.sources.iceberg import CommitConflictError, IcebergishTable


def _batch(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
        F.col("id").cast("int").alias("dur_ms"),
    )


def test_stale_parent_commit_refused(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    first = tbl.append(_batch(spark, 0, 10))
    tbl.append(_batch(spark, 10, 10))
    # a manifest prepared against the FIRST snapshot is now stale
    stale = dict(tbl.snapshot())
    stale["snapshot_id"] = "deadbeefdeadbeef"
    stale["parent_snapshot_id"] = first
    with pytest.raises(CommitConflictError):
        tbl._commit_snapshot(stale)
    # the ref was not moved and the table still reads consistently
    assert tbl.current_snapshot_id() != "deadbeefdeadbeef"
    assert tbl.read(spark).count() == 20


def test_concurrent_appends_all_land(spark, tmp_path):
    """4 threads append disjoint batches at the same time: every
    batch must land (auto-rebase), no file double-claimed, lineage
    linear, row total exact — the silent-loss race is gone."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 5))
    errs = []
    barrier = threading.Barrier(4)

    def run(k):
        try:
            barrier.wait(timeout=30)
            IcebergishTable(str(tmp_path / "t"), num_buckets=2).append(
                _batch(spark, 100 + 50 * k, 20)
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=run, args=(k,)) for k in range(4)]
    [t.start() for t in ts]
    [t.join(120) for t in ts]
    assert errs == []
    assert tbl.read(spark).count() == 5 + 4 * 20
    # every data file referenced exactly once in the final manifest
    snap = tbl.snapshot()
    rels = [r for fs in snap["bucket_files"].values() for r in fs]
    assert len(rels) == len(set(rels))
    # lineage is a linear chain of 5 appends
    ops = tbl.operations_between(None) or []
    n, sid = 0, snap["snapshot_id"]
    while sid is not None:
        s = tbl.snapshot(sid)
        n += 1
        sid = s["parent_snapshot_id"]
    assert n == 5


# Takes the table's commit flock, says so, then waits to be killed.
_HOLD_LOCK = """
import fcntl, os, sys, time
fd = os.open(sys.argv[1], os.O_CREAT | os.O_WRONLY)
fcntl.flock(fd, fcntl.LOCK_EX)
print("locked", flush=True)
time.sleep(60)
"""


def test_dead_writer_lock_blocks_nothing(spark, tmp_path, monkeypatch):
    """A commit.lock file left behind is not a held lock, and a writer
    SIGKILLed while holding the flock releases it with its death: the
    next commit goes through at once, not after a staleness window."""
    import bdqc_spark.sources.iceberg as ice

    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 5))
    monkeypatch.setattr(ice, "COMMIT_LOCK_TIMEOUT_S", 0.3)
    lock = os.path.join(tbl.meta_dir, "commit.lock")
    with open(lock, "w") as f:
        f.write("dead-writer")  # fresh mtime, no holder
    tbl.append(_batch(spark, 5, 5))

    with subprocess.Popen(
        [sys.executable, "-c", _HOLD_LOCK, lock], stdout=subprocess.PIPE
    ) as holder:
        try:
            assert holder.stdout.readline().strip() == b"locked"
            with pytest.raises(TimeoutError):  # a live holder in another process blocks
                tbl.append(_batch(spark, 10, 5))
        finally:
            holder.kill()  # SIGKILL while it holds the flock
    tbl.append(_batch(spark, 15, 5))
    assert tbl.read(spark).count() == 15
    assert os.path.exists(lock)  # the lock file is never unlinked


def test_live_lock_times_out_quickly(spark, tmp_path, monkeypatch):
    import bdqc_spark.sources.iceberg as ice

    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 5))
    monkeypatch.setattr(ice, "COMMIT_LOCK_TIMEOUT_S", 0.3)
    fd = os.open(os.path.join(tbl.meta_dir, "commit.lock"), os.O_WRONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # a live writer holds the lock
        with pytest.raises(TimeoutError):
            tbl.append(_batch(spark, 5, 5))
    finally:
        os.close(fd)

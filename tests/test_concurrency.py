"""Optimistic-concurrency commits (sources/iceberg.py).

Two writers racing the pointer swap must never silently orphan a
committed snapshot (the last-wins failure mode): non-commutative
ops surface CommitConflictError; appends auto-rebase and retry.
"""

from __future__ import annotations

import fcntl
import os
import shutil
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


def test_ref_edits_take_the_commit_lock(spark, tmp_path, monkeypatch):
    """Every ref edit reads and writes refs under the commit lock:
    while another process holds it, each one raises TimeoutError and
    moves no ref, so it cannot interleave with a commit."""
    import bdqc_spark.sources.iceberg as ice

    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    s1 = tbl.append(_batch(spark, 0, 5))
    tbl.append(_batch(spark, 5, 5))
    tbl.create_branch("b")
    tbl.branch("b").append(_batch(spark, 10, 5))
    tbl.create_tag("t", s1)
    refs, main = tbl.refs(), tbl.current_snapshot_id()
    edits = {
        "create_branch": lambda: tbl.create_branch("c"),
        "create_tag": lambda: tbl.create_tag("u"),
        "drop_branch": lambda: tbl.drop_branch("b"),
        "drop_tag": lambda: tbl.drop_tag("t"),
        "fast_forward": lambda: tbl.fast_forward("b"),
        "rollback_to": lambda: tbl.rollback_to(s1),
    }
    monkeypatch.setattr(ice, "COMMIT_LOCK_TIMEOUT_S", 0.3)
    lock = os.path.join(tbl.meta_dir, "commit.lock")
    with subprocess.Popen(
        [sys.executable, "-c", _HOLD_LOCK, lock], stdout=subprocess.PIPE
    ) as holder:
        try:
            assert holder.stdout.readline().strip() == b"locked"
            for name, edit in edits.items():
                with pytest.raises(TimeoutError):
                    edit()
                assert tbl.refs() == refs, name
                assert tbl.current_snapshot_id() == main, name
        finally:
            holder.kill()
    # lock free again: the publish goes through
    assert tbl.fast_forward("b") == refs["branches"]["b"]


_FOREIGN = "bucket=0/part-99999-foreign.c000.snappy.parquet"

# op -> (call, summary entries the committed snapshot must carry)
_MUTATORS = {
    "delete": (
        lambda spark, t: t.delete(spark, F.col("clip_id") == "clip-3"),
        {"deleted_rows": 1, "total_rows": 39},
    ),
    "update": (
        lambda spark, t: t.update(
            spark, F.col("clip_id").isin("clip-3", "clip-4"), {"dur_ms": F.lit(-1)}
        ),
        {"updated_rows": 2, "total_rows": 40},
    ),
    "merge": (  # clip-37..39 exist, clip-40..42 are new
        lambda spark, t: t.merge(spark, _batch(spark, 37, 6)),
        {"updated_rows": 3, "inserted_rows": 3, "total_rows": 43},
    ),
    "compact": (lambda spark, t: t.compact(spark), {"total_rows": 40}),
    "zorder": (lambda spark, t: t.zorder(spark, ["dur_ms"]), {"total_rows": 40}),
    "rebucket": (lambda spark, t: t.rebucket(spark, 2), {"total_rows": 40}),
}


@pytest.mark.parametrize("op", sorted(_MUTATORS))
def test_foreign_file_mid_write_is_not_claimed(spark, tmp_path, monkeypatch, op):
    """A data file another writer renames into a bucket directory while
    a mutator writes (what a concurrent append does) is not the
    mutator's: its manifest never lists it and its result is exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrameWriter

    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 20))
    parent = tbl.append(_batch(spark, 20, 20))
    other = str(tmp_path / "other.parquet")  # a 5-row file of another table
    pq.write_table(
        pa.table(
            {
                "clip_id": [f"other-{i}" for i in range(5)],
                "dur_ms": pa.array(range(5), pa.int32()),
            }
        ),
        other,
    )

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        dst = os.path.join(tbl.data_dir, _FOREIGN)
        if not os.path.exists(dst):  # lands just before the first write
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(other, dst)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    call, expected = _MUTATORS[op]
    sid = call(spark, tbl)
    monkeypatch.undo()

    assert sid is not None and sid == tbl.current_snapshot_id() != parent
    snap = tbl.snapshot()
    assert os.path.exists(os.path.join(tbl.data_dir, _FOREIGN))
    listed = {r for fs in snap["bucket_files"].values() for r in fs}
    listed |= set(snap.get("update_files", [])) | set(snap.get("merge_files", []))
    assert _FOREIGN not in listed
    assert {k: snap["summary"].get(k) for k in expected} == expected
    assert tbl._file_rows(r for fs in snap["bucket_files"].values() for r in fs) == (
        expected["total_rows"]
    )
    rows = {r.clip_id for r in tbl.read(spark).collect()}
    assert len(rows) == expected["total_rows"]
    assert not any(k.startswith("other-") for k in rows)
    if op == "delete":
        assert "clip-3" not in rows

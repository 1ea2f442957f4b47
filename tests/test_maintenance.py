"""Table-maintenance actions: compaction, snapshot expiry, orphan
removal (Iceberg's rewrite_data_files / expire_snapshots /
remove_orphan_files, re-expressed for the Iceberg-shaped adapter).

Invariants held here are the ones a 10^12-clip deployment relies on:
compaction is row-preserving and invisible to pinned readers; expiry
never touches the current snapshot; orphan removal deletes exactly
the unreferenced files and respects the in-flight safety window.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bdqc_spark.sources.iceberg import IcebergishTable


def _mk_table(spark, root, appends=3, rows_per=120, buckets=8):
    tbl = IcebergishTable(str(root), num_buckets=buckets)
    for i in range(appends):
        df = spark.range(i * rows_per, (i + 1) * rows_per).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            (F.col("id") % 7).cast("double").alias("x"),
        )
        tbl.append(df)
    return tbl


def _collect_sorted(spark, tbl, **kw):
    return [
        (r.clip_id, r.x, r.bucket)
        for r in tbl.read(spark, **kw).orderBy("clip_id").collect()
    ]


def test_compact_row_preserving_single_file_per_bucket(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t")
    pre_snap = tbl.current_snapshot_id()
    expected = _collect_sorted(spark, tbl)
    files_before = {k: len(v) for k, v in tbl.snapshot()["bucket_files"].items()}
    assert any(n >= 2 for n in files_before.values())

    sid = tbl.compact(spark)
    assert sid == tbl.current_snapshot_id()
    snap = tbl.snapshot()
    assert snap["operation"] == "rewrite"
    # every bucket that had >=2 files now has exactly 1
    for k, n in files_before.items():
        if n >= 2:
            assert len(snap["bucket_files"][k]) == 1
    assert _collect_sorted(spark, tbl) == expected
    assert snap["summary"]["total_rows"] == 3 * 120

    # pinned reader: time travel to the pre-compaction snapshot still
    # reads the OLD file list, identically
    assert _collect_sorted(spark, tbl, snapshot_id=pre_snap) == expected


def test_compact_noop_when_already_compacted(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t")
    assert tbl.compact(spark) is not None
    before = tbl.current_snapshot_id()
    assert tbl.compact(spark) is None  # nothing left with >=2 files
    assert tbl.current_snapshot_id() == before


def test_expire_snapshots_keeps_current_and_severs_history(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t")
    lineage = [h["snapshot_id"] for h in tbl.history()]
    assert len(lineage) == 3
    expired = tbl.expire_snapshots(keep_last=1)
    assert sorted(expired) == sorted(lineage[1:])
    # current still reads fine; history stops at the retention boundary
    assert len(tbl.read(spark).collect()) == 3 * 120
    assert [h["snapshot_id"] for h in tbl.history()] == lineage[:1]
    # time travel to an expired snapshot now fails
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, snapshot_id=expired[0])


def test_remove_orphans_after_compact_and_expire(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t")
    expected = _collect_sorted(spark, tbl)
    old_files = {
        rel for fs in tbl.snapshot()["bucket_files"].values() for rel in fs
    }
    tbl.compact(spark)
    tbl.expire_snapshots(keep_last=1)

    # safety window: nothing younger than older_than_s is touched
    assert tbl.remove_orphans(older_than_s=3600) == []
    removed = tbl.remove_orphans(older_than_s=0)
    assert set(removed) == old_files  # exactly the pre-compaction files
    assert _collect_sorted(spark, tbl) == expected
    on_disk = tbl._data_listing()
    referenced = {rel for fs in tbl.snapshot()["bucket_files"].values() for rel in fs}
    assert on_disk == referenced  # no unreferenced bytes left


def test_cli_pinned_snapshot_and_maintain(spark, tmp_path, run_cli):
    """--snapshot pins the DATA read (time travel), not just the
    lineage key; --maintain compacts/expires/sweeps the input table
    after the run."""
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    tbl = IcebergishTable(table, num_buckets=4)
    snap1 = tbl.append(generate_clips_df(spark, 200, seed=31))
    tbl.append(generate_clips_df(spark, 200, seed=32, start=200))

    def run(*extra):
        return run_cli(
            "--table", table, "--out", tmp_path / "out", "--master", "local[4]", *extra
        )

    import duckdb

    # pinned to the first snapshot: only its 200 clips are processed
    run("--snapshot", snap1)
    n1 = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/out/decisions/*/*.parquet')"
    ).fetchone()[0]
    assert n1 == 200

    # current snapshot + maintenance: all 400, table left compacted
    res = run("--maintain")
    n2 = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/out/decisions/*/*.parquet')"
    ).fetchone()[0]
    assert n2 == 400
    assert res["maintenance"]["compacted_snapshot"] is not None
    assert res["maintenance"]["expired_snapshots"] >= 2
    snap = tbl.snapshot()
    assert snap["operation"] == "rewrite"
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
    # orphans respect the safety window by default -> files still there;
    # an explicit 0-window sweep then leaves exactly the referenced set
    tbl.remove_orphans(older_than_s=0)
    assert tbl._data_listing() == {
        rel for fs in snap["bucket_files"].values() for rel in fs
    }


def test_crashed_compaction_is_invisible_and_swept(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t", appends=2)
    expected = _collect_sorted(spark, tbl)
    # simulate a compaction that wrote output but died before commit:
    # drop a stray parquet file into a bucket directory
    bdir = os.path.join(tbl.data_dir, "bucket=0")
    os.makedirs(bdir, exist_ok=True)
    stray = os.path.join(bdir, "part-crashed-deadbeef.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"clip_id": pa.array(["zz"]), "x": pa.array([1.0])}), stray
    )
    # a writer killed inside its staged write leaves a stage directory;
    # the sweep takes it once its newest entry is past the window and
    # leaves a younger (possibly in-flight) one alone
    import time

    old_stage = os.path.join(tbl.data_dir, "_stage-old")
    fresh_stage = os.path.join(tbl.data_dir, "_stage-fresh")
    for stage in (old_stage, fresh_stage):
        os.makedirs(os.path.join(stage, "bucket=0"))
        pq.write_table(
            pa.table({"clip_id": pa.array(["zz"]), "x": pa.array([1.0])}),
            os.path.join(stage, "bucket=0", "part-00000.parquet"),
        )
    long_ago = time.time() - 7200
    for d, _, files in os.walk(old_stage):
        for n in files:
            os.utime(os.path.join(d, n), (long_ago, long_ago))
        os.utime(d, (long_ago, long_ago))
    # manifest-driven read: the stray file and the stages are invisible
    assert _collect_sorted(spark, tbl) == expected
    assert tbl.remove_orphans(older_than_s=3600) == ["_stage-old"]
    assert not os.path.exists(old_stage) and os.path.isdir(fresh_stage)
    removed = tbl.remove_orphans(older_than_s=0)
    assert "bucket=0/part-crashed-deadbeef.parquet" in removed
    assert _collect_sorted(spark, tbl) == expected


# -- partition-spec evolution + append-only incremental semantics ----------


def test_incremental_skips_compaction_rewrite(spark, tmp_path):
    """A compaction committed mid-chain must contribute NOTHING to an
    incremental read — its files carry rows the consumer already
    processed (the pre-fix whole-range file diff re-emitted every
    compacted row)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            F.col("id").cast("double").alias("x"),
        )

    s1 = tbl.append(batch(0, 100))
    tbl.append(batch(100, 50))
    assert tbl.compact(spark) is not None
    tbl.append(batch(150, 25))

    inc = tbl.read_incremental(spark, from_snapshot_id=s1)
    got = sorted(r.clip_id for r in inc.collect())
    want = sorted(f"clip-{i}" for i in range(100, 175))
    assert got == want  # 75 appended rows, zero re-emitted


def test_rebucket_preserves_rows_and_history(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t", appends=2, rows_per=100, buckets=4)
    pre_sid = tbl.current_snapshot_id()
    pre_rows = {(r.clip_id, r.x) for r in tbl.read(spark).collect()}

    sid = tbl.rebucket(spark, 8)
    assert sid == tbl.current_snapshot_id()
    snap = tbl.snapshot()
    assert snap["operation"] == "rebucket"
    assert snap["num_buckets"] == 8
    assert snap["summary"]["previous_num_buckets"] == 4

    post = tbl.read(spark)
    assert {(r.clip_id, r.x) for r in post.collect()} == pre_rows
    # the new spec really is bucket(8, clip_id)
    chk = post.withColumn(
        "want", F.pmod(F.xxhash64("clip_id"), F.lit(8)).cast("int")
    ).where(F.col("bucket") != F.col("want"))
    assert chk.count() == 0
    assert max(tbl.bucket_ids()) > 3

    # time travel: the pre-rebucket snapshot still reads under ITS spec
    old = tbl.read(spark, snapshot_id=pre_sid)
    assert {(r.clip_id, r.x) for r in old.collect()} == pre_rows
    assert old.agg(F.max("bucket")).collect()[0][0] <= 3
    assert max(tbl.bucket_ids(snapshot_id=pre_sid)) <= 3

    # manifest-level pruning under the new spec
    some = tbl.read(spark, buckets=[3]).collect()
    assert some and all(r.bucket == 3 for r in some)


def test_append_after_rebucket_follows_manifest_spec(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t", appends=1, rows_per=80, buckets=4)
    tbl.rebucket(spark, 8)
    # a STALE handle constructed with the old default must not mix specs
    stale = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    stale.append(
        spark.range(1000, 1040).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            F.col("id").cast("double").alias("x"),
        )
    )
    snap = stale.snapshot()
    assert snap["num_buckets"] == 8
    new = IcebergishTable(str(tmp_path / "t")).read(spark).where("clip_id >= 'clip-1000'")
    chk = new.withColumn(
        "want", F.pmod(F.xxhash64("clip_id"), F.lit(8)).cast("int")
    ).where(F.col("bucket") != F.col("want"))
    assert chk.count() == 0


def test_incremental_skips_rebucket_and_reads_later_appends(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t", appends=1, rows_per=60, buckets=4)
    s1 = tbl.current_snapshot_id()
    tbl.rebucket(spark, 8)
    tbl.append(
        spark.range(500, 530).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            F.col("id").cast("double").alias("x"),
        )
    )
    inc = tbl.read_incremental(spark, from_snapshot_id=s1)
    got = sorted(r.clip_id for r in inc.collect())
    assert got == sorted(f"clip-{i}" for i in range(500, 530))


def test_rebucket_rejects_bad_args(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path / "t", appends=1, rows_per=10, buckets=4)
    with pytest.raises(ValueError, match="already has"):
        tbl.rebucket(spark, 4)
    with pytest.raises(ValueError, match=">= 1"):
        tbl.rebucket(spark, 0)


def test_cli_rebucket_flag(spark, tmp_path, run_cli):
    """--rebucket N evolves the spec before the run; the pipeline then
    processes the NEW bucket list and decisions are unchanged vs the
    old spec (bucketing is physical layout, not semantics)."""
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    tbl = IcebergishTable(table, num_buckets=4)
    tbl.append(generate_clips_df(spark, 150, seed=35))

    def run(out, *extra, rc=0):
        return run_cli(
            "--table", table, "--out", tmp_path / out, "--master", "local[4]", *extra, rc=rc
        )

    base = run("out_a")
    assert base["processed_buckets"] == [0, 1, 2, 3]
    evolved = run("out_b", "--rebucket", "8")
    assert len(evolved["processed_buckets"]) > 4
    a = spark.read.parquet(str(tmp_path / "out_a" / "decisions")).toPandas()
    b = spark.read.parquet(str(tmp_path / "out_b" / "decisions")).toPandas()
    ka = a.sort_values("clip_id")[["clip_id", "keep"]].reset_index(drop=True)
    kb = b.sort_values("clip_id")[["clip_id", "keep"]].reset_index(drop=True)
    assert ka.equals(kb)
    # --rebucket + --snapshot is refused
    run("out_c", "--rebucket", "16", "--snapshot", "deadbeef", rc=2)


def test_incremental_after_expired_from_snapshot_falls_back_to_diff(spark, tmp_path):
    """expire_snapshots deletes the consumer's remembered from-snapshot
    manifest; read_incremental must DEGRADE to the documented plain
    file diff (here: emit everything still present, at-least-once)
    instead of crashing with FileNotFoundError (r4 ADVICE — the
    fallback was unreachable because only `snap is None` was checked
    while snapshot() raises for a deleted manifest)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            F.col("id").cast("double").alias("x"),
        )

    s1 = tbl.append(batch(0, 50))
    tbl.append(batch(50, 25))
    tbl.append(batch(75, 25))
    expired = tbl.expire_snapshots(keep_last=1)
    assert s1 in expired  # the consumer's checkpoint manifest is gone

    # crash repro before the fix: appended_files raised FileNotFoundError
    inc = tbl.read_incremental(spark, from_snapshot_id=s1)
    got = sorted(r.clip_id for r in inc.collect())
    # old manifest unreadable -> old_files = empty -> full current set
    # (at-least-once; the consumer dedups on clip_id downstream)
    assert got == sorted(f"clip-{i}" for i in range(100))


def test_stream_reader_survives_expired_checkpoint_snapshot(spark, tmp_path):
    """Same degradation through appended_files when the remembered
    offset's manifest was expired mid-stream: the file-diff fallback
    emits the current snapshot instead of crashing."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            F.col("id").cast("double").alias("x"),
        )

    s1 = tbl.append(batch(0, 40))
    tbl.append(batch(40, 20))
    tbl.expire_snapshots(keep_last=1)
    files = tbl.appended_files(from_snapshot_id=s1)
    # every returned path must exist (readable by a consumer)
    for rel in files:
        assert os.path.exists(os.path.join(tbl.data_dir, rel))
    assert len(files) > 0


def test_compact_target_file_size_bin_packs(spark, tmp_path):
    """compact(target_file_bytes=...) splits big buckets into
    ~target-sized files instead of one monolith: more than one file
    per rewritten bucket, rows preserved, per-file manifest stats
    recorded, time travel intact."""
    from pyspark.sql import functions as F

    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    # two appends -> every bucket is a compaction victim
    for lo in (0, 20_000):
        tbl.append(
            spark.range(lo, lo + 20_000).select(
                F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
                F.col("id").cast("double").alias("x"),
                F.repeat(F.lit("p"), 200).alias("payload"),
            )
        )
    pre = tbl.current_snapshot_id()
    pre_bytes = sum(
        os.path.getsize(os.path.join(tbl.data_dir, rel))
        for fs in tbl.snapshot()["bucket_files"].values()
        for rel in fs
    )
    target = max(pre_bytes // 8, 1)  # force ~4 files per bucket
    sid = tbl.compact(spark, target_file_bytes=int(target))
    assert sid is not None
    snap = tbl.snapshot()
    per_bucket = {k: len(fs) for k, fs in snap["bucket_files"].items()}
    assert all(n >= 2 for n in per_bucket.values()), per_bucket
    assert tbl.read(spark).count() == 40_000
    assert snap["summary"]["total_rows"] == 40_000
    files = [r for fs in snap["bucket_files"].values() for r in fs]
    assert set(snap["file_stats"]) == set(files)
    # range-partitioned rewrite keeps file stats selective: some file
    # can be skipped for a narrow x range
    narrow = tbl.read(spark, range_filter={"x": (0.0, 10.0)})
    assert len(narrow.inputFiles()) < len(files)
    # time travel to the pre-compaction snapshot still works
    assert tbl.read(spark, snapshot_id=pre).count() == 40_000

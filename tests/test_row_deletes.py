"""Row-level deletes on the Iceberg-shaped table (r4 VERDICT ask #4).

Copy-on-write semantics: delete() rewrites only the affected data
files and commits a `delete` snapshot. The invariants a PII
right-to-be-forgotten path must hold:
- current reads stop seeing the rows immediately;
- time travel to a pre-delete snapshot still sees them (until expiry);
- incremental readers never emit or resurrect deleted rows, while a
  key RE-appended after its delete is still emitted;
- compaction and appends after a delete preserve the deletion;
- delete + expire_snapshots + remove_orphans physically erases the
  bytes from disk (checked by grepping the data files for a sentinel).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bdqc_spark.sources.iceberg import IcebergishTable


def _batch(spark, lo, n, text="hello"):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit(text), F.lit("-"), F.col("id")).alias("transcript"),
    )


def _ids(df):
    return sorted(r.clip_id for r in df.collect())


def test_delete_removes_rows_from_current_read(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 100))
    sid = tbl.delete(spark, F.col("x") >= 90)
    assert sid is not None
    assert _ids(tbl.read(spark)) == sorted(f"clip-{i}" for i in range(90))
    snap = tbl.snapshot()
    assert snap["operation"] == "delete"
    assert snap["summary"]["total_rows"] == 90
    assert snap["summary"]["deleted_rows"] == 10


def test_delete_accepts_sql_string_and_null_predicate_keeps(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    df = spark.createDataFrame(
        [("a", 1.0, "x"), ("b", None, "y"), ("c", 3.0, "z")],
        "clip_id string, x double, transcript string",
    )
    tbl.append(df)
    tbl.delete(spark, "x > 2.0")
    # NULL predicate rows are KEPT (SQL DELETE semantics)
    assert _ids(tbl.read(spark)) == ["a", "b"]


def test_delete_nothing_matches_is_noop(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 20))
    before = tbl.current_snapshot_id()
    assert tbl.delete(spark, F.col("x") > 1e9) is None
    assert tbl.current_snapshot_id() == before


def test_time_travel_still_sees_predelete_rows(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 50))
    tbl.delete(spark, F.col("x") < 10)
    assert len(_ids(tbl.read(spark))) == 40
    # pinned pre-delete reader: full view (manifest immutability)
    assert len(_ids(tbl.read(spark, snapshot_id=s1))) == 50


def test_delete_only_rewrites_affected_files(spark, tmp_path):
    """Cost scales with matching files, not the table: deleting one
    clip must leave every bucket directory it does not live in
    untouched."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=8)
    tbl.append(_batch(spark, 0, 200))
    pre = tbl.snapshot()["bucket_files"]
    tbl.delete(spark, F.col("clip_id") == "clip-7")
    post = tbl.snapshot()["bucket_files"]
    changed = [k for k in pre if pre[k] != post.get(k)]
    assert len(changed) == 1  # only clip-7's bucket was rewritten
    assert tbl.snapshot()["summary"]["rewritten_files"] == 1


def test_incremental_never_emits_deleted_rows(spark, tmp_path):
    """append A → consumer checkpoint → append B → delete some of B →
    incremental reads exactly B-minus-deleted."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 50))
    tbl.append(_batch(spark, 50, 50))
    tbl.delete(spark, (F.col("x") >= 70) & (F.col("x") < 80))
    got = _ids(tbl.read_incremental(spark, from_snapshot_id=s1))
    want = sorted(f"clip-{i}" for i in range(50, 100) if not (70 <= i < 80))
    assert got == want


def test_incremental_delete_of_prior_checkpointed_rows(spark, tmp_path):
    """Deleting rows the consumer ALREADY processed (before `from`)
    must not re-emit anything — the delete snapshot contributes no
    files and the rewritten files are skipped as non-append."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 50))
    s2 = tbl.append(_batch(spark, 50, 10))
    tbl.delete(spark, F.col("x") < 5)
    got = _ids(tbl.read_incremental(spark, from_snapshot_id=s2))
    assert got == []  # no new appends after s2; the delete emits nothing


def test_incremental_reappend_after_delete_is_emitted(spark, tmp_path):
    """Ordering: key deleted then RE-appended later in range → the
    re-append IS emitted (only appends before the delete filter)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 10))
    tbl.append(_batch(spark, 10, 10))  # adds clip-10..19
    tbl.delete(spark, F.col("clip_id") == "clip-12")
    tbl.append(
        spark.createDataFrame(
            [("clip-12", 12.0, "resurrected-12")],
            "clip_id string, x double, transcript string",
        )
    )
    inc = tbl.read_incremental(spark, from_snapshot_id=s1)
    rows = {r.clip_id: r.transcript for r in inc.collect()}
    assert set(rows) == {f"clip-{i}" for i in range(10, 20)}
    assert rows["clip-12"] == "resurrected-12"  # the NEW row, not the deleted one
    assert sorted(rows)[0] == "clip-10"


def test_compact_after_delete_preserves_deletion(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 60))
    tbl.append(_batch(spark, 60, 60))
    tbl.delete(spark, F.col("x") % 10 == 0)
    kept = _ids(tbl.read(spark))
    assert tbl.compact(spark) is not None
    assert _ids(tbl.read(spark)) == kept
    assert tbl.snapshot()["summary"]["total_rows"] == len(kept)


def test_append_after_delete_does_not_resurrect(spark, tmp_path):
    """The append before/after directory-diff discipline must not
    re-absorb the delete's superseded originals still on disk."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 40))
    tbl.delete(spark, F.col("x") < 4)
    tbl.append(_batch(spark, 100, 10))
    got = _ids(tbl.read(spark))
    want = sorted([f"clip-{i}" for i in range(4, 40)] + [f"clip-{i}" for i in range(100, 110)])
    assert got == want


def test_physical_erasure_after_expire_and_orphan_sweep(spark, tmp_path):
    """The full GDPR sequence: delete → expire_snapshots →
    remove_orphans(0). After it, the sentinel transcript string
    appears in NO data file on disk (bytes, not just metadata)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 30, text="SENTINEL_PII"))
    tbl.append(_batch(spark, 30, 30, text="ordinary"))
    tbl.delete(spark, F.col("transcript").startswith("SENTINEL_PII"))
    tbl.expire_snapshots(keep_last=1)
    removed = tbl.remove_orphans(older_than_s=0)
    assert removed  # the pre-delete originals were swept

    def _disk_has(needle: bytes) -> bool:
        for dirpath, _, files in os.walk(tbl.data_dir):
            for fn in files:
                with open(os.path.join(dirpath, fn), "rb") as f:
                    if needle in f.read():
                        return True
        return False

    assert not _disk_has(b"SENTINEL_PII")
    assert _disk_has(b"ordinary")  # the kept rows are intact
    assert len(_ids(tbl.read(spark))) == 30


def test_expired_tombstone_degrades_to_clean_file_diff(spark, tmp_path):
    """expire removes a delete snapshot's manifest AND tombstone
    sidecar; an incremental reader holding an older checkpoint must
    fall back to the file diff — which only lists target-manifest
    files, so deleted rows STILL never surface."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 40))
    tbl.append(_batch(spark, 40, 20))
    del_sid = tbl.delete(spark, (F.col("x") >= 50) & (F.col("x") < 100))
    tbl.append(_batch(spark, 100, 5))  # delete is no longer current
    tbl.expire_snapshots(keep_last=1)
    assert tbl.deleted_keys(del_sid) is None  # sidecar gone with manifest
    got = set(_ids(tbl.read_incremental(spark, from_snapshot_id=s1)))
    # at-least-once fallback: may re-list surviving pre-delete rows,
    # but the deleted clips (50-59) must be absent and everything the
    # consumer has not seen (40-49 survivors + the later append) present
    assert not any(50 <= int(c.split("-")[1]) < 100 for c in got)
    must_have = {f"clip-{i}" for i in range(40, 50)} | {f"clip-{i}" for i in range(100, 105)}
    assert must_have <= got
    assert got <= {f"clip-{i}" for i in range(50)} | must_have


def test_delete_across_multiple_buckets_and_files(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    for lo in range(0, 300, 100):
        tbl.append(_batch(spark, lo, 100))
    tbl.delete(spark, F.col("x") % 3 == 0)
    got = _ids(tbl.read(spark))
    want = sorted(f"clip-{i}" for i in range(300) if i % 3 != 0)
    assert got == want
    # per-snapshot totals consistent with the data
    assert tbl.snapshot()["summary"]["total_rows"] == len(want)


def test_delete_entire_bucket(spark, tmp_path):
    """A bucket whose every row matches vanishes from the manifest."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 40))
    tbl.delete(spark, F.lit(True))
    assert tbl.snapshot()["bucket_files"] == {}
    assert tbl.read(spark).count() == 0
    assert tbl.bucket_ids() == []


def test_streaming_source_skips_deleted_rows(spark, tmp_path):
    """The incremental stream reader rides read_incremental, so a
    delete between micro-batches must surface only surviving rows."""
    pytest.importorskip("pyspark.sql.datasource")
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 30))
    tbl.append(_batch(spark, 30, 30))
    tbl.delete(spark, (F.col("x") >= 40) & (F.col("x") < 45))
    got = _ids(tbl.read_incremental(spark, from_snapshot_id=s1))
    want = sorted(f"clip-{i}" for i in range(30, 60) if not (40 <= i < 45))
    assert got == want


def test_cli_erase_where(spark, tmp_path, run_cli):
    """run_pipeline --erase-where performs the PII delete before the
    QC run; with --maintain the superseded files are also swept."""
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    tbl = IcebergishTable(table, num_buckets=4)
    tbl.append(generate_clips_df(spark, 200, seed=41))
    victims = [r.clip_id for r in tbl.read(spark).limit(3).collect()]
    pred = "clip_id IN (" + ",".join(f"'{v}'" for v in victims) + ")"

    res = run_cli(
        "--table", table, "--out", tmp_path / "out",
        "--master", "local[4]", "--erase-where", pred,
    )
    assert res["erased"]["rows"] == 3 and res["erased"]["snapshot"]
    left = {r.clip_id for r in tbl.read(spark).collect()}
    assert not (set(victims) & left) and len(left) == 197

    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/out/decisions/*/*.parquet')"
    ).fetchone()[0]
    assert n == 197  # the QC run processed the post-delete table

    # combining with a pinned snapshot is refused
    run_cli(
        "--table", table, "--out", tmp_path / "out2",
        "--master", "local[4]", "--erase-where", pred,
        "--snapshot", tbl.current_snapshot_id(), rc=2,
    )


def test_delete_keys_prunes_discovery_to_hash_buckets(spark, tmp_path):
    """The PII fast path must bound the file-discovery scan to the
    keys' hash buckets (manifest pruning), and produce exactly the
    same table state as the general predicate delete."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=8)
    tbl.append(_batch(spark, 0, 200))
    victims = [r.clip_id for r in tbl.read(spark).limit(4).collect()]

    scanned = []
    orig_read = tbl.read

    def spy_read(spark_, buckets=None, **kw):
        scanned.append(buckets)
        return orig_read(spark_, buckets=buckets, **kw)

    tbl.read = spy_read
    sid = tbl.delete_keys(spark, victims)
    tbl.read = orig_read
    assert sid is not None
    # discovery used a bounded bucket list, not a full-table scan
    discovery_buckets = scanned[0]
    assert discovery_buckets is not None
    assert 0 < len(discovery_buckets) <= len(victims)
    left = {r.clip_id for r in tbl.read(spark).collect()}
    assert not (set(victims) & left) and len(left) == 196

    # parity with the general path on a fresh copy
    tbl2 = IcebergishTable(str(tmp_path / "t2"), num_buckets=8)
    tbl2.append(_batch(spark, 0, 200))
    tbl2.delete(spark, F.col("clip_id").isin(victims))
    assert {r.clip_id for r in tbl2.read(spark).collect()} == left


def test_delete_keys_empty_and_missing(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 20))
    before = tbl.current_snapshot_id()
    assert tbl.delete_keys(spark, []) is None
    assert tbl.delete_keys(spark, ["no-such-clip"]) is None
    assert tbl.current_snapshot_id() == before


def test_delete_discovery_scan_pushes_predicate_down(spark, tmp_path):
    """The file-discovery scan must reach the parquet reader with the
    predicate pushed down (at 100 TB the discovery cost is footer/
    row-group skipping, not a full decode of every column)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 100))
    # the raw predicate, exactly as delete()'s discovery scan uses it
    plan = (
        tbl.read(spark)
        .where(F.col("x") >= 90.0)
        .select(F.input_file_name().alias("f"))
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(x,90.0)" in plan, plan[:2000]


def test_incremental_big_tombstone_uses_broadcast_anti_join(spark, tmp_path):
    """Above the IN-list threshold the anti-filter must compile to a
    BroadcastHashJoin LeftAnti (a literal IN list of 10^5 keys would
    bloat the plan; a shuffle join would move the fact table)."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    s1 = tbl.append(_batch(spark, 0, 10))
    tbl.append(_batch(spark, 10, 2000))
    tbl.delete(spark, (F.col("x") >= 100) & (F.col("x") < 1300))  # 1200 keys > 1000
    inc = tbl.read_incremental(spark, from_snapshot_id=s1)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]
    got = sorted(r.clip_id for r in inc.collect())
    want = sorted(f"clip-{i}" for i in range(10, 2010) if not (100 <= i < 1300))
    assert got == want


def test_cli_erase_keys_file(spark, tmp_path, run_cli):
    """--erase-keys FILE drives the manifest-pruned delete_keys path."""
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    tbl = IcebergishTable(table, num_buckets=4)
    tbl.append(generate_clips_df(spark, 150, seed=43))
    victims = [r.clip_id for r in tbl.read(spark).limit(2).collect()]
    keys_file = str(tmp_path / "keys.txt")
    with open(keys_file, "w") as f:
        f.write("\n".join(victims) + "\n")

    res = run_cli(
        "--table", table, "--out", tmp_path / "out",
        "--master", "local[4]", "--erase-keys", keys_file,
    )
    assert res["erased"]["rows"] == 2
    left = {r.clip_id for r in tbl.read(spark).collect()}
    assert not (set(victims) & left) and len(left) == 148

    # mutually exclusive with --erase-where
    run_cli(
        "--table", table, "--out", tmp_path / "out2",
        "--master", "local[4]", "--erase-keys", keys_file,
        "--erase-where", "1=1", rc=2,
    )

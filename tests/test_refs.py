"""Branches and tags (Iceberg named refs) — the write-audit-publish
deployment pattern for a QC pipeline: ingest appends to a staging
branch, the audit step gates on the branch head, a passing batch is
published to main as a pure pointer move (fast_forward), a failing
batch is dropped with the branch. Invariants:

- branch writes never move main; main reads are byte-stable until publish;
- every mutator works on a branch through the same handle (append,
  delete, compact) because commit = pointer move is the only override;
- fast_forward is refused when main advanced past the fork (no silent
  history rewrite);
- tags are immutable pins that survive main advancing;
- expire_snapshots treats refs as GC roots; dropping the ref releases
  its history.
"""

from __future__ import annotations

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


def test_branch_write_isolated_from_main(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 50))
    main_sid = tbl.current_snapshot_id()
    tbl.create_branch("staging")
    st = tbl.branch("staging")
    st.append(_batch(spark, 50, 25))
    # branch sees old+new, main is untouched (pointer AND contents)
    assert len(_ids(st.read(spark))) == 75
    assert tbl.current_snapshot_id() == main_sid
    assert len(_ids(tbl.read(spark))) == 50


def test_fast_forward_publishes_branch(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 50))
    tbl.create_branch("staging")
    st = tbl.branch("staging")
    st.append(_batch(spark, 50, 25))
    head = st.current_snapshot_id()
    assert tbl.fast_forward("staging") == head
    assert tbl.current_snapshot_id() == head
    assert len(_ids(tbl.read(spark))) == 75
    # publishing again is a no-op, not an error
    assert tbl.fast_forward("staging") == head


def test_fast_forward_refused_when_main_diverged(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 10))
    tbl.create_branch("staging")
    tbl.branch("staging").append(_batch(spark, 100, 5))
    tbl.append(_batch(spark, 200, 5))  # main advances past the fork
    with pytest.raises(ValueError, match="not a fast-forward"):
        tbl.fast_forward("staging")


def test_branch_delete_and_compact_do_not_touch_main(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 40))
    tbl.append(_batch(spark, 40, 40))
    tbl.create_branch("fix")
    br = tbl.branch("fix")
    br.delete(spark, F.col("x") < 10)
    assert br.compact(spark, min_files=2) is not None
    assert len(_ids(br.read(spark))) == 70
    assert len(_ids(tbl.read(spark))) == 80
    # publish the audited fix: main now sees the deletion
    tbl.fast_forward("fix")
    assert len(_ids(tbl.read(spark))) == 70


def test_tag_pins_snapshot_and_is_immutable(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 30))
    tbl.create_tag("v1")
    tbl.append(_batch(spark, 30, 30))
    assert len(_ids(tbl.read(spark))) == 60
    assert len(_ids(tbl.read(spark, snapshot_id=tbl.ref_snapshot_id("v1")))) == 30
    with pytest.raises(ValueError, match="already exists"):
        tbl.create_tag("v1")
    with pytest.raises(ValueError, match="already exists"):
        tbl.create_branch("v1")  # names are shared between ref kinds
    tbl.drop_tag("v1")
    with pytest.raises(ValueError, match="no such ref"):
        tbl.ref_snapshot_id("v1")


def test_ref_name_validation_and_missing_refs(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    with pytest.raises(ValueError, match="refs need an existing snapshot"):
        tbl.create_branch("b")
    tbl.append(_batch(spark, 0, 5))
    with pytest.raises(ValueError, match="invalid branch name"):
        tbl.create_branch("main")
    with pytest.raises(ValueError, match="no such branch"):
        tbl.branch("nope")
    with pytest.raises(ValueError, match="no such branch"):
        tbl.fast_forward("nope")
    with pytest.raises(ValueError, match="no such snapshot"):
        tbl.create_tag("v1", at_snapshot_id="deadbeef")
    assert tbl.ref_snapshot_id("main") == tbl.current_snapshot_id()


def test_expire_keeps_ref_reachable_history(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 10))
    tagged = tbl.current_snapshot_id()
    tbl.create_tag("audit-2026-08")
    tbl.create_branch("staging")
    tbl.branch("staging").append(_batch(spark, 10, 10))
    branch_head = tbl.branch("staging").current_snapshot_id()
    tbl.append(_batch(spark, 100, 10))
    tbl.append(_batch(spark, 200, 10))

    tbl.expire_snapshots(keep_last=1)
    # tag target and branch head (and its ancestors) survive expiry
    assert len(_ids(tbl.read(spark, snapshot_id=tagged))) == 10
    assert len(_ids(tbl.read(spark, snapshot_id=branch_head))) == 20
    assert len(_ids(tbl.branch("staging").read(spark))) == 20

    # dropping the refs releases the history to the next expiry
    tbl.drop_tag("audit-2026-08")
    tbl.drop_branch("staging")
    expired = tbl.expire_snapshots(keep_last=1)
    assert tagged in expired and branch_head in expired
    with pytest.raises(FileNotFoundError):
        tbl.snapshot(tagged)


def test_wap_audit_gate_flow(spark, tmp_path):
    """The end-to-end write-audit-publish pattern: a corrupt batch is
    caught at the audit gate and never reaches main; the clean batch
    publishes. The gate here is a QC keep-rate threshold computed on
    the branch head — the same shape run_pipeline's decisions give."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 50, text="good"))
    published = tbl.current_snapshot_id()

    def audit_keep_rate(view):
        df = view.read(spark)
        new = df.join(
            tbl.read(spark).select("clip_id"), "clip_id", "left_anti"
        )
        n = new.count()
        ok = new.where(~F.col("transcript").startswith("corrupt")).count()
        return ok / n if n else 1.0

    # bad batch: fails the gate, branch dropped, main never moves
    tbl.create_branch("wap")
    tbl.branch("wap").append(_batch(spark, 50, 20, text="corrupt"))
    assert audit_keep_rate(tbl.branch("wap")) < 0.99
    tbl.drop_branch("wap")
    assert tbl.current_snapshot_id() == published

    # clean batch: passes, publishes via pointer move
    tbl.create_branch("wap")
    tbl.branch("wap").append(_batch(spark, 50, 20, text="good"))
    assert audit_keep_rate(tbl.branch("wap")) >= 0.99
    tbl.fast_forward("wap")
    tbl.drop_branch("wap")
    assert len(_ids(tbl.read(spark))) == 70


def test_cli_wap_branch_publish_and_refuse(spark, tmp_path, run_cli):
    """--wap-branch end-to-end through the real CLI: the staged batch
    publishes to main when its keep rate clears the gate, and is
    quarantined on the branch (main pointer unmoved) when it doesn't."""
    from bdqc_spark.sources.webdataset import write_tar_shards
    from bdqc_spark.synth.clips import generate_clips_df

    tbl = IcebergishTable(str(tmp_path / "tbl"), num_buckets=4)
    tbl.append(
        generate_clips_df(spark, 80, seed=21).select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
        )
    )
    shards = str(tmp_path / "shards")
    write_tar_shards(
        generate_clips_df(spark, 40, seed=22, start=1000), shards, n_shards=2
    ).collect()

    def _wap(out, threshold):
        return run_cli(
            "--table", tmp_path / "tbl",
            "--out", out,
            "--ingest-tar", shards,
            "--wap-branch", "staging",
            "--wap-keep-threshold", threshold,
            "--master", "local[4]",
        )

    # gate no healthy synth batch can fail -> published, main advanced
    main_before = tbl.current_snapshot_id()
    rec = _wap(str(tmp_path / "out1"), 0.5)
    assert rec["wap"]["published"] is True
    assert rec["wap"]["batch_rows"] == 40
    assert rec["wap"]["batch_keep_rate"] >= 0.5
    assert tbl.current_snapshot_id() == rec["wap"]["staged_snapshot"]
    assert tbl.current_snapshot_id() != main_before
    assert tbl.read(spark).count() == 120
    tbl.drop_branch("staging")

    # gate nothing clears -> refused: main pointer unmoved, batch
    # quarantined on the branch for inspection
    main_before = tbl.current_snapshot_id()
    rec = _wap(str(tmp_path / "out2"), 1.01)
    assert rec["wap"]["published"] is False
    assert tbl.current_snapshot_id() == main_before
    assert tbl.read(spark).count() == 120
    assert tbl.branch("staging").read(spark).count() == 160


def test_expire_by_age_and_gap_severing(spark, tmp_path):
    """Age-based retention keeps lineage newer than the cutoff; a
    branch forked BELOW the retention boundary keeps its ancestor
    chain, and every retained manifest whose parent expired gets its
    pointer severed — history() walks never crash into a gap."""
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    tbl.append(_batch(spark, 0, 5))
    root = tbl.current_snapshot_id()
    tbl.create_branch("old-fork")  # forks at the root snapshot
    tbl.append(_batch(spark, 10, 5))
    middle = tbl.current_snapshot_id()
    import time as _time

    _time.sleep(0.05)
    cutoff = int(_time.time() * 1000)
    tbl.append(_batch(spark, 20, 5))
    tbl.append(_batch(spark, 30, 5))

    expired = tbl.expire_snapshots(keep_last=1, older_than_ms=cutoff)
    # the middle snapshot (older than cutoff, not ref-reachable) dies;
    # the root survives through the branch ref
    assert middle in expired and root not in expired
    # both lineage walks still work, stopping at severed boundaries
    hist = tbl.history()
    assert len(hist) == 2  # the two post-cutoff snapshots
    assert hist[-1]["parent_snapshot_id"] is None
    assert len(tbl.branch("old-fork").history()) == 1
    assert tbl.read(spark, snapshot_id=root).count() == 5


def test_expire_keeps_recent_by_age(spark, tmp_path):
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=2)
    for i in range(4):
        tbl.append(_batch(spark, i * 10, 5))
    # cutoff in the distant past: nothing is old enough to expire
    assert tbl.expire_snapshots(keep_last=1, older_than_ms=0) == []
    assert len(tbl.history()) == 4
    # cutoff now: only keep_last floor survives
    import time as _time

    expired = tbl.expire_snapshots(
        keep_last=2, older_than_ms=int(_time.time() * 1000) + 10_000
    )
    assert len(expired) == 2 and len(tbl.history()) == 2


def test_table_info_cli(spark, tmp_path):
    """tools/table_info.py describes the table from metadata alone
    (no Spark): snapshot, lineage, refs, sink watermarks, stats
    coverage all surface in one JSON document."""
    import json
    import os
    import subprocess
    import sys as _sys

    from bdqc_spark.streaming.table_sink import make_table_appender

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tbl = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    tbl.append(_batch(spark, 0, 30))
    tbl.create_tag("v1")
    tbl.create_branch("staging")
    make_table_appender(tbl, name="ing")(_batch(spark, 30, 10), 0)

    proc = subprocess.run(
        [_sys.executable, "tools/table_info.py", "--table", str(tmp_path / "t")],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    info = json.loads(proc.stdout)
    assert info["summary"]["total_rows"] == 40
    assert info["n_data_files"] >= 4 and info["missing_data_files"] == 0
    assert info["data_bytes"] > 0
    assert info["file_stats_coverage"] == 1.0
    assert [h["operation"] for h in info["history"]] == ["append", "append"]
    assert "v1" in info["refs"]["tags"] and "staging" in info["refs"]["branches"]
    assert info["stream_sinks"]["ing"]["max_batch_id"] == 0
    assert info["summary"]["stream_sink"]["batch_id"] == 0

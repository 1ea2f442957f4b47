"""Incremental update semantics (reference entry point 2, SURVEY.md
§3.1): new snapshot → only NEW clips get profiled (append), models
refit over all, decisions recomputed over all."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from bdqc_spark.plans.pipeline import run_pipeline
from bdqc_spark.sources.iceberg import IcebergishTable
from bdqc_spark.synth.clips import generate_clips_df


def test_incremental_append_profiles_only_new_clips(spark, tmp_path, sorted_bucket_files):
    root = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    tbl = IcebergishTable(root, num_buckets=4)

    snap_a = tbl.append(generate_clips_df(spark, 400, seed=21))
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=snap_a)
    files_after_a = set(glob.glob(f"{out}/profiles/bucket=*/*.parquet"))
    assert spark.read.parquet(f"{out}/profiles").count() == 400

    # grow the corpus: 100 new clips → new snapshot
    snap_b = tbl.append(generate_clips_df(spark, 100, seed=21, start=400))
    assert snap_b != snap_a
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=snap_b)

    profiles = spark.read.parquet(f"{out}/profiles")
    assert profiles.count() == 500  # appended, no duplicates
    assert profiles.select("clip_id").distinct().count() == 500
    # old profile files untouched (incremental = append, not rewrite)
    files_after_b = set(glob.glob(f"{out}/profiles/bucket=*/*.parquet"))
    assert files_after_a <= files_after_b
    assert len(files_after_b) > len(files_after_a)
    # one clip_id-sorted profile file per bucket per run (the fresh
    # run's and the incremental run's), one decisions file per bucket
    prof_files = sorted_bucket_files(f"{out}/profiles")
    assert sorted(prof_files) == [0, 1, 2, 3]
    assert all(len(fs) == 2 for fs in prof_files.values()), prof_files
    dec_files = sorted_bucket_files(f"{out}/decisions")
    assert sorted(dec_files) == [0, 1, 2, 3]
    assert all(len(fs) == 1 for fs in dec_files.values()), dec_files

    # decisions recomputed over the full corpus (models refit over all)
    decisions = spark.read.parquet(f"{out}/decisions")
    assert decisions.count() == 500
    assert decisions.select("clip_id").distinct().count() == 500

    # third run with the same snapshot: pure no-op
    res = run_pipeline(spark, tbl.read(spark), out, input_snapshot=snap_b)
    assert res.processed_buckets == []
    assert set(glob.glob(f"{out}/profiles/bucket=*/*.parquet")) == files_after_b


def test_incremental_decisions_match_fresh_run(spark, tmp_path):
    """Incremental (A then +B) must produce the same decisions as a
    fresh run over the full corpus."""
    root1, root2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")

    t1 = IcebergishTable(root1, num_buckets=4)
    s_a = t1.append(generate_clips_df(spark, 300, seed=31))
    run_pipeline(spark, t1.read(spark), out1, input_snapshot=s_a)
    s_b = t1.append(generate_clips_df(spark, 100, seed=31, start=300))
    run_pipeline(spark, t1.read(spark), out1, input_snapshot=s_b)

    t2 = IcebergishTable(root2, num_buckets=4)
    t2.append(generate_clips_df(spark, 300, seed=31))
    t2.append(generate_clips_df(spark, 100, seed=31, start=300))
    run_pipeline(spark, t2.read(spark), out2)

    a = (
        spark.read.parquet(f"{out1}/decisions")
        .select("clip_id", "keep", "rule_hits", "scrubbed_transcript")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(f"{out2}/decisions")
        .select("clip_id", "keep", "rule_hits", "scrubbed_transcript")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_resume_after_crash_between_stages_refits_models(spark, tmp_path):
    """ADVICE r1 (high): an incremental run that crashes after stage A
    appended the new snapshot's profiles but before stage B refit the
    models must NOT reuse the previous snapshot's model table on
    resume — that would commit decisions from stale cohort stats."""
    root, out = str(tmp_path / "tbl"), str(tmp_path / "out")
    out_fresh = str(tmp_path / "out_fresh")
    tbl = IcebergishTable(root, num_buckets=4)

    s_a = tbl.append(generate_clips_df(spark, 200, seed=51))
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_a)

    s_b = tbl.append(generate_clips_df(spark, 200, seed=51, start=200))
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, tbl.read(spark), out, input_snapshot=s_b, fail_after_stage="profile"
        )
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_b)

    # models must be refit over all 400 profiles, not reused from the
    # 200-profile snapshot
    models = spark.read.parquet(f"{out}/cohort_models")
    n_total = (
        models.where(F.col("attribute") == "dur_ms")
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
    )
    assert n_total == 400

    # and the resumed run's decisions must equal a fresh run's
    t2 = IcebergishTable(str(tmp_path / "tbl2"), num_buckets=4)
    t2.append(generate_clips_df(spark, 200, seed=51))
    t2.append(generate_clips_df(spark, 200, seed=51, start=200))
    run_pipeline(spark, t2.read(spark), out_fresh)
    a = (
        spark.read.parquet(f"{out}/decisions")
        .select("clip_id", "keep", "rule_hits")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(f"{out_fresh}/decisions")
        .select("clip_id", "keep", "rule_hits")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_time_travel_and_manifest_isolation(spark, tmp_path):
    """read() is manifest-driven: snapshot pinning gives time travel,
    and files never committed to a manifest (a crashed append's
    orphans) are invisible — directory listing would leak them."""
    import os

    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    root = str(tmp_path / "tt_tbl")
    tbl = IcebergishTable(root, num_buckets=4)
    s1 = tbl.append(generate_clips_df(spark, 100, seed=3))
    s2 = tbl.append(generate_clips_df(spark, 60, seed=5).withColumn(
        "clip_id", F.concat(F.lit("b2_"), F.col("clip_id"))
    ))

    assert tbl.read(spark).count() == 160
    assert tbl.read(spark, snapshot_id=s1).count() == 100  # time travel
    assert tbl.read(spark, snapshot_id=s2).count() == 160

    # incremental: exactly the rows committed between s1 and s2
    inc = tbl.read_incremental(spark, s1)
    assert inc.count() == 60
    assert all(r.clip_id.startswith("b2_") for r in inc.select("clip_id").collect())
    # no-op increment and full-read degradation
    assert tbl.read_incremental(spark, s2).count() == 0
    assert tbl.read_incremental(spark, None).count() == 160

    # orphan parquet (crashed append: data written, manifest never
    # committed) must be invisible to manifest-driven readers
    stray_dir = os.path.join(root, "data", "bucket=0")
    stray = tbl.read(spark, buckets=[0]).limit(5)
    stray.write.mode("append").parquet(os.path.join(str(tmp_path), "_stray"))
    import glob as _glob
    import shutil as _shutil

    src = _glob.glob(os.path.join(str(tmp_path), "_stray", "*.parquet"))[0]
    _shutil.copy(src, os.path.join(stray_dir, "part-orphan.parquet"))
    assert tbl.read(spark).count() == 160  # still the committed view
    assert spark.read.parquet(os.path.join(root, "data")).count() > 160  # the leak a listing scan would see

    # history walks the parent chain, newest first
    hist = tbl.history()
    assert [h["snapshot_id"] for h in hist] == [s2, s1]
    assert hist[0]["total_rows"] == 160 and hist[1]["total_rows"] == 100

    # manifest-level pruning returns only the requested buckets
    pruned = tbl.read(spark, buckets=[1, 2])
    assert set(r.bucket for r in pruned.select("bucket").distinct().collect()) <= {1, 2}


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column evolution: a later append carries a new
    column; merge_schema reads reconcile — old files surface it as
    null, and time-traveling to the pre-evolution snapshot shows the
    old schema."""
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    tbl = IcebergishTable(str(tmp_path / "evo_tbl"), num_buckets=4)
    s1 = tbl.append(generate_clips_df(spark, 80, seed=7))
    evolved = generate_clips_df(spark, 40, seed=9).withColumn(
        "clip_id", F.concat(F.lit("v2_"), F.col("clip_id"))
    ).withColumn("speaker_id", F.xxhash64("clip_id") % 100)
    tbl.append(evolved)

    got = tbl.read(spark, merge_schema=True)
    assert "speaker_id" in got.columns
    assert got.count() == 120
    assert got.where(F.col("speaker_id").isNull()).count() == 80  # pre-evolution rows
    assert got.where(F.col("speaker_id").isNotNull()).count() == 40
    # the pre-evolution snapshot has no such column
    assert "speaker_id" not in tbl.read(spark, snapshot_id=s1).columns


def _rows(spark, path, cols):
    return (
        spark.read.parquet(path).select(*cols).toPandas().sort_values("clip_id").reset_index(drop=True)
    )


_PROFILE_COLS = ["clip_id", "bucket", "sr_hz", "dur_ms", "codec", "transcript", "audio", "text", "lang"]
_DECISION_COLS = ["clip_id", "bucket", "keep", "rule_hits", "scrubbed_transcript"]


def _refuse_jvm_transport(monkeypatch):
    """Make stage A's JVM transport, and any driver footer read, raise:
    a run that completes took the direct path without opening a data
    file on the driver."""
    import pyarrow.parquet as pq

    import bdqc_spark.plans.pipeline as pipeline

    def refuse(*_args, **_kw):
        raise AssertionError("stage A left the direct path")

    monkeypatch.setattr(pipeline, "profile_clips", refuse)
    monkeypatch.setattr(pq, "read_schema", refuse)


@pytest.fixture(scope="module")
def grown(spark, tmp_path_factory):
    """A 4-bucket table QC'd at 300 clips (`base_out`, snapshot s_a),
    then grown by 100 clips (s_b). Exact models, so decisions do not
    depend on the profile layout or history."""
    d = tmp_path_factory.mktemp("grown")
    tbl = IcebergishTable(str(d / "tbl"), num_buckets=4)
    s_a = tbl.append(generate_clips_df(spark, 300, seed=61))
    run_pipeline(spark, tbl.read(spark), str(d / "base_out"), input_snapshot=s_a, exact_models=True)
    s_b = tbl.append(generate_clips_df(spark, 100, seed=61, start=300))
    return {"tbl": tbl, "s_b": s_b, "base_out": str(d / "base_out")}


def test_incremental_direct_path_resumes_and_equals_jvm_path(spark, grown, tmp_path, monkeypatch):
    """An incremental run over a plain table scan profiles the new
    clips worker-side, key-filtered in the task: no JVM transport and
    no driver footer read. It is killed after stage A's profiles
    append committed but before its lineage record, so the resumed
    run finds every bucket pending with the new rows already in
    profiles/ and must key-filter them out. The result has no
    duplicate clip_id, and its profiles/ and decisions/ equal, row for
    row, the JVM path's (a filtered frame: JVM scan, left-anti join,
    repartition) from the same base out dir."""
    import bdqc_spark.plans.pipeline as pipeline

    tbl, s_b = grown["tbl"], grown["s_b"]
    out, out_jvm = str(tmp_path / "out"), str(tmp_path / "out_jvm")
    shutil.copytree(grown["base_out"], out)
    shutil.copytree(grown["base_out"], out_jvm)
    run_pipeline(
        spark, tbl.read(spark).where(F.lit(True)), out_jvm, input_snapshot=s_b,
        exact_models=True, all_buckets=tbl.bucket_ids(),
    )

    real = pipeline.lineage_table

    def crash_at_profiled(buckets, snapshot, attempt, started_at, status):
        if status == "profiled":
            raise RuntimeError("killed before the profiled record")
        return real(buckets, snapshot, attempt, started_at, status)

    with monkeypatch.context() as m:
        _refuse_jvm_transport(m)
        m.setattr(pipeline, "lineage_table", crash_at_profiled)
        with pytest.raises(RuntimeError, match="killed before"):
            run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_b, exact_models=True)
    assert spark.read.parquet(f"{out}/profiles").count() == 400
    with monkeypatch.context() as m:
        _refuse_jvm_transport(m)
        run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_b, exact_models=True)

    for d, cols in (("profiles", _PROFILE_COLS), ("decisions", _DECISION_COLS)):
        a, b = _rows(spark, f"{out}/{d}", cols), _rows(spark, f"{out_jvm}/{d}", cols)
        assert len(a) == 400 and a.clip_id.is_unique, d
        assert a.equals(b), d


def test_rerun_after_rebucket_profiles_no_clip_twice(spark, grown, tmp_path):
    """A rebucket moves clip ids between buckets. A run over the
    rebucketed snapshot into an out dir of the old layout must profile
    only the clips it lacks (profiles/ keeps one row per clip_id), and
    its (clip_id, keep) equals a fresh run's over that snapshot."""
    root, out, out_fresh = (str(tmp_path / n) for n in ("tbl", "out", "out_fresh"))
    shutil.copytree(grown["tbl"].root, root)
    shutil.copytree(grown["base_out"], out)
    tbl = IcebergishTable(root, num_buckets=4)
    s_c = tbl.rebucket(spark, 8)
    assert tbl.bucket_ids() == list(range(8))
    for o in (out, out_fresh):
        run_pipeline(
            spark, tbl.read(spark), o, input_snapshot=s_c, exact_models=True,
            all_buckets=tbl.bucket_ids(),
        )

    prof = _rows(spark, f"{out}/profiles", ["clip_id"])
    assert len(prof) == 400 and prof.clip_id.is_unique
    a = _rows(spark, f"{out}/decisions", ["clip_id", "keep"])
    b = _rows(spark, f"{out_fresh}/decisions", ["clip_id", "keep"])
    assert a.equals(b)

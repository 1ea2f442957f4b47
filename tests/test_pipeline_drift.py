"""Stage B2: drift monitoring wired into the pipeline (r4 VERDICT
ask #7). An incremental run that refits the cohort models compares
them against the PREVIOUS snapshot and appends a `drift` state table;
fresh runs and resume no-ops pay nothing.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bdqc_spark.plans.pipeline import run_pipeline
from bdqc_spark.synth.clips import generate_clips_df


def _shifted(spark, n, start):
    """New ingest source whose pcm_s16le clips run 3x longer — a real
    upstream distribution shift (same trick as tests/test_drift.py)."""
    b = generate_clips_df(spark, n, seed=11, start=start)
    return b.withColumn(
        "dur_ms",
        F.when(F.col("codec") == "pcm_s16le", F.col("dur_ms") * 3).otherwise(
            F.col("dur_ms")
        ),
    )


def _bucketed(df):
    return df.withColumn("bucket", F.pmod(F.xxhash64("clip_id"), F.lit(8)).cast("int"))


BUCKETS = list(range(8))


def test_fresh_run_writes_no_drift(spark, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(
        spark,
        _bucketed(generate_clips_df(spark, 400, seed=11)),
        out,
        input_snapshot="snap-1",
        all_buckets=BUCKETS,
    )
    assert res.drift_flagged is None
    assert not os.path.isdir(f"{out}/drift")


def test_shifted_increment_flags_the_shifted_attribute(spark, tmp_path):
    out = str(tmp_path / "out")
    a = generate_clips_df(spark, 600, seed=11)
    run_pipeline(spark, _bucketed(a), out, input_snapshot="snap-1", all_buckets=BUCKETS)

    # incremental delivery: A plus a 3x-bigger SHIFTED batch → the
    # refit cohort medians move; stage B2 must flag dur_ms for the
    # shifted codec against the snap-1 models
    combined = a.unionByName(_shifted(spark, 1800, start=600))
    res = run_pipeline(
        spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS
    )
    assert res.drift_flagged is not None and res.drift_flagged >= 1
    assert "B2_drift" in res.stage_seconds

    d = spark.read.parquet(f"{out}/drift")
    flagged = d.where(F.col("drifted")).collect()
    assert any(
        r.attribute == "dur_ms" and r.codec == "pcm_s16le" for r in flagged
    ), [(r.kind, r.codec, r.attribute, r.metric) for r in flagged]
    # provenance columns present for the monitoring consumer
    row = flagged[0]
    assert row.run_id == res.run_id and row.input_snapshot == "snap-2"


def test_unshifted_increment_stays_under_noise_floor(spark, tmp_path):
    out = str(tmp_path / "out")
    a = generate_clips_df(spark, 800, seed=11)
    run_pipeline(spark, _bucketed(a), out, input_snapshot="snap-1", all_buckets=BUCKETS)
    combined = a.unionByName(generate_clips_df(spark, 800, seed=11, start=800))
    res = run_pipeline(
        spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS
    )
    # drift WAS computed (table exists) but nothing moved
    assert res.drift_flagged == 0
    d = spark.read.parquet(f"{out}/drift")
    assert d.count() > 0
    assert d.where(F.col("drifted")).count() == 0


def test_resume_noop_does_not_recompute_drift(spark, tmp_path):
    out = str(tmp_path / "out")
    a = generate_clips_df(spark, 400, seed=11)
    run_pipeline(spark, _bucketed(a), out, input_snapshot="snap-1", all_buckets=BUCKETS)
    combined = a.unionByName(generate_clips_df(spark, 400, seed=11, start=400))
    run_pipeline(spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS)
    n_files = len(glob.glob(f"{out}/drift/*.parquet"))
    assert n_files == 1
    # same snapshot again: models fast path, no new drift comparison
    res = run_pipeline(
        spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS
    )
    assert res.processed_buckets == []
    assert res.drift_flagged is None
    assert len(glob.glob(f"{out}/drift/*.parquet")) == n_files


def test_html_report_surfaces_drift(spark, tmp_path):
    from bdqc_spark.plans.report import write_html_report

    out = str(tmp_path / "out")
    a = generate_clips_df(spark, 600, seed=11)
    run_pipeline(spark, _bucketed(a), out, input_snapshot="snap-1", all_buckets=BUCKETS)
    combined = a.unionByName(_shifted(spark, 1800, start=600))
    run_pipeline(spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS)

    path = str(tmp_path / "report.html")
    write_html_report(out, path)
    html_doc = open(path).read()
    assert "Model drift vs previous snapshot" in html_doc
    assert "dur_ms" in html_doc

    # fresh-run report (no drift dir) renders without the section
    out2 = str(tmp_path / "out2")
    run_pipeline(
        spark,
        _bucketed(generate_clips_df(spark, 300, seed=11)),
        out2,
        input_snapshot="snap-1",
        all_buckets=BUCKETS,
    )
    path2 = str(tmp_path / "report2.html")
    write_html_report(out2, path2)
    assert "Model drift" not in open(path2).read()


def test_killed_state_writer_leaves_nothing_readers_see(spark, tmp_path, monkeypatch):
    """A state writer killed mid-file leaves a truncated tmp file
    behind. In drift/, lineage/, metrics/ and cohort_models/ of a
    finished out dir, that file must be invisible: the HTML report
    (reads of metrics/ and drift/) and a no-op re-run (reads of
    lineage/ and cohort_models/) both still succeed, and the in-place
    models snapshot is intact."""
    import pyarrow.parquet as pq

    from bdqc_spark.plans.pipeline import MODELS_FILE, read_state, write_state
    from bdqc_spark.plans.report import write_html_report

    out = str(tmp_path / "out")
    a = generate_clips_df(spark, 200, seed=11)
    run_pipeline(spark, _bucketed(a), out, input_snapshot="snap-1", all_buckets=BUCKETS)
    combined = a.unionByName(_shifted(spark, 200, start=200))
    run_pipeline(spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS)
    models_before = read_state(f"{out}/cohort_models")

    class Killed(Exception):
        pass

    real_write = pq.write_table

    def killed_mid_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise Killed

    for state, name in (("drift", None), ("lineage", None), ("metrics", None),
                        ("cohort_models", MODELS_FILE)):
        d = f"{out}/{state}"
        before = set(os.listdir(d))
        table = read_state(d)
        with monkeypatch.context() as m:
            m.setattr(pq, "write_table", killed_mid_write)
            with pytest.raises(Killed):
                write_state(d, table, name)
        assert len(set(os.listdir(d)) - before) == 1, state

    assert read_state(f"{out}/cohort_models").equals(models_before)
    doc = open(write_html_report(out, str(tmp_path / "report.html"))).read()
    assert "Model drift vs previous snapshot" in doc
    assert "<td>400</td>" in doc  # rows_seen: the latest record per bucket
    res = run_pipeline(
        spark, _bucketed(combined), out, input_snapshot="snap-2", all_buckets=BUCKETS
    )
    assert res.processed_buckets == []

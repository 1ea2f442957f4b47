"""Ring-3 golden pipeline tests: Spark pipeline vs single-node oracle
(F1 ≥ 0.99 keep/drop, exact scrubbed-transcript match), checkpoint/
resume idempotence, Iceberg-shaped table snapshots."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from bdqc_spark.plans.pipeline import run_pipeline
from bdqc_spark.sources.iceberg import IcebergishTable
from bdqc_spark.synth.clips import generate_clips_df, generate_clips_pandas
from bdqc_spark.synth.oracle import oracle_labels

N = 1500
SEED = 42


@pytest.fixture(scope="module")
def clips_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clips_tbl"))
    shutil.rmtree(root, ignore_errors=True)
    tbl = IcebergishTable(root, num_buckets=8)
    tbl.append(generate_clips_df(spark, N, seed=SEED))
    return tbl


@pytest.fixture(scope="module")
def golden():
    return (
        oracle_labels(generate_clips_pandas(N, seed=SEED))
        .sort_values("clip_id")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def pipeline_out(spark, clips_table, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    run_pipeline(spark, clips_table.read(spark), out)
    return out


def _decisions(spark, out):
    return (
        spark.read.parquet(f"{out}/decisions")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )


def test_generator_determinism(spark):
    a = generate_clips_pandas(5, seed=SEED)
    b = generate_clips_df(spark, 5, seed=SEED, include_labels=True).toPandas()
    b = b.sort_values("clip_id").reset_index(drop=True)
    for col in ("clip_id", "sr_hz", "dur_ms", "codec", "transcript"):
        assert list(a[col]) == list(b[col])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))


def test_keep_drop_f1_vs_oracle(spark, pipeline_out, golden):
    dec = _decisions(spark, pipeline_out)
    m = dec.merge(golden, on="clip_id", suffixes=("_e", "_g"))
    assert len(m) == N
    tp = ((~m.keep_e) & (~m.keep_g)).sum()
    fp = ((~m.keep_e) & m.keep_g).sum()
    fn = (m.keep_e & (~m.keep_g)).sum()
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99"


def test_scrubbed_transcript_exact_match(spark, pipeline_out, golden):
    dec = _decisions(spark, pipeline_out)
    m = dec.merge(golden, on="clip_id", suffixes=("_e", "_g"))
    both_keep = m[m.keep_e & m.keep_g]
    assert len(both_keep) > 0
    mismatch = both_keep[both_keep.scrubbed_transcript_e != both_keep.scrubbed_transcript_g]
    assert len(mismatch) == 0, mismatch.head(3).to_dict("records")


def test_cross_modal_speech_rate_rule(spark, pipeline_out, golden):
    """robust_z.log_cps (the one rule that crosses modalities): planted
    transcript/audio pairing errors (class I) fire it, clean rows never
    do, and engine and oracle agree row-for-row outside class H (H sits
    in the threshold band by design — rules.py CPS_LOG_Z — but is
    keep=false via audio.low_speech on both sides regardless)."""
    clips = generate_clips_pandas(N, seed=SEED)[["clip_id", "anomaly"]]
    dec = _decisions(spark, pipeline_out)
    m = (
        dec.merge(golden, on="clip_id", suffixes=("_e", "_g"))
        .merge(clips, on="clip_id")
    )
    fired_e = m.rule_hits_e.apply(lambda h: "robust_z.log_cps" in list(h))
    fired_g = m.rule_hits_g.apply(lambda h: "robust_z.log_cps" in list(h))
    not_h = m.anomaly != "H"
    assert (fired_e[not_h] == fired_g[not_h]).all(), m[not_h & (fired_e != fired_g)][
        ["clip_id", "anomaly"]
    ].head()
    clean = m.anomaly == ""
    assert not fired_e[clean].any() and not fired_g[clean].any()
    is_i = m.anomaly == "I"
    assert is_i.sum() > 0, "fixture has no class-I rows at this N/seed"
    assert fired_g[is_i].mean() >= 0.5, fired_g[is_i].mean()


def test_metrics_and_lineage_written(spark, pipeline_out):
    metrics = spark.read.parquet(f"{pipeline_out}/metrics").toPandas()
    assert metrics.rows_seen.sum() == N
    dec = spark.read.parquet(f"{pipeline_out}/decisions")
    assert metrics.rows_dropped.sum() == dec.where(~F.col("keep")).count()
    lineage = spark.read.parquet(f"{pipeline_out}/lineage").toPandas()
    assert set(lineage.status) == {"profiled", "committed", "models_fit_approx"}
    # 8 buckets + the -1 sentinel row of the models_fit record
    assert lineage.partition_id.nunique() == 9
    assert set(lineage[lineage.status == "models_fit_approx"].partition_id) == {-1}


def test_resume_after_failure_is_identical(spark, clips_table, pipeline_out, tmp_path_factory):
    out2 = str(tmp_path_factory.mktemp("pipe_resume"))
    clips = clips_table.read(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, clips, out2, fail_after_stage="profile")
    # resume: must complete and produce decisions identical to the
    # uninterrupted run (content-level, deterministic ordering)
    run_pipeline(spark, clips, out2)
    a = _decisions(spark, pipeline_out)
    b = _decisions(spark, out2)
    assert a.equals(b)
    # second lineage has both attempts' records
    lineage = spark.read.parquet(f"{out2}/lineage").toPandas()
    assert (lineage.status == "profiled").sum() == 8


def test_rerun_noop_after_completion(spark, clips_table, pipeline_out, spark_jobs):
    # with the manifest's bucket list, a no-op re-run submits no Spark
    # job: lineage and the models snapshot are driver-side reads, and
    # profiles/ is read only when B refits or C has pending buckets
    with spark_jobs() as jobs:
        res = run_pipeline(
            spark, clips_table.read(spark), pipeline_out, all_buckets=clips_table.bucket_ids()
        )
    assert res.processed_buckets == []
    assert jobs == []


def test_iceberg_snapshot_and_pruning(spark, clips_table):
    snap = clips_table.snapshot()
    assert snap["summary"]["total_rows"] == N
    assert snap["num_buckets"] == 8
    pruned = clips_table.read(spark, buckets=[0, 1])
    assert set(r.bucket for r in pruned.select("bucket").distinct().collect()) <= {0, 1}
    # appending creates a new snapshot chained to the parent
    prev_id = snap["snapshot_id"]
    clips_table.append(generate_clips_df(spark, 50, seed=777))
    snap2 = clips_table.snapshot()
    assert snap2["parent_snapshot_id"] == prev_id
    assert snap2["summary"]["total_rows"] == N + 50


def test_langid_accuracy_on_corpus(spark, pipeline_out, golden):
    # lang.pred must match the generator's language on ≥95% of clean rows
    prof = spark.read.parquet(f"{pipeline_out}/profiles").select(
        "clip_id", F.col("lang.pred").alias("pred")
    ).toPandas()
    m = prof.merge(golden[["clip_id", "lang_true"]], on="clip_id")
    clean = m  # includes anomalies; they are <10% and mostly text-preserving
    acc = (clean.pred == clean.lang_true).mean()
    assert acc >= 0.9


def test_null_categorical_attr_does_not_crash_or_flag(spark):
    """ADVICE r2: a null sr_hz used to become a null map key in
    map_from_entries (runtime error) during stage-B model fitting.
    Nulls are now excluded from the histogram and never fire the
    categorical rule (no frequency evidence) — mirrored in decide()
    and explain(). A null text.n_tokens (n_tokens is NULL-in/NULL-out)
    fires neither text.empty nor robust_z.n_tokens, as NaN fires
    neither in the oracle (synth/oracle.py)."""
    from bdqc_spark.functions.text import n_tokens
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.explain import explain_decisions
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips

    assert spark.range(1).select(n_tokens(F.lit(None).cast("string"))).first()[0] is None

    clips = generate_clips_df(spark, 300, seed=23)
    h = F.xxhash64("clip_id") % 10
    profiles = (
        profile_clips(clips)
        .withColumn("sr_hz", F.when(h == 0, F.lit(None)).otherwise(F.col("sr_hz")))
        .withColumn(
            "text",
            F.col("text").withField(
                "n_tokens", F.when(h == 1, F.lit(None)).otherwise(F.col("text.n_tokens"))
            ),
        )
    )
    models = fit_cohort_models(profiles)
    hist_rows = [r for r in models if r.attribute == "sr_hz"]
    assert hist_rows, "categorical model rows missing"
    for r in hist_rows:
        assert None not in r.histogram  # no null keys fitted
    dec = decide(profiles, models).toPandas()
    null_ids = set(
        r.clip_id for r in profiles.where(F.col("sr_hz").isNull()).select("clip_id").collect()
    )
    assert null_ids, "fixture produced no null sr_hz rows"
    flagged = dec[dec.rule_hits.map(lambda h: "categorical.rare_sr" in list(h))]
    assert null_ids.isdisjoint(set(flagged.clip_id))
    exp = explain_decisions(profiles, models).toPandas()
    cat = exp[exp.rule_id == "categorical.rare_sr"]
    assert null_ids.isdisjoint(set(cat.clip_id))

    null_tok = set(
        r.clip_id
        for r in profiles.where(F.col("text.n_tokens").isNull()).select("clip_id").collect()
    )
    assert null_tok, "fixture produced no null n_tokens rows"
    got = exp.groupby("clip_id")["rule_id"].apply(sorted).to_dict()
    for r in dec[dec.clip_id.isin(null_tok)].itertuples():
        assert got.get(r.clip_id, []) == list(r.rule_hits), r.clip_id
        assert not {"text.empty", "robust_z.n_tokens"} & set(r.rule_hits), r.clip_id


def test_pipeline_on_tiny_corpus_below_cohort_support(spark, tmp_path_factory):
    """Below MIN_COHORT_N no deviation/categorical rule may fire (no
    models), static rules still apply, and the run completes with
    consistent metrics — the cold-start corpus case."""
    import shutil as _sh

    root = str(tmp_path_factory.mktemp("tiny_tbl"))
    _sh.rmtree(root, ignore_errors=True)
    tbl = IcebergishTable(root, num_buckets=2)
    tbl.append(generate_clips_df(spark, 12, seed=9))
    out = str(tmp_path_factory.mktemp("tiny_out"))
    run_pipeline(spark, tbl.read(spark), out)
    dec = _decisions(spark, out)
    assert len(dec) == 12
    fired = {r for hits in dec.rule_hits for r in hits}
    assert not any(r.startswith(("robust_z.", "categorical.")) for r in fired)
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert metrics.rows_seen.sum() == 12
    assert metrics.rows_dropped.sum() == (~dec.keep).sum()
    # oracle agrees end-to-end even at this size
    golden_tiny = oracle_labels(generate_clips_pandas(12, seed=9)).sort_values(
        "clip_id"
    )
    assert list(dec.sort_values("clip_id").keep) == list(golden_tiny.keep)


# The metrics schema as Spark wrote it before metrics moved to the
# driver-side state writer; out dirs hold files of both writers.
METRICS_DDL = (
    "partition_id int, rows_seen bigint, rows_dropped bigint, "
    "dropped_by_rule map<string,bigint>, scrub_edits bigint, wall_ms int, "
    "run_id string, written_at bigint, attempt int"
)


def test_metrics_files_of_both_writers_read_as_one_table(spark, tmp_path):
    """A metrics/ directory that holds a Spark-written file and a
    write_state file reads as one table with the pinned schema, and
    the HTML report totals both."""
    import glob

    from pyspark.sql.types import _parse_datatype_string

    from bdqc_spark.plans.pipeline import metrics_table, write_state
    from bdqc_spark.plans.report import write_html_report

    out = str(tmp_path / "out")
    metrics_dir = f"{out}/metrics"
    old = [(0, 5, 2, {"audio.silent": 2}, 1, 10, "old", 1, 1)]
    spark.createDataFrame(old, METRICS_DDL).coalesce(1).write.mode("append").parquet(metrics_dir)
    decisions = spark.createDataFrame(
        [(1, True, [], 3), (1, False, ["audio.silent", "text.empty"], 0), (1, False, ["text.empty"], 0)],
        "bucket int, keep boolean, rule_hits array<string>, n_scrub_edits int",
    )
    table = metrics_table(decisions, "bucket", run_id="new", wall_ms=7, attempt=1)
    # rule order, zero counts left out
    assert table.column("dropped_by_rule").to_pylist() == [[("audio.silent", 1), ("text.empty", 2)]]
    write_state(metrics_dir, table)

    pinned = _parse_datatype_string(METRICS_DDL)
    files = glob.glob(f"{metrics_dir}/*.parquet")
    assert len(files) == 2
    for f in files:
        assert spark.read.parquet(f).schema == pinned, f
    assert spark.read.parquet(metrics_dir).schema == pinned

    path = str(tmp_path / "report.html")
    doc = open(write_html_report(out, path)).read()
    # rows_seen, rows_dropped, drop_rate, scrub_edits over both files
    assert "<tr><td>8</td><td>4</td><td>0.5000</td><td>4</td></tr>" in doc
    assert "<tr><td>audio.silent</td><td>3</td></tr>" in doc
    assert "<tr><td>text.empty</td><td>2</td></tr>" in doc

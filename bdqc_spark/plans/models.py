"""Stage 2/3 — cohort model fitting (SURVEY.md §3.2 stages 2-3).

bdqc analogue: collateSignatures + calcModels (lib/BDQC/KB.pm →
DataModel/Scalar.pm, reconstructed): per (fileType, attribute)
robust center+spread. Here the cohort is (codec, lang_pred) and the
fit is two shuffle-aggregated passes (quantiles, then MAD) via
operators.stats.fit_numeric_models. Output is the `cohort_models`
state table (FIXTURES.md §3) — a few hundred rows regardless of
input scale, which is why scoring can broadcast it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from bdqc_spark.operators.stats import fit_numeric_models
from bdqc_spark.plans.rules import CPS_MIN_DUR_MS

COHORT_COLS = ["codec", "lang_pred"]

# Attributes modeled per cohort (robust-z rules read these). ppl is
# modeled in log space — see plans/rules.py PPL_LOG_Z; log_cps is the
# cross-modal speech-rate axis — see plans/rules.py CPS_LOG_Z.
MODEL_ATTRS = ["dur_ms", "log_cps", "log_ppl", "rms", "n_tokens"]


def log_cps_column(
    pcm_ok: Column, n_chars: Column, speech_ratio: Column, dur_ms_decoded: Column
) -> Column:
    """ln(transcript chars / seconds of VAD speech) — the cross-modal
    speech-rate attribute. NULL (no evidence, excluded from fit and
    never fired on) when the clip failed to decode, is shorter than
    CPS_MIN_DUR_MS, has no detected speech, or has an empty/null
    transcript. The single-node oracle (synth/oracle.py) computes the
    bit-identical float64 formula with the same operand order."""
    speech_sec = speech_ratio * dur_ms_decoded.cast("double") / F.lit(1000.0)
    return F.when(
        pcm_ok
        & (dur_ms_decoded >= F.lit(CPS_MIN_DUR_MS))
        & (speech_sec > F.lit(0.0))
        & (n_chars > F.lit(0)),
        F.log(n_chars.cast("double") / speech_sec),
    )

# Categorical attributes modeled as within-cohort value histograms
# (bdqc DataModel for string attributes: rare values are suspects).
CATEGORICAL_ATTRS = ["sr_hz"]


def _flat_attrs(profiles: DataFrame) -> DataFrame:
    return profiles.select(
        F.col("codec"),
        F.col("lang.pred").alias("lang_pred"),
        F.col("dur_ms").cast("double").alias("dur_ms"),
        log_cps_column(
            F.col("audio.pcm_ok"),
            F.col("text.n_chars"),
            F.col("audio.speech_ratio"),
            F.col("audio.dur_ms_decoded"),
        ).alias("log_cps"),
        # +inf perplexities (empty transcripts) would poison quantiles.
        F.log(F.when(F.col("lang.ppl") < float("inf"), F.col("lang.ppl"))).alias("log_ppl"),
        F.col("audio.rms").alias("rms"),
        F.col("text.n_tokens").cast("double").alias("n_tokens"),
        F.col("sr_hz").cast("string").alias("sr_hz"),
    )


def _fit(flat: DataFrame, exact: bool, accuracy: int) -> DataFrame:
    numeric = fit_numeric_models(
        flat, COHORT_COLS, MODEL_ATTRS, exact=exact, accuracy=accuracy
    ).withColumn("histogram", F.lit(None).cast("map<string,bigint>"))

    # Categorical rows: one per (cohort, attr) with the full value
    # histogram (exact counts — the histogram is KB-sized per cohort).
    cats = []
    for a in CATEGORICAL_ATTRS:
        # Null attribute values are excluded from the histogram: a null
        # map key is a runtime error in map_from_entries, and a row
        # with no value carries no frequency evidence. decide()/
        # explain() mirror this by not firing the categorical rule on
        # null values (same convention as unmodeled deviation rows).
        counts = (
            flat.where(F.col(a).isNotNull())
            .groupBy(*COHORT_COLS, a)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        cats.append(
            counts.groupBy(*COHORT_COLS).agg(
                F.lit(a).alias("attribute"),
                F.sum("cnt").alias("n"),
                F.map_from_entries(
                    F.collect_list(F.struct(F.col(a).alias("key"), F.col("cnt").alias("value")))
                ).alias("histogram"),
            )
        )
    out = numeric
    for c in cats:
        out = out.unionByName(c, allowMissingColumns=True)
    return out


def fit_cohort_models(
    profiles: DataFrame, exact: bool = False, accuracy: int = 2000
) -> DataFrame:
    """profiles → cohort_models(codec, lang_pred, attribute, n, median,
    mad, p01, p25, p75, p99, mean, std, histogram).

    accuracy=2000 → quantile rank error ≤ 0.05%: the deviation rules
    sit at robust-z 6 with anomaly classes injected at z ≳ 25 and the
    clean tail below z ≈ 5 (FIXTURES.md), so sketch noise is orders of
    magnitude inside the decision margin — while the sketch merge cost
    on the serial path drops ~3× vs accuracy=10000 (BENCH.md §3).
    """
    return _fit(_flat_attrs(profiles), exact, accuracy)


def collect_cohort_models(
    profiles: DataFrame, exact: bool = False, accuracy: int = 2000, *, assume_cached: bool
) -> list:
    """Fit and collect the KB-sized model table in one pass over the
    profiles: the flat 8-scalar projection is persisted so the three
    aggregation branches (wide quantiles, MAD, categorical histogram)
    scan the profiles table ONCE, then unpersisted.

    Pass ``assume_cached=True`` when `profiles` is itself already
    materialized (the pipeline's fresh-run path hands in the
    localCheckpoint'ed stage-A output): the branches then read those
    blocks directly — persisting a projection OF it wastes storage
    memory, adds a materialization pass, and (for CacheManager
    caches) trips Spark's nested InMemoryRelation canonicalization
    (`key not found: <attr>`)."""
    from pyspark import StorageLevel

    flat = _flat_attrs(profiles)
    if not assume_cached:
        flat = flat.persist(StorageLevel.MEMORY_ONLY)
    try:
        return _fit(flat, exact, accuracy).collect()
    finally:
        if not assume_cached:
            flat.unpersist()

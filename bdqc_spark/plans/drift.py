"""Snapshot-to-snapshot model drift (bdqc's temporal QC, SURVEY.md
§1: the reference's core loop is "profile today's delivery, compare
against the accumulated KB, flag what moved" — lib/BDQC/KB.pm keeps
per-attribute models across runs precisely so a new batch can be
scored against history).

Here the KB is the `cohort_models` state table, one per pipeline run
/ table snapshot (sources/iceberg.py time travel reads any historic
one). This operator compares two of them:

- numeric attributes: drift z = operators.stats.robust_z(median_new,
  median_old, mad_old) — the same function the per-row rules score
  with, applied to the model itself; plus the cohort-size ratio.
- categorical attributes: total-variation distance between the two
  normalized value histograms (0.5 * sum |p_new - p_old|), computed
  with map_entries/explode — no Python.

Execution shape: both inputs are KB-sized model tables, so the join
is a broadcast and the whole comparison is Catalyst expressions; at
10^12-clip scale this runs in milliseconds regardless of corpus
size because it never touches the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdqc_spark.operators.stats import robust_z
from bdqc_spark.plans.models import COHORT_COLS

DRIFT_Z = 3.0
DRIFT_TVD = 0.10
# Below this support on either side a drift verdict is noise, same
# rationale as rules.MIN_COHORT_N for per-row deviation scoring.
DRIFT_MIN_N = 30


def numeric_drift(
    models_old: DataFrame,
    models_new: DataFrame,
    z_threshold: float = DRIFT_Z,
    min_n: int = DRIFT_MIN_N,
) -> DataFrame:
    """Two cohort_models snapshots → one row per (cohort, attribute)
    present in either, with the robust drift score. Cohorts that
    appear or disappear between snapshots surface with null old/new
    stats and drifted = null (structural change, not measured drift).
    """
    o = models_old.select(
        *COHORT_COLS,
        "attribute",
        F.col("n").alias("n_old"),
        F.col("median").alias("median_old"),
        F.col("mad").alias("mad_old"),
    )
    nw = models_new.select(
        *COHORT_COLS,
        "attribute",
        F.col("n").alias("n_new"),
        F.col("median").alias("median_new"),
        F.col("mad").alias("mad_new"),
    )
    # No broadcast hint: Spark cannot broadcast a full-outer build
    # side; both inputs are KB-sized model tables so the shuffle is
    # a few KB regardless of corpus size.
    j = o.join(nw, on=[*COHORT_COLS, "attribute"], how="full_outer")
    z = robust_z(F.col("median_new"), F.col("median_old"), F.col("mad_old"))
    measured = (
        F.col("median_old").isNotNull()
        & F.col("median_new").isNotNull()
        & (F.col("n_old") >= min_n)
        & (F.col("n_new") >= min_n)
    )
    return j.select(
        *COHORT_COLS,
        "attribute",
        "n_old",
        "n_new",
        "median_old",
        "median_new",
        "mad_old",
        F.when(measured, z).alias("drift_z"),
        F.when(measured, z > F.lit(z_threshold)).alias("drifted"),
    )


def categorical_drift(
    models_old: DataFrame,
    models_new: DataFrame,
    attribute: str,
    tvd_threshold: float = DRIFT_TVD,
    min_n: int = DRIFT_MIN_N,
) -> DataFrame:
    """Histogram total-variation distance per cohort for one
    categorical attribute. TVD in [0, 1]: 0 = identical value mix,
    1 = disjoint supports."""

    def hist_long(models: DataFrame, side: str) -> DataFrame:
        return (
            models.where(F.col("attribute") == attribute)
            .select(
                *COHORT_COLS,
                F.col("n").alias(f"n_{side}"),
                F.explode(F.map_entries("histogram")).alias("e"),
            )
            .select(
                *COHORT_COLS,
                f"n_{side}",
                F.col("e.key").alias("value"),
                (F.col("e.value") / F.col(f"n_{side}")).alias(f"p_{side}"),
            )
        )

    o = hist_long(models_old, "old")
    nw = hist_long(models_new, "new")
    j = o.join(nw, on=[*COHORT_COLS, "value"], how="full_outer")
    per_value = (
        F.abs(F.coalesce("p_new", F.lit(0.0)) - F.coalesce("p_old", F.lit(0.0)))
    ).alias("absdiff")
    agg = (
        j.select(
            *COHORT_COLS,
            per_value,
            "n_old",
            "n_new",
        )
        .groupBy(*COHORT_COLS)
        .agg(
            (F.sum("absdiff") / 2.0).alias("tvd"),
            F.count(F.lit(1)).alias("support"),
            F.max("n_old").alias("n_old"),
            F.max("n_new").alias("n_new"),
        )
    )
    measured = (
        F.col("n_old").isNotNull()
        & F.col("n_new").isNotNull()
        & (F.col("n_old") >= min_n)
        & (F.col("n_new") >= min_n)
    )
    # Sampling-noise floor: two multinomial draws of sizes n_old/n_new
    # over `support` values show TVD ≈ 0.5·sqrt(k·(1/n_old + 1/n_new))
    # from noise alone (per-value |p̂-p| has sd sqrt(p(1-p)/n); summed
    # over k values). Flag only above twice that floor — a fixed
    # threshold misfires on every small cohort.
    noise_floor = F.lit(0.5) * F.sqrt(
        F.col("support") * (F.lit(1.0) / F.col("n_old") + F.lit(1.0) / F.col("n_new"))
    )
    effective_thr = F.greatest(F.lit(tvd_threshold), F.lit(2.0) * noise_floor)
    return agg.select(
        *COHORT_COLS,
        F.lit(attribute).alias("attribute"),
        "n_old",
        "n_new",
        "support",
        "tvd",
        F.when(measured, F.round(effective_thr, 6)).alias("tvd_threshold"),
        F.when(measured, F.col("tvd") > effective_thr).alias("drifted"),
    )

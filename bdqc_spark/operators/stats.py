"""Robust statistical modeling operators — the bdqc semantic core.

Reference parity (reconstructed, SURVEY.md §2.A — /root/reference is an
empty mount, so citations are repo paths without line numbers):

- ``fit_categorical_models``≙ value-histogram fit for string attributes
  (same module) — rare values are outlier suspects.
- ``robust_z``              ≙ the KB.pm getOutliers yardstick: the
  robust z of a value against a (median, MAD) model, as one Catalyst
  expression. The per-row rules (plans/decide.py) and explain score
  with it; the broadcast join that brings the model to the row lives
  in plans/decide.py. ``robust_z_scalar`` is its driver-side twin on
  Python floats (same operand order and branches), which model drift
  (plans/drift.py) scores the ~100-row model tables with.
- ``infer_column_types``    ≙ FileSignature/Tabular.pm per-column type
  inference (int/real/string/empty fractions) that drives model choice.

Numeric cohort models (median, MAD, quantiles) are fit by
plans/models.py: one grouped bin-count aggregate, with the statistics
derived on the driver from the collected counts.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Consistency constant making MAD comparable to a stddev for
# normally distributed data (1/Phi^-1(3/4)).
MAD_TO_SIGMA = 1.4826


def robust_z(x: Column, med: Column, mad: Column) -> Column:
    """|x - med| / (MAD_TO_SIGMA * mad) when mad > 0. Otherwise 0 when
    x equals the median and +inf when it does not (bdqc flags any
    deviation from a constant cohort). NULL semantics follow the
    oracle's NaN arithmetic: with mad > 0 a NULL x or med gives NULL,
    which exceeds no threshold; with mad = 0 or NULL it gives +inf."""
    return F.when(mad > 0, F.abs(x - med) / (F.lit(MAD_TO_SIGMA) * mad)).otherwise(
        F.when(x == med, F.lit(0.0)).otherwise(F.lit(float("inf")))
    )


def robust_z_scalar(x: float | None, med: float | None, mad: float | None) -> float | None:
    """robust_z on Python floats, None for NULL: the same formula,
    operand order and branches, so a non-NaN value scores
    bit-identically on the driver and in a Spark plan."""
    if mad is not None and mad > 0:
        if x is None or med is None:
            return None
        return abs(x - med) / (MAD_TO_SIGMA * mad)
    return 0.0 if x is not None and x == med else math.inf


def fit_categorical_models(
    df: DataFrame,
    cohort_cols: list[str],
    attr_col: str,
    rare_frac: float = 0.01,
) -> DataFrame:
    """Per cohort: value histogram of `attr_col` + rare-value flags.

    One row per (cohort, value) with count, frac, is_rare — bdqc's
    categorical DataModel (rare/unique values are deviation suspects).
    """
    counts = df.groupBy(*cohort_cols, attr_col).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy(*cohort_cols).agg(F.sum("cnt").alias("total"))
    return (
        counts.join(F.broadcast(totals), on=list(cohort_cols))
        .withColumn("frac", F.col("cnt") / F.col("total"))
        .withColumn("is_rare", F.col("frac") < F.lit(rare_frac))
    )


def infer_column_types(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column observed type profile (bdqc Tabular.pm inference).

    For every column: n, n_null, n_empty, frac_int_like, frac_num_like,
    n_distinct (approx), inferred ∈ {empty,int,real,categorical,text}.
    Single aggregation pass over the table (all columns at once).
    """
    columns = columns or df.columns
    aggs = []
    for c in columns:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__n_null"),
            F.sum(F.when(F.trim(s) == "", 1).otherwise(0)).alias(f"{c}__n_empty"),
            F.sum(F.when(s.rlike(r"^-?\d+$"), 1).otherwise(0)).alias(f"{c}__n_int"),
            F.sum(F.when(s.rlike(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"), 1).otherwise(0)).alias(f"{c}__n_num"),
            F.approx_count_distinct(c).alias(f"{c}__n_distinct"),
            F.avg(F.length(s)).alias(f"{c}__avg_len"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    spark = df.sparkSession
    out = []
    for c in columns:
        n = row[f"{c}__n"]
        n_null, n_empty = row[f"{c}__n_null"], row[f"{c}__n_empty"]
        n_val = max(n - n_null, 1)
        fi, fn = row[f"{c}__n_int"] / n_val, row[f"{c}__n_num"] / n_val
        nd = row[f"{c}__n_distinct"]
        if n_null + n_empty == n:
            inferred = "empty"
        elif fi > 0.99:
            inferred = "int"
        elif fn > 0.99:
            inferred = "real"
        elif nd <= max(20, 0.02 * n):
            inferred = "categorical"
        else:
            inferred = "text"
        out.append(
            (c, n, n_null, n_empty, float(fi), float(fn), nd, float(row[f"{c}__avg_len"] or 0.0), inferred)
        )
    return spark.createDataFrame(
        out,
        "column string, n long, n_null long, n_empty long, frac_int_like double, "
        "frac_num_like double, n_distinct long, avg_len double, inferred string",
    )

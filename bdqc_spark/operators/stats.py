"""Robust statistical modeling operators — the bdqc semantic core.

Reference parity (reconstructed, SURVEY.md §2.A — /root/reference is an
empty mount, so citations are repo paths without line numbers):

- ``fit_numeric_models``    ≙ bdqc DataModel fit for numeric attributes
  (lib/BDQC/DataModel/Scalar.pm: robust center+spread per
  (fileType, attribute)); here one shuffle-aggregated pass per cohort
  plus a second pass for MAD (median absolute deviation), since MAD
  needs the median first.
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

Scale notes: model fitting shuffles once on the cohort keys with
map-side partial aggregation (Catalyst does partial+final
automatically). The MAD pass joins the per-cohort median back
(broadcast — the model side is |cohorts|×|attrs| rows, KBs) and
re-aggregates; this is the unavoidable second pass of any exact-ish
robust spread. At 100 TB the fact table is never shuffled more than
these two aggregation passes, and scoring is shuffle-free.
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


def fit_numeric_models(
    df: DataFrame,
    cohort_cols: list[str],
    attr_cols: list[str],
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per (cohort, attribute): n, median, MAD, p01/p25/p75/p99, mean, std.

    Long-form output: one row per (cohort, attribute) — the shape of
    bdqc's collated models, and what plans/decide.py broadcasts.

    `exact=True` uses `median`/`percentile` (exact, for oracle-checked
    tests); default uses `percentile_approx` (mergeable sketch, the
    100 TB path).

    Execution shape: the fact table is aggregated WIDE (all
    attributes in one groupBy pass — one scan, one shuffle), and the
    tiny per-cohort result is unpivoted to long form afterwards.
    Melting before aggregating would multiply the shuffled/scanned
    row count by |attrs| for zero benefit.

    The whole plan is ONE parameterized spark.sql() call: building it
    expression-by-expression costs ~200 py4j round trips (~1s of
    driver time, measured) — pure serial cost paid on every pipeline
    run at every cluster size; a single SQL string parses JVM-side in
    one trip. The physical plan is identical.
    """
    if exact:
        pct = lambda c, p: f"percentile({c}, {p})"  # noqa: E731
    else:
        pct = lambda c, p: f"percentile_approx({c}, {p}, {accuracy})"  # noqa: E731

    cohorts = ", ".join(f"`{c}`" for c in cohort_cols)
    cast_cols = ", ".join(f"CAST(`{c}` AS DOUBLE) AS `{c}`" for c in attr_cols)
    wide_aggs = ",\n    ".join(
        f"COUNT(`{c}`) AS `{c}__n`, "
        f"{pct(f'`{c}`', 0.5)} AS `{c}__median`, "
        f"{pct(f'`{c}`', 0.01)} AS `{c}__p01`, "
        f"{pct(f'`{c}`', 0.25)} AS `{c}__p25`, "
        f"{pct(f'`{c}`', 0.75)} AS `{c}__p75`, "
        f"{pct(f'`{c}`', 0.99)} AS `{c}__p99`, "
        f"AVG(`{c}`) AS `{c}__mean`, "
        f"STDDEV_SAMP(`{c}`) AS `{c}__std`"
        for c in attr_cols
    )
    # Pass 2: MAD needs |x − median| per row → broadcast the medians
    # back (tiny) and aggregate wide again.
    med_cols = ", ".join(f"`{c}__median` AS `{c}__med`" for c in attr_cols)
    mad_aggs = ", ".join(
        f"{pct(f'abs(c.`{a}` - m.`{a}__med`)', 0.5)} AS `{a}__mad`" for a in attr_cols
    )
    stats = ["n", "median", "mad", "p01", "p25", "p75", "p99", "mean", "std"]
    stack_rows = ", ".join(
        "'" + c + "', " + ", ".join(f"`{c}__{s}`" for s in stats) for c in attr_cols
    )
    query = f"""
WITH casted AS (SELECT {cohorts}, {cast_cols} FROM {{df}}),
wide AS (SELECT {cohorts}, {wide_aggs} FROM casted GROUP BY {cohorts}),
mads AS (
  SELECT /*+ BROADCAST(m) */ {', '.join('c.`' + k + '`' for k in cohort_cols)}, {mad_aggs}
  FROM casted c JOIN (SELECT {cohorts}, {med_cols} FROM wide) m USING ({cohorts})
  GROUP BY {', '.join('c.`' + k + '`' for k in cohort_cols)}
)
SELECT * FROM (
  SELECT {cohorts},
         stack({len(attr_cols)}, {stack_rows}) AS (attribute, {', '.join(stats)})
  FROM wide JOIN mads USING ({cohorts})
) WHERE n > 0
"""
    return df.sparkSession.sql(query, df=df)


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

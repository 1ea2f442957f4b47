"""Stage 2/3 — cohort model fitting (SURVEY.md §3.2 stages 2-3).

bdqc analogue: collateSignatures + calcModels (lib/BDQC/KB.pm →
DataModel/Scalar.pm, reconstructed): per (fileType, attribute)
robust center+spread. Here the cohort is (codec, lang_pred) and the
fit is ONE grouped aggregate over the profiles: every row is stacked
into (codec, lang_pred, attribute, bin, key) and counted per bin,
with MIN(x) as the bin's representative and MAX(x) as its upper end.
The driver collects the bin counts and derives n, median, MAD,
p01-p99 and the categorical value histograms from them with numpy.
Output is the `cohort_models` state table (FIXTURES.md §3) — a few
hundred rows regardless of input scale, which is why scoring can
broadcast it.

Binning (DDSketch's log mapping: Masson, Rim and Lee, VLDB 2019):
x = 0 is bin 0, any other x is bin ±(⌈ln|x| / ln γ⌉ + 2³²) with
γ = (1+α)/(1−α), so every value in a bin lies within relative α of
every other and the bins are ordered like their values. A model has
at most min(distinct values, ln(max/min)/ln γ + 1) bins per sign,
about 5,000 per unit of ln range at α = 1e-4: 8,743 count rows for
the 3,000-clip perfbench table, but about 2·10⁴ per (cohort,
attribute) once a corpus fills every bin of that table's ranges, and
more for wider ranges (README design note). `exact=True` bins by the
value itself (a distinct-value histogram: every distinct value
reaches the driver, so it is a verification mode, not one for large
tables).
Counts are integers and MIN is order-free, so the fit is a pure
function of the profile multiset: the same model for any
partitioning, merge order or run history.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from bdqc_spark.plans.rules import CPS_MIN_DUR_MS

COHORT_COLS = ["codec", "lang_pred"]

# Attributes modeled per cohort (robust-z rules read these). ppl is
# modeled in log space — see plans/rules.py PPL_LOG_Z; log_cps is the
# cross-modal speech-rate axis — see plans/rules.py CPS_LOG_Z.
MODEL_ATTRS = ["dur_ms", "log_cps", "log_ppl", "rms", "n_tokens"]

# Categorical attributes modeled as within-cohort value histograms
# (bdqc DataModel for string attributes: rare values are suspects).
CATEGORICAL_ATTRS = ["sr_hz"]

# Relative accuracy of the default binning. The deviation rules sit at
# robust-z 6 with anomaly classes injected at z ≳ 25 and the clean
# tail below z ≈ 5 (FIXTURES.md), so a 2α median error is orders of
# magnitude inside the decision margin.
ALPHA = 1e-4
_LN_GAMMA = math.log((1 + ALPHA) / (1 - ALPHA))

MODEL_FIELDS = (
    "codec", "lang_pred", "attribute", "n",
    "median", "mad", "p01", "p25", "p75", "p99", "histogram",
)
_ModelRow = Row(*MODEL_FIELDS)
_GROUP_COLS = ("codec", "lang_pred", "attribute")
_QUANTILES = (("p01", 0.01), ("p25", 0.25), ("p75", 0.75), ("p99", 0.99))


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


def _bin_counts_sql(exact: bool) -> str:
    """The one grouped aggregate: (codec, lang_pred, attribute, key,
    cnt, rep, hi) per bin. Null values are excluded (no evidence; a null
    map key is also a runtime error downstream). ±inf and NaN clamp
    into the outermost bins, NaN last, as Spark orders it."""
    stack_rows = ", ".join(
        [f"'{a}', `{a}`, CAST(NULL AS STRING)" for a in MODEL_ATTRS]
        + [f"'{a}', CAST(NULL AS DOUBLE), `{a}`" for a in CATEGORICAL_ATTRS]
    )
    n_rows = len(MODEL_ATTRS) + len(CATEGORICAL_ATTRS)
    if exact:
        bin_expr = "x"
    else:
        bin_expr = (
            "CASE WHEN x = 0 THEN 0 ELSE (CASE WHEN x < 0 THEN -1 ELSE 1 END) * ("
            f"CEIL(LEAST(GREATEST(LN(ABS(x)) / {_LN_GAMMA!r}D, -2147483648D), 2147483648D))"
            " + 4294967296) END"
        )
    return f"""
SELECT codec, lang_pred, attribute, `key`, COUNT(1) AS cnt, MIN(x) AS rep, MAX(x) AS hi
FROM (
  SELECT codec, lang_pred, attribute, x, `key`, {bin_expr} AS bin
  FROM (SELECT codec, lang_pred, stack({n_rows}, {stack_rows}) AS (attribute, x, `key`) FROM {{flat}})
  WHERE x IS NOT NULL OR `key` IS NOT NULL
)
GROUP BY codec, lang_pred, attribute, bin, `key`
"""


def _rank_index(cum: np.ndarray, p: float) -> int:
    """percentile_approx's rule on sorted weighted values: the index
    of the smallest value whose cumulative count is ≥ max(1, ⌈p·n⌉)."""
    return int(np.searchsorted(cum, max(1, math.ceil(p * int(cum[-1])))))


def _ranked(vals: np.ndarray, cum: np.ndarray, p: float) -> float:
    return float(vals[_rank_index(cum, p)])


def _interpolated(vals: np.ndarray, cum: np.ndarray, p: float) -> float:
    """Spark's exact `percentile` on sorted weighted values: linear
    interpolation at (n−1)·p, with its operand order and early
    returns, so the result is bit-identical."""
    position = (int(cum[-1]) - 1) * p
    lower, higher = math.floor(position), math.ceil(position)
    lo = float(vals[np.searchsorted(cum, lower + 1)])
    if higher == lower:
        return lo
    hi = float(vals[np.searchsorted(cum, higher + 1)])
    if hi == lo:
        return lo
    return (higher - position) * lo + (position - lower) * hi


def _numeric_model(reps: np.ndarray, his: np.ndarray, counts: np.ndarray, exact: bool) -> dict:
    """n, median, MAD and p01-p99 from one attribute's bins.

    Every row of the median's bin deviates by |rep − median| = 0 in
    the binned deviations, so a near-constant cohort (more than half
    its rows inside one bin of relative width 2α, not all equal) would
    get mad = 0 and robust_z = +inf on every row above the bin's MIN.
    The binned MAD is therefore never below (MAX − MIN)/4 of the
    median's bin, the MAD of values spread evenly over it: that keeps
    every row of the bin under robust z 4/MAD_TO_SIGMA ≈ 2.7. The
    floor is at most about α·|median|/2, so it only moves cohorts whose
    spread the binning cannot resolve; a constant cohort (MIN = MAX)
    keeps mad = 0, and in exact mode every bin has MIN = MAX."""
    quantile = _interpolated if exact else _ranked
    # + 0.0 folds -0.0 into 0.0: the two share a bin, and which one
    # MIN returns would otherwise depend on row order.
    order = np.argsort(reps + 0.0, kind="stable")
    vals, counts = reps[order] + 0.0, counts[order]
    cum = np.cumsum(counts)
    median = quantile(vals, cum, 0.5)
    dev = np.abs(vals - median)
    by_dev = np.argsort(dev, kind="stable")
    mad = quantile(dev[by_dev], np.cumsum(counts[by_dev]), 0.5)
    if not exact:
        i = _rank_index(cum, 0.5)
        # max() keeps mad when the span is NaN (a bin of ±inf or NaN).
        mad = max(mad, float(his[order][i] + 0.0 - vals[i]) / 4)
    return {
        "n": int(cum[-1]),
        "median": median,
        "mad": mad,
        **{name: quantile(vals, cum, p) for name, p in _QUANTILES},
    }


def _group_starts(counts: pa.Table) -> np.ndarray:
    """Row offsets at which a new (codec, lang_pred, attribute) group
    starts in a one-chunk table sorted by those columns."""
    new = np.zeros(counts.num_rows, dtype=bool)
    new[:1] = True
    for c in _GROUP_COLS:
        codes = pc.dictionary_encode(counts[c].chunk(0), null_encoding="encode").indices
        codes = codes.to_numpy()
        new[1:] |= codes[1:] != codes[:-1]
    return np.flatnonzero(new)


def _models_from_counts(counts: pa.Table, exact: bool = False) -> list:
    """The collected bin counts → the cohort_models rows, sorted by
    (codec, lang_pred, attribute) with nulls last. Rows are grouped by
    one Arrow sort and numpy offsets; Python runs once per group."""
    if not counts.num_rows:
        return []
    counts = counts.sort_by(
        [(c, "ascending") for c in _GROUP_COLS], null_placement="at_end"
    ).combine_chunks()
    starts = _group_starts(counts)
    ends = [*starts[1:].tolist(), counts.num_rows]
    cnt = counts["cnt"].to_numpy()
    rep = counts["rep"].to_numpy().astype(np.float64)
    hi = counts["hi"].to_numpy().astype(np.float64)
    out = []
    for s, e in zip(starts.tolist(), ends):
        group = tuple(counts[c][s].as_py() for c in _GROUP_COLS)
        if group[2] in CATEGORICAL_ATTRS:
            keys = counts["key"][s:e].to_pylist()
            hist = dict(sorted(zip(keys, cnt[s:e].tolist())))
            stats = {"n": int(cnt[s:e].sum()), "histogram": hist}
        else:
            stats = _numeric_model(rep[s:e], hi[s:e], cnt[s:e], exact)
        out.append(_ModelRow(*group, *(stats.get(f) for f in MODEL_FIELDS[3:])))
    return out


def fit_cohort_models(profiles: DataFrame, exact: bool = False) -> list:
    """profiles → the cohort_models rows (codec, lang_pred, attribute,
    n, median, mad, p01, p25, p75, p99, histogram), sorted by
    (codec, lang_pred, attribute).

    One Spark aggregate counts the bins; the rows are derived from the
    collected counts on the driver. A bin's representative is its
    MIN(x), a real data value rather than the bin centre: robust_z
    gives +inf when mad = 0 and x ≠ median, so a bin-centre median
    would make every row of a constant cohort fire. The default fit
    takes percentile_approx's rank rule over the representatives;
    `exact=True` interpolates like Spark's `percentile`. MAD is the
    same rule over |rep − median|, weighted by the bin counts."""
    flat = _flat_attrs(profiles)
    counts = flat.sparkSession.sql(_bin_counts_sql(exact), flat=flat).toArrow()
    return _models_from_counts(counts, exact)

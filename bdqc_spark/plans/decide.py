"""Stage 4 — decisions: rules + scrub (SURVEY.md §3.2 stage 4).

bdqc analogue: getOutliers/showOutliers (lib/BDQC/KB.pm,
reconstructed) — per-file deviation list + flag. Here: broadcast the
KB-sized cohort_models rows, collected on the driver, onto the
profiled rows (map-side only, the big table is NOT shuffled),
evaluate the compiled rule expressions, and emit the `decisions`
state table with the scrubbed transcript. Everything that touches a
profile row is Catalyst expressions — zero Python.

The rule evaluator (join_rule_models + evaluate_rules) is the one
explain_decisions (plans/explain.py) builds its records from, so the
two agree by construction.
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bdqc_spark.functions.scrub import n_edits_column, scrub_column
from bdqc_spark.operators.stats import robust_z
from bdqc_spark.plans.models import COHORT_COLS, log_cps_column
from bdqc_spark.plans.rules import (
    CATEGORICAL_RULES,
    DEVIATION_RULES,
    MIN_COHORT_N,
    STATIC_RULES,
    CategoricalRule,
    DeviationRule,
    StaticRule,
)


def flatten_profiles(profiles: DataFrame) -> DataFrame:
    """Explode the nested signature structs into the flat namespace
    the rule expressions reference, including the derived deviation
    axes (log_ppl, log_cps) so decide() and explain() score the
    bit-identical expressions."""
    extra = [c for c in ("bucket",) if c in profiles.columns]
    flat = profiles.select(
        "clip_id",
        *extra,
        "codec",
        "sr_hz",
        "dur_ms",
        "transcript",
        F.col("lang.pred").alias("lang_pred"),
        F.col("lang.conf").alias("conf"),
        F.col("lang.ppl").alias("ppl"),
        F.col("audio.pcm_ok").alias("pcm_ok"),
        F.col("audio.dur_ms_decoded").alias("dur_ms_decoded"),
        F.col("audio.rms").alias("rms"),
        F.col("audio.clip_rate").alias("clip_rate"),
        F.col("audio.hdr_sr").alias("hdr_sr"),
        F.col("audio.speech_ratio").alias("speech_ratio"),
        F.col("audio.n_samples").alias("n_samples"),
        F.col("audio.bw_ratio").alias("bw_ratio"),
        F.col("audio.dc_off").alias("dc_off"),
        F.col("text.n_chars").alias("n_chars"),
        F.col("text.n_tokens").alias("n_tokens"),
        F.col("text.max_run").alias("max_run"),
    )
    # Derived deviation axes. ln(+inf) = +inf so no-evidence ppl rows
    # score z = inf (rules.py PPL_LOG_Z); log_cps is NULL on rows
    # without cross-modal evidence (models.log_cps_column).
    return flat.withColumn("log_ppl", F.log(F.col("ppl"))).withColumn(
        "log_cps",
        log_cps_column(
            F.col("pcm_ok"),
            F.col("n_chars"),
            F.col("speech_ratio"),
            F.col("dur_ms_decoded"),
        ),
    )


class RuleEval(NamedTuple):
    """One rule evaluated over the model-joined flat profile: `fired`
    is the boolean hit condition; `observed`, `median`, `mad` and
    `score` are the model context explain reports. `score` is the
    robust z (deviation rules), the within-cohort value frequency
    (categorical rules) or NULL (static rules)."""

    rule_id: str
    attribute: str
    fired: Column
    observed: Column
    median: Column
    mad: Column
    score: Column


_ARROW = {
    "string": pa.string(),
    "double": pa.float64(),
    "bigint": pa.int64(),
    "map<string,bigint>": pa.map_(pa.string(), pa.int64()),
}


def _local_side(spark, columns: list[tuple[str, str]], rows: list[tuple]) -> DataFrame:
    """A KB-sized model side as a LocalRelation with the DDL types in
    `columns`, broadcast straight from the driver (a frame from
    createDataFrame(rows) is a Python RDD whose broadcast runs a job)."""
    table = pa.table(
        {name: pa.array([r[i] for r in rows], _ARROW[t]) for i, (name, t) in enumerate(columns)}
    )
    return spark.createDataFrame(table, ", ".join(f"`{name}` {t}" for name, t in columns))


def join_rule_models(
    flat: DataFrame,
    models_rows: list,
    deviation_rules: tuple[DeviationRule, ...],
    categorical_rules: tuple[CategoricalRule, ...],
) -> DataFrame:
    """Join the KB-sized model sides the rules read onto the flat
    profiles. `models_rows` are the collected cohort_models rows
    (dicts or Rows); the sides are built from them on the driver: one
    broadcast of the deviation models pivoted wide
    (`<attr>_median/_mad/_n`), plus one broadcast value histogram per
    categorical rule (`__<attr>_cn`, `__<attr>_hist`). Left joins, so
    unmodeled cohorts keep their rows with NULL model columns; the
    profile side is never shuffled."""
    spark = flat.sparkSession
    cohort = [(c, "string") for c in COHORT_COLS]
    if deviation_rules:
        attrs = sorted({r.attribute for r in deviation_rules})
        wide: dict[tuple, dict] = {}
        for m in models_rows:
            if m["attribute"] in attrs:
                wide.setdefault(tuple(m[c] for c in COHORT_COLS), {}).setdefault(m["attribute"], m)
        stats = [("median", "double"), ("mad", "double"), ("n", "bigint")]
        side = _local_side(
            spark,
            cohort + [(f"{a}_{s}", t) for a in attrs for s, t in stats],
            [
                (*key, *(by_attr[a][s] if a in by_attr else None for a in attrs for s, _ in stats))
                for key, by_attr in wide.items()
            ],
        )
        flat = flat.join(F.broadcast(side), on=COHORT_COLS, how="left")
    for r in categorical_rules or ():
        side = _local_side(
            spark,
            cohort + [(f"__{r.attribute}_cn", "bigint"), (f"__{r.attribute}_hist", "map<string,bigint>")],
            [
                (*(m[c] for c in COHORT_COLS), m["n"], m["histogram"])
                for m in models_rows
                if m["attribute"] == r.attribute
            ],
        )
        flat = flat.join(F.broadcast(side), on=COHORT_COLS, how="left")
    return flat


def evaluate_rules(
    static_rules: tuple[StaticRule, ...],
    deviation_rules: tuple[DeviationRule, ...],
    categorical_rules: tuple[CategoricalRule, ...],
) -> list[RuleEval]:
    """The rule evaluator decide() and explain_decisions() share: one
    RuleEval per rule, in static, deviation, categorical order, over
    the columns join_rule_models() provides."""
    none = F.lit(None)
    out = [
        RuleEval(
            r.rule_id, r.attribute, F.expr(r.expr), F.col(r.attribute).cast("double"),
            none, none, none,
        )
        for r in static_rules
    ]
    for r in deviation_rules:
        med, mad = F.col(f"{r.attribute}_median"), F.col(f"{r.attribute}_mad")
        x = F.col(r.attribute).cast("double")
        z = robust_z(x, med, mad)
        # Cohorts below minimum support (or unmodeled: med null) are
        # not flagged by deviation rules — matches bdqc, which skips
        # models for tiny cohorts (MIN_COHORT_N in rules.py).
        fired = (
            med.isNotNull()
            & (F.col(f"{r.attribute}_n") >= MIN_COHORT_N)
            & (z > F.lit(r.z_threshold))
        )
        out.append(RuleEval(r.rule_id, r.attribute, fired, x, med, mad, z))
    for r in categorical_rules or ():
        # A row is flagged when its value's within-cohort frequency is
        # below rare_frac (exact integer counts — identical on engine
        # and oracle).
        cn = F.col(f"__{r.attribute}_cn")
        frac = (
            F.coalesce(F.col(f"__{r.attribute}_hist")[F.col(r.attribute).cast("string")], F.lit(0))
            / cn
        )
        fired = (
            # null attribute values carry no frequency evidence and
            # are excluded from the fitted histogram (models.py) —
            # don't fire on them
            F.col(r.attribute).isNotNull()
            & cn.isNotNull()
            & (cn >= MIN_COHORT_N)
            & (frac < F.lit(r.rare_frac))
        )
        observed = F.col(r.attribute).cast("double")
        out.append(RuleEval(r.rule_id, r.attribute, fired, observed, none, none, frac))
    return out


# Unresolved-Column cache for the rule/scrub expression trees: they
# are pure functions of the (frozen) rule tuples, but building them
# costs ~100 py4j round trips (~0.3-0.5s of driver time) — serial
# cost paid on EVERY decide() call at every cluster size. Keyed on
# the live SparkContext so a session restart (new JVM refs) rebuilds.
_EXPR_CACHE: dict = {}


def _static_decide_exprs(sc_key, static_rules, deviation_rules, categorical_rules):
    key = (sc_key, static_rules, deviation_rules, categorical_rules)
    cached = _EXPR_CACHE.get("decide")
    if cached is not None and cached[0] == key:
        return cached[1]
    hits = [
        F.when(e.fired, F.lit(e.rule_id)).otherwise(F.lit(None))
        for e in evaluate_rules(static_rules, deviation_rules, categorical_rules)
    ]
    exprs = (hits, scrub_column(F.col("transcript")), n_edits_column(F.col("transcript")))
    _EXPR_CACHE["decide"] = (key, exprs)
    return exprs


def decide(
    profiles: DataFrame,
    models_rows: list,
    static_rules: tuple[StaticRule, ...] = STATIC_RULES,
    deviation_rules: tuple[DeviationRule, ...] = DEVIATION_RULES,
    categorical_rules: tuple[CategoricalRule, ...] = CATEGORICAL_RULES,
) -> DataFrame:
    """profiles + collected cohort_models rows → decisions(clip_id[,
    bucket], keep, rule_hits, scrubbed_transcript, n_scrub_edits)."""
    # Monotonic session token (r3 ADVICE): id(_jsc) can be reused by a
    # new gateway object after the old one is GC'd, silently serving
    # Columns bound to a dead JVM. (applicationId, startTime) is unique
    # per SparkContext and changes on every in-process restart.
    sc = profiles.sparkSession.sparkContext
    sc_key = (sc.applicationId, sc.startTime)
    hit_exprs, scrub, n_edits = _static_decide_exprs(
        sc_key, static_rules, deviation_rules, categorical_rules
    )
    flat = join_rule_models(
        flatten_profiles(profiles), models_rows, deviation_rules, categorical_rules
    )

    extra = [c for c in ("bucket",) if c in flat.columns]
    return (
        flat.withColumn(
            "rule_hits", F.array_sort(F.filter(F.array(*hit_exprs), lambda x: x.isNotNull()))
        )
        .withColumn("keep", F.size("rule_hits") == 0)
        .withColumn(
            "scrubbed_transcript",
            F.when(F.col("keep"), scrub).otherwise(F.lit(None)),
        )
        .withColumn(
            "n_scrub_edits",
            F.when(F.col("keep"), n_edits).otherwise(F.lit(0)).cast("int"),
        )
        .select("clip_id", *extra, "keep", "rule_hits", "scrubbed_transcript", "n_scrub_edits")
    )

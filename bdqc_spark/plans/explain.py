"""Explain read-path (bdqc entry point 3, SURVEY.md §3.1:
`bin/bdqc --explain <attr>` prints per-file expected-vs-observed).

For every clip that fired at least one rule, emit one row per fired
rule with the model context that justified it:

    (clip_id, rule_id, attribute, observed, expected_median,
     expected_mad, z)

- deviation rules: observed value, cohort median/MAD, robust z
- categorical rules: observed value, within-cohort frequency in `z`
  (the "score" slot), no median/mad
- static rules: observed value of the rule's primary attribute
  (StaticRule.attribute), no model context

Shares decide's evaluator (plans/decide.py join_rule_models +
evaluate_rules): the same broadcast joins of the KB-sized model rows
and the same per-rule Catalyst expressions, so explain and decide
agree by construction. On top: one explode of a per-row struct array.
No extra shuffle of the profiles table; the explode multiplies rows
only by the number of FIRED rules (≈0-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdqc_spark.plans.decide import evaluate_rules, flatten_profiles, join_rule_models
from bdqc_spark.plans.models import COHORT_COLS
from bdqc_spark.plans.rules import (
    CATEGORICAL_RULES,
    DEVIATION_RULES,
    STATIC_RULES,
    CategoricalRule,
    DeviationRule,
    StaticRule,
)


def explain_decisions(
    profiles: DataFrame,
    models_rows: list,
    static_rules: tuple[StaticRule, ...] = STATIC_RULES,
    deviation_rules: tuple[DeviationRule, ...] = DEVIATION_RULES,
    categorical_rules: tuple[CategoricalRule, ...] = CATEGORICAL_RULES,
) -> DataFrame:
    """profiles + collected cohort_models rows → long-form per-(clip,
    fired rule) explain records. Built from decide()'s own rule
    evaluator: a clip appears here iff it appears in decisions with
    keep = false, and its rule_ids here equal its decisions.rule_hits."""
    flat = join_rule_models(
        flatten_profiles(profiles), models_rows, deviation_rules, categorical_rules
    )
    entries = [
        F.when(
            e.fired,
            F.struct(
                F.lit(e.rule_id).alias("rule_id"),
                F.lit(e.attribute).alias("attribute"),
                e.observed.alias("observed"),
                e.median.cast("double").alias("expected_median"),
                e.mad.cast("double").alias("expected_mad"),
                e.score.cast("double").alias("z"),
            ),
        )
        for e in evaluate_rules(static_rules, deviation_rules, categorical_rules)
    ]

    extra = [c for c in ("bucket",) if c in flat.columns]
    exploded = flat.select(
        "clip_id",
        *extra,
        *COHORT_COLS,
        F.explode(F.filter(F.array(*entries), lambda x: x.isNotNull())).alias("e"),
    )
    return exploded.select(
        "clip_id",
        *extra,
        *COHORT_COLS,
        F.col("e.rule_id").alias("rule_id"),
        F.col("e.attribute").alias("attribute"),
        F.col("e.observed").alias("observed"),
        F.col("e.expected_median").alias("expected_median"),
        F.col("e.expected_mad").alias("expected_mad"),
        F.col("e.z").alias("z"),
    )

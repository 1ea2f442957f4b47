"""Physical-plan regression suite: the scale claims BENCH.md §6 makes
about the headline queries are ASSERTED here, not just documented —
a refactor that silently turns a broadcast join into a shuffle, lets
a CartesianProduct sneak into an LSH path, or breaks parquet filter
pushdown fails this file long before a benchmark notices.

Plans are inspected via queryExecution().executedPlan() at sf0.001
(plan SHAPE does not depend on data volume for these queries — join
strategy is forced by broadcast() hints / equi-key structure, not by
AQE size estimates; where AQE could matter we assert the property
that must hold at ANY size, e.g. "no CartesianProduct")."""

from __future__ import annotations

import importlib
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    return importlib.import_module("__spark_entry__")


def _plan(spark, entry, name: str) -> str:
    df = entry.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark, entry):
    plan = _plan(spark, entry, "scan_project_filter")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan
    # column pruning: the 16-column lineitem scan reads a pruned schema
    assert "l_comment" not in plan.split("ReadSchema")[1][:400]


def test_models_joins_broadcast_fact_never_shuffled_for_scoring(spark, entry):
    plan = _plan(spark, entry, "qc_documents_keepdrop")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the models side broadcasts; the fact side must not be exchanged
    # into the scoring joins (the property that holds at 100 TB) —
    # every Exchange in this plan belongs to the KB-sized model
    # aggregations, which sit BELOW a BroadcastExchange
    assert "BroadcastExchange" in plan


def test_broadcast_join_query_uses_broadcast(spark, entry):
    plan = _plan(spark, entry, "join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_minhash_lsh_has_no_cartesian_product(spark, entry):
    plan = _plan(spark, entry, "minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # skew-cap list must broadcast as BHJ/equi


def test_simhash_neighbors_has_no_cartesian_product(spark, entry):
    plan = _plan(spark, entry, "simhash_neighbors")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ann_lsh_is_equi_join_not_all_pairs(spark, entry):
    plan = _plan(spark, entry, "ann_lsh_topk")
    assert "CartesianProduct" not in plan


def test_topk_per_group_pushes_window_group_limit(spark, entry):
    plan = _plan(spark, entry, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_quality_clf_scoring_is_map_only(spark, entry):
    plan = _plan(spark, entry, "doc_quality_clf")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_emb_decontaminate_broadcasts_eval_side(spark, entry):
    plan = _plan(spark, entry, "emb_decontaminate")
    assert "BroadcastNestedLoopJoin" in plan  # dense cosine: no equi-key
    assert "CartesianProduct" not in plan


def test_explain_documents_models_broadcast(spark, entry):
    plan = _plan(spark, entry, "explain_documents")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decide_and_explain_share_broadcast_only_plan(spark):
    """decide() and explain_decisions() join the model sides through
    one evaluator: one broadcast for the pivoted deviation models plus
    one per categorical rule, and the profile side is never shuffled
    into a join. Each side is built on the driver from the collected
    model rows: its build side is a LocalTableScan, never a Python
    RDD (`Scan ExistingRDD`)."""
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.explain import explain_decisions
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.plans.rules import CATEGORICAL_RULES
    from bdqc_spark.synth.clips import generate_clips_df

    profiles = profile_clips(generate_clips_df(spark, 60, seed=5))
    models = fit_cohort_models(profiles)
    for df in (decide(profiles, models), explain_decisions(profiles, models)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1 + len(CATEGORICAL_RULES), plan
        for node in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
            assert node not in plan, plan
        # each build side is the exchange's one child: a LocalTableScan
        # leaf, so no Python RDD (`Scan ExistingRDD`) sits under it
        children = re.findall(r"BroadcastExchange .*\n[ :]*\+- (\w+)", plan)
        assert children == ["LocalTableScan"] * (1 + len(CATEGORICAL_RULES)), plan

"""Explain read-path (bdqc --explain, SURVEY.md §3.1 entry point 3):
per-(clip, fired rule) expected-vs-observed records must agree
rule-for-rule with decide()'s rule_hits."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bdqc_spark.plans.decide import decide
from bdqc_spark.plans.explain import explain_decisions
from bdqc_spark.plans.models import fit_cohort_models
from bdqc_spark.plans.profile import profile_clips
from bdqc_spark.plans.rules import DEVIATION_RULES, MIN_COHORT_N
from bdqc_spark.synth.clips import generate_clips_df


def test_explain_matches_decisions_rule_for_rule(spark):
    clips = generate_clips_df(spark, 800, seed=23)
    profiles = profile_clips(clips).cache()
    models = fit_cohort_models(profiles)

    dec = decide(profiles, models).toPandas()
    exp = explain_decisions(profiles, models).toPandas()

    got = exp.groupby("clip_id")["rule_id"].apply(lambda s: sorted(s)).to_dict()
    want = {r.clip_id: list(r.rule_hits) for _, r in dec.iterrows() if not r.keep}
    kept = {r.clip_id for _, r in dec.iterrows() if r.keep}

    assert set(got) == set(want), "explain covers exactly the dropped clips"
    for cid, rules in want.items():
        assert got[cid] == rules, (cid, got[cid], rules)
    assert not kept & set(got)
    profiles.unpersist()

    # deviation rows carry a full model context and a super-threshold z
    thr = {r.rule_id: r.z_threshold for r in DEVIATION_RULES}
    drows = exp[exp.rule_id.isin(thr)]
    assert len(drows) > 0, "fixture produced no deviation fires"
    for _, r in drows.iterrows():
        assert r.expected_median == r.expected_median  # not NaN
        assert r.z > thr[r.rule_id] or math.isinf(r.z)

    # categorical rows carry the within-cohort frequency in z
    crows = exp[exp.rule_id == "categorical.rare_sr"]
    for _, r in crows.iterrows():
        assert 0.0 <= r.z < 0.01


def test_explain_respects_min_cohort_support(spark):
    # a tiny corpus: every cohort is below MIN_COHORT_N → no deviation
    # or categorical fires, only static rules appear
    clips = generate_clips_df(spark, 40, seed=29)
    profiles = profile_clips(clips)
    models = fit_cohort_models(profiles)
    counts = (
        profiles.groupBy("codec", F.col("lang.pred")).count().agg(F.max("count")).collect()[0][0]
    )
    assert counts < MIN_COHORT_N, "fixture unexpectedly has a big cohort"
    exp = explain_decisions(profiles, models).toPandas()
    assert not exp.rule_id.str.startswith("robust_z").any()
    assert not exp.rule_id.str.startswith("categorical").any()


def test_explain_covers_all_rule_ids(spark):
    """Every rule id in the registry — all 13 static + 5 deviation + 1
    categorical — must round-trip decide() ↔ explain_decisions() on a
    corpus that fires all of them. Models are fit on the CLEAN base
    corpus; one doctored profile row per rule is then scored against
    those models (scoring is what's under test, and injection at the
    profile level exercises every rule deterministically)."""
    import pandas as pd

    from bdqc_spark.plans.rules import (
        CATEGORICAL_RULES,
        RARE_FRAC,
        STATIC_RULES,
        VALID_SR,
    )

    clips = generate_clips_df(spark, 600, seed=31)
    base = profile_clips(clips).cache()
    models = fit_cohort_models(base)
    mpd = pd.DataFrame([r.asDict() for r in models])

    big = mpd[mpd.attribute == "dur_ms"].sort_values("n", ascending=False).iloc[0]
    codec, lang = big.codec, big.lang_pred
    assert big.n >= MIN_COHORT_N
    m = {
        r.attribute: r
        for _, r in mpd[(mpd.codec == codec) & (mpd.lang_pred == lang)].iterrows()
    }

    def dev_target(attr, z=8.0):
        assert m[attr]["mad"] > 0, f"degenerate MAD for {attr}"
        return float(m[attr]["median"] + z * 1.4826 * m[attr]["mad"])

    # a value rare (<RARE_FRAC) within the cohort histogram fires the
    # categorical rule; a value ABSENT from the histogram is the
    # limiting case (frequency 0) and fires too — fall back to one if
    # this cohort happens to have no in-histogram rare value. Either
    # may also be an invalid rate, in which case meta.sr_invalid
    # co-fires (the multiset-equality check below covers multi-rule
    # rows).
    hist = m["sr_hz"]["histogram"] or {}
    rare_sr = next(
        (int(k) for k, v in sorted(hist.items()) if v / m["sr_hz"]["n"] < RARE_FRAC),
        max((int(k) for k in hist), default=0) + 7,
    )
    assert rare_sr not in VALID_SR or True  # documented: either kind is fine

    injections = {
        "audio.decode_failed": {("audio", "pcm_ok"): False},
        "audio.dur_mismatch": {("audio", "dur_ms_decoded"): 1},
        "audio.silent": {("audio", "rms"): 1e-5},
        "audio.clipping": {("audio", "clip_rate"): 0.5},
        "audio.hdr_sr_mismatch": {("audio", "hdr_sr"): 99999},
        "audio.low_speech": {
            ("audio", "speech_ratio"): 0.01,
            ("audio", "dur_ms_decoded"): 5000,
        },
        "audio.bandwidth_low": {
            ("audio", "bw_ratio"): 0.25,
            ("audio", "n_samples"): 16000,
        },
        "audio.dc_offset": {("audio", "dc_off"): 0.5},
        "meta.sr_invalid": {("sr_hz",): 12345},
        "text.empty": {("text", "n_tokens"): 0},
        "text.high_ppl": {("lang", "ppl"): 1e6},
        "text.lang_conf_low": {("lang", "conf"): 0.05},
        "text.max_run": {("text", "max_run"): 30},
        "robust_z.dur_ms": {
            ("dur_ms",): int(dev_target("dur_ms")),
            ("audio", "dur_ms_decoded"): int(dev_target("dur_ms")),
        },
        "robust_z.log_ppl": {("lang", "ppl"): math.exp(dev_target("log_ppl", z=34.0))},
        "robust_z.rms": {("audio", "rms"): dev_target("rms")},
        "robust_z.n_tokens": {("text", "n_tokens"): int(dev_target("n_tokens"))},
        # cross-modal: pin the denominator (1.0 speech_ratio × 4 s) and
        # inflate n_chars so log(n_chars / 4.0) lands z≈12 above the
        # cohort median; dur_mismatch may co-fire — covered by check 3
        "robust_z.log_cps": {
            ("audio", "speech_ratio"): 1.0,
            ("audio", "dur_ms_decoded"): 4000,
            ("text", "n_chars"): int(math.exp(dev_target("log_cps", z=12.0)) * 4.0) + 1,
        },
        "categorical.rare_sr": {("sr_hz",): int(rare_sr)},
    }
    all_rule_ids = (
        {r.rule_id for r in STATIC_RULES}
        | {r.rule_id for r in DEVIATION_RULES}
        | {r.rule_id for r in CATEGORICAL_RULES}
    )
    assert set(injections) == all_rule_ids  # keep this test honest as rules evolve

    one = (
        base.where(
            (F.col("codec") == codec) & (F.col("lang.pred") == lang) & F.col("audio.pcm_ok")
        )
        .orderBy("clip_id")
        .limit(1)
        .cache()
    )
    doctored = None
    for rule_id, mods in injections.items():
        r = one
        for path, val in mods.items():
            if len(path) == 2:
                s, f = path
                field_t = dict(
                    (fld.name, fld.dataType) for fld in r.schema[s].dataType.fields
                )[f]
                r = r.withColumn(s, F.col(s).withField(f, F.lit(val).cast(field_t)))
            else:
                r = r.withColumn(path[0], F.lit(val).cast(r.schema[path[0]].dataType))
        r = r.withColumn("clip_id", F.lit(f"zz_inject_{rule_id}"))
        doctored = r if doctored is None else doctored.unionByName(r)

    scored = base.unionByName(doctored)
    dec = decide(scored, models).toPandas()
    exp = explain_decisions(scored, models).toPandas()

    # 1) every rule id fires on its injected clip
    for rule_id in all_rule_ids:
        cid = f"zz_inject_{rule_id}"
        hits = list(dec[dec.clip_id == cid].rule_hits.iloc[0])
        assert rule_id in hits, (rule_id, hits)

    # 2) all 19 rule ids appear in the explain output
    assert set(exp.rule_id.unique()) >= all_rule_ids

    # 3) rule-for-rule equality on the WHOLE corpus incl. injections
    got = exp.groupby("clip_id")["rule_id"].apply(lambda s: sorted(s)).to_dict()
    want = {r.clip_id: list(r.rule_hits) for _, r in dec.iterrows() if not r.keep}
    assert set(got) == set(want)
    for cid, rules in want.items():
        assert got[cid] == rules, (cid, got[cid], rules)
    base.unpersist()
    one.unpersist()

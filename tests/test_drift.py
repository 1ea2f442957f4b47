"""Snapshot-to-snapshot model drift (plans/drift.py) — bdqc's
temporal-QC loop: fit models on two corpus snapshots, flag the
cohort attributes that moved.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bdqc_spark.plans.drift import model_drift, round_half_up
from bdqc_spark.plans.models import fit_cohort_models
from bdqc_spark.synth.clips import CODECS_P, LANGS_P, SR_P


def _profiles(spark, n, start, seed=11):
    """Profile-shaped rows (the columns fit_cohort_models reads) for
    clips [start, start + n): the clip generator's codec, language and
    sample-rate mixes and its duration law, with speech and transcript
    length in proportion to duration. Built directly, without stage
    A's decode pass: the drift comparison only ever sees the fitted
    models, and disjoint `start`s draw independent samples."""
    rng = np.random.default_rng([seed, start])

    def pick(pairs):
        vals, ps = zip(*pairs)
        return rng.choice(np.array(vals), size=n, p=np.array(ps) / sum(ps))

    dur = np.clip(rng.lognormal(7.4, 0.25, n), 300, 8000).astype(np.int32)
    n_tokens = np.maximum(2, np.round(dur / 1000.0 * rng.uniform(2.0, 3.5, n))).astype(np.int32)
    pdf = pd.DataFrame(
        {
            "codec": pick(CODECS_P),
            "sr_hz": pick(SR_P).astype(np.int32),
            "dur_ms": dur,
            "pcm_ok": np.ones(n, dtype=bool),
            "dur_ms_decoded": dur,
            "rms": rng.uniform(0.1, 0.5, n),
            "speech_ratio": rng.uniform(0.6, 0.95, n),
            "n_chars": (n_tokens * rng.integers(4, 8, n)).astype(np.int32),
            "n_tokens": n_tokens,
            "pred": pick(LANGS_P),
            "ppl": rng.lognormal(4.0, 0.3, n),
        }
    )
    return spark.createDataFrame(pdf).select(
        "codec",
        "sr_hz",
        "dur_ms",
        F.struct("pcm_ok", "dur_ms_decoded", "rms", "speech_ratio").alias("audio"),
        F.struct("n_chars", "n_tokens").alias("text"),
        F.struct("pred", "ppl").alias("lang"),
    )


def _drift(old_rows, new_rows, kind):
    out = pd.DataFrame(model_drift(old_rows, new_rows))
    return out[out.kind == kind]


@pytest.fixture(scope="module")
def two_snapshots(spark):
    """Snapshot A: clips [0, 1500). Snapshot B: clips [1500, 3000)
    with the catalog dur_ms tripled for the dominant codec — a
    distribution shift across the whole cohort (e.g. a new ingest
    source), not an injected outlier row."""
    a = _profiles(spark, 1500, 0)
    b_raw = _profiles(spark, 1500, 1500)
    b = b_raw.withColumn(
        "dur_ms",
        F.when(F.col("codec") == "pcm_s16le", F.col("dur_ms") * 3).otherwise(
            F.col("dur_ms")
        ),
    )
    return fit_cohort_models(a), fit_cohort_models(b)


def test_numeric_drift_flags_shifted_attribute(two_snapshots):
    ma, mb = two_snapshots
    out = _drift(ma, mb, "numeric")
    hit = out[(out.attribute == "dur_ms") & (out.codec == "pcm_s16le")]
    assert len(hit) > 0
    measured = hit[hit.drifted.notna()]
    assert len(measured) > 0 and measured.drifted.all(), measured
    # the catalog column (sr_hz histogram attr is categorical; rms is
    # untouched) must NOT drift
    calm = out[(out.attribute == "rms") & out.drifted.notna()]
    assert not calm.drifted.any(), calm[calm.drifted]


def test_numeric_drift_same_distribution_is_calm(spark, two_snapshots):
    ma, _ = two_snapshots
    mb = fit_cohort_models(_profiles(spark, 1500, 3000))
    out = _drift(ma, mb, "numeric")
    measured = out[out.drifted.notna()]
    assert len(measured) > 0
    # same generator, disjoint index ranges: nothing should move
    assert not measured.drifted.any(), measured[measured.drifted]


def test_numeric_drift_structural_cohorts_are_null(two_snapshots):
    ma, mb = two_snapshots
    # drop one cohort entirely from the "new" snapshot → structural
    gone = min((r.codec, r.lang_pred) for r in mb)
    mb2 = [r for r in mb if (r.codec, r.lang_pred) != gone]
    out = pd.DataFrame(model_drift(ma, mb2))
    row = out[(out.codec == gone[0]) & (out.lang_pred == gone[1])]
    num = row[row.kind == "numeric"]
    assert len(num) > 0
    assert num.drifted.isna().all()
    assert num.n_new.isna().all()
    # its sr_hz histogram is on the old side only: a one-sided value
    # mix reads TVD 0.5, with no threshold and no verdict
    cat = row[row.kind == "categorical"]
    assert len(cat) == 1
    assert (cat.metric == 0.5).all()
    assert cat.threshold.isna().all() and cat.drifted.isna().all()


def test_categorical_drift_tvd(spark, two_snapshots):
    ma, _ = two_snapshots
    # force a new sr mix in snapshot B: everything at 8 kHz
    mb = fit_cohort_models(
        _profiles(spark, 1500, 1500).withColumn("sr_hz", F.lit(8000))
    )
    out = _drift(ma, mb, "categorical")
    assert (out.attribute == "sr_hz").all()
    measured = out[out.drifted.notna()]
    assert len(measured) > 0
    # the dominant rate was 16 kHz → mix collapse is a large TVD
    assert measured.drifted.any()
    assert (measured.metric <= 1.0).all() and (measured.metric >= 0.0).all()


def test_categorical_drift_same_distribution_is_calm(spark, two_snapshots):
    ma, _ = two_snapshots
    mb = fit_cohort_models(_profiles(spark, 1500, 4500))
    out = _drift(ma, mb, "categorical")
    measured = out[out.drifted.notna()]
    assert len(measured) > 0
    assert not measured.drifted.any(), measured[measured.drifted]


def test_round_half_up_matches_spark_round(spark):
    """The drift threshold is rounded on the driver; Spark's round is
    HALF_UP on the decimal repr, so ties go up where Python's round
    goes to the nearest binary neighbour."""
    ties = [0.1234565, 0.2500005, 0.1000005, 0.3333335, 1.0000005, 0.123456]
    want = spark.range(1).select(
        *[F.round(F.lit(v), 6).alias(f"v{i}") for i, v in enumerate(ties)]
    ).first()
    assert [round_half_up(v, 6) for v in ties] == list(want)


def test_null_cohort_key_matches_nothing():
    """A NULL cohort key compares as in SQL: it matches nothing, so the
    same NULL-codec cohort on both sides is two one-sided (structural)
    records per kind, never a measured verdict."""
    hist = {"16000": 90, "8000": 10}

    def rows(median):
        return [
            {"codec": None, "lang_pred": "en", "attribute": "dur_ms", "n": 100,
             "median": median, "mad": 1.0, "histogram": None},
            {"codec": None, "lang_pred": "en", "attribute": "sr_hz", "n": 100,
             "median": None, "mad": None, "histogram": hist},
        ]

    out = pd.DataFrame(model_drift(rows(10.0), rows(50.0)))
    assert len(out) == 6  # 2 numeric attributes x 2 sides + 2 categorical
    assert out.drifted.isna().all() and out.threshold.isna().all()
    cat = out[out.kind == "categorical"]
    assert sorted(zip(cat.n_old.fillna(0), cat.n_new.fillna(0))) == [(0, 100), (100, 0)]
    assert (cat.metric == 0.5).all()

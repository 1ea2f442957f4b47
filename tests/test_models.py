"""Stage B's cohort-model fit (plans/models.py): one bin-count
aggregate, statistics derived on the driver. Exact mode against numpy
and Spark's `percentile`; the default binning's invariance under
partitioning and merge order, its accuracy bound, the constant
cohort that a bin-centre representative would break, and the
near-constant cohort that a bin-resolution MAD would break."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bdqc_spark.plans.models import ALPHA, COHORT_COLS, MODEL_ATTRS, _flat_attrs, fit_cohort_models

QUANTILES = {"p01": 0.01, "p25": 0.25, "p75": 0.75, "p99": 0.99}


def _profiles(spark, pdf: pd.DataFrame):
    """Nest flat columns into the profile shape the fit reads."""
    return spark.createDataFrame(pdf).select(
        "codec",
        "sr_hz",
        "dur_ms",
        F.struct("pcm_ok", "dur_ms_decoded", "rms", "speech_ratio").alias("audio"),
        F.struct("n_chars", "n_tokens").alias("text"),
        F.struct("pred", "ppl").alias("lang"),
    )


def _seeded(n: int, seed: int, cohorts=(("pcm_s16le", "en"), ("wav", "de"))) -> pd.DataFrame:
    """Lognormal attributes with ties (integer dur_ms, n_tokens),
    zeros (rms, n_tokens, ppl = 1 → log_ppl = 0), nulls (rms, sr_hz)
    and log_cps of both signs (few chars over seconds of speech)."""
    rng = np.random.default_rng(seed)
    codec, pred = zip(*(cohorts[i] for i in rng.integers(0, len(cohorts), n)))
    dur = rng.choice([800, 1200, 1500, 2000, 2600, 4000], n).astype(np.int32)
    rms = rng.lognormal(-2.0, 0.6, n)
    rms[rng.random(n) < 0.05] = 0.0
    ppl = rng.lognormal(4.0, 0.5, n)
    ppl[rng.random(n) < 0.05] = 1.0
    sr = rng.choice([8000, 16000, 44100], n).astype(np.int32)
    return pd.DataFrame(
        {
            "codec": codec,
            "sr_hz": pd.array(np.where(rng.random(n) < 0.05, None, sr), dtype="Int32"),
            "dur_ms": dur,
            "pcm_ok": np.ones(n, dtype=bool),
            "dur_ms_decoded": dur,
            "rms": np.where(rng.random(n) < 0.05, np.nan, rms),
            "speech_ratio": rng.uniform(0.3, 0.95, n),
            "n_chars": rng.integers(1, 60, n).astype(np.int32),
            "n_tokens": rng.integers(0, 12, n).astype(np.int32),
            "pred": pred,
            "ppl": ppl,
        }
    )


def _interpolate(xs: np.ndarray, p: float) -> float:
    """Spark `percentile`'s linear interpolation at (n−1)·p on a sorted
    numpy array, written in its operand order. numpy's own lerp rounds
    differently in the last bit, so p01-p99 are checked against this
    and against np.quantile only to a relative 1e-12."""
    pos = (len(xs) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or xs[lo] == xs[hi]:
        return float(xs[lo])
    return (hi - pos) * float(xs[lo]) + (pos - lo) * float(xs[hi])


def test_exact_fit_matches_numpy_and_percentile(spark):
    """Exact mode: n, median, MAD, p01-p99 bit-for-bit against numpy
    over the same flat values, and against Spark's `percentile` (the
    fit the default binning replaced); categorical histograms against
    pandas value counts."""
    prof = _profiles(spark, _seeded(300, seed=0))
    flat = _flat_attrs(prof).toPandas()
    models = {(r.codec, r.lang_pred, r.attribute): r for r in fit_cohort_models(prof, exact=True)}
    assert (flat.log_cps < 0).any() and (flat.log_cps > 0).any()
    assert (flat.rms == 0).any() and flat.rms.isna().any() and (flat.log_ppl == 0).any()

    pct = ", ".join(
        f"percentile({a}, array(0.5, 0.01, 0.25, 0.75, 0.99)) AS {a}" for a in MODEL_ATTRS
    )
    sql = f"SELECT codec, lang_pred, {pct} FROM {{flat}} GROUP BY codec, lang_pred"
    spark_pct = {
        (r.codec, r.lang_pred): r for r in spark.sql(sql, flat=_flat_attrs(prof)).collect()
    }

    n_checked = 0
    for (codec, lang), g in flat.groupby(COHORT_COLS):
        for a in MODEL_ATTRS:
            xs = np.sort(g[a].dropna().to_numpy())
            if not len(xs):
                continue
            m = models[(codec, lang, a)]
            med = np.median(xs)
            assert m.n == len(xs)
            assert m.median == med
            assert m.mad == np.median(np.abs(xs - med))
            for name, p in QUANTILES.items():
                assert m[name] == _interpolate(xs, p)
                assert math.isclose(m[name], np.quantile(xs, p), rel_tol=1e-12, abs_tol=1e-300)
            want = spark_pct[(codec, lang)][a]
            assert [m.median, m.p01, m.p25, m.p75, m.p99] == want
            n_checked += 1
        hist = g.sr_hz.dropna().astype(int).astype(str).value_counts().to_dict()
        assert models[(codec, lang, "sr_hz")].histogram == hist
    assert n_checked == 2 * len(MODEL_ATTRS)


@pytest.mark.parametrize("exact", [False, True], ids=["binned", "exact"])
def test_fit_is_partition_and_merge_invariant(spark, exact):
    """Counts are integers and MIN is order-free: the model rows are
    `==`-identical (not merely close) for any partitioning of the
    profiles and for a fit over the union of two halves."""
    prof = _profiles(spark, _seeded(400, seed=1)).withColumn("i", F.monotonically_increasing_id())
    want = fit_cohort_models(prof.drop("i"), exact=exact)
    halves = prof.where(F.col("i") % 2 == 0).repartition(3).unionByName(
        prof.where(F.col("i") % 2 == 1).coalesce(1)
    )
    for df in (prof.repartition(1), prof.repartition(7), halves):
        assert fit_cohort_models(df.drop("i"), exact=exact) == want


def test_binned_quantiles_within_two_alpha_of_exact(spark):
    """On a seeded lognormal with an odd n, the exact median and p01-p99
    are order statistics, and the binned fit returns the smallest value
    of the bin holding the same order statistic: within relative 2α."""
    rng = np.random.default_rng(2)
    pdf = _seeded(401, seed=2, cohorts=(("pcm_s16le", "en"),))
    pdf["rms"] = rng.lognormal(-2.0, 0.8, len(pdf))
    prof = _profiles(spark, pdf)
    get = lambda exact: next(  # noqa: E731
        r for r in fit_cohort_models(prof, exact=exact) if r.attribute == "rms"
    )
    binned, exact = get(False), get(True)
    assert binned.n == exact.n == 401
    for name in ("median", *QUANTILES):
        assert abs(binned[name] - exact[name]) <= 2 * ALPHA * abs(exact[name])
        assert binned[name] in set(pdf.rms)


def test_constant_and_near_constant_cohorts_never_fire(spark):
    """Two cohorts of ≥ 30 rows under both binnings. In "const",
    dur_ms and rms are constant: mad == 0 and median == the value
    itself (0.1 lies inside its log bin, so a bin-centre median would
    differ). In "near", rms jitters by a relative 1e-6 around 0.1 (one
    log bin) and dur_ms spreads over 30000-30005 ms (a bin boundary
    lies between them): more than half the rows share the median's
    bin, whose binned deviations are all 0, yet mad > 0. With mad = 0,
    robust_z is +inf for any x ≠ median; no row of either cohort fires
    the robust-z rule on dur_ms or rms."""
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.synth.clips import generate_clips_df

    h = F.pmod(F.xxhash64("clip_id"), F.lit(3))
    cohort = F.when(h == 0, F.lit("const")).when(h == 1, F.lit("near"))
    u = F.abs(F.xxhash64("clip_id", F.lit(1)) % 1000) / 1000.0
    dur = F.when(h == 0, F.lit(1234)).otherwise(30000 + F.abs(F.xxhash64("clip_id", F.lit(2)) % 6))
    rms = F.when(h == 0, F.lit(0.1)).otherwise(0.1 * (1 + 1e-6 * u))
    prof = (
        profile_clips(generate_clips_df(spark, 180, seed=5))
        .withColumn("codec", F.coalesce(cohort, F.col("codec")))
        .withColumn("lang", F.col("lang").withField("pred", F.when(cohort.isNotNull(), F.lit("en")).otherwise(F.col("lang.pred"))))
        .withColumn("dur_ms", F.when(cohort.isNotNull(), dur).otherwise(F.col("dur_ms")))
        .withColumn("audio", F.col("audio").withField("rms", F.when(cohort.isNotNull(), rms).otherwise(F.col("audio.rms"))))
        .localCheckpoint()
    )
    rows = prof.where(F.col("codec").isin("const", "near")).select("codec", "clip_id", "dur_ms").collect()
    ids = {c: [r.clip_id for r in rows if r.codec == c] for c in ("const", "near")}
    assert min(map(len, ids.values())) >= 30  # MIN_COHORT_N: the deviation rules score it
    assert len({r.dur_ms for r in rows if r.codec == "near"}) == 6
    for exact in (False, True):
        models = fit_cohort_models(prof, exact=exact)
        got = {(r.codec, r.attribute): r for r in models}
        for attr, value in (("dur_ms", 1234.0), ("rms", 0.1)):
            const, near = got[("const", attr)], got[("near", attr)]
            assert const.mad == 0.0 and const.median == value and const.n == len(ids["const"])
            assert near.mad > 0 and near.n == len(ids["near"]), (exact, attr)
        dec = decide(prof, models).where(F.col("clip_id").isin(ids["const"] + ids["near"])).collect()
        assert len(dec) == len(ids["const"]) + len(ids["near"])
        assert not any(
            {"robust_z.dur_ms", "robust_z.rms"} & set(r.rule_hits or ()) for r in dec
        ), exact


def test_old_snapshot_with_mean_std_loads(tmp_path):
    """A models snapshot written while the schema still carried
    mean/std loads as rows of the current schema."""
    from bdqc_spark.plans.pipeline import MODELS_FILE, MODELS_SCHEMA, _read_models_snapshot

    hist = pa.map_(pa.string(), pa.int64())
    old = pa.table(
        {
            "codec": ["wav", "wav"], "lang_pred": ["en", "en"], "attribute": ["rms", "sr_hz"],
            "n": pa.array([40, 40], pa.int64()),
            **{c: [0.5, None] for c in ("median", "mad", "p01", "p25", "p75", "p99", "mean", "std")},
            "histogram": pa.array([None, [("16000", 40)]], hist),
        }
    )
    pq.write_table(old, str(tmp_path / MODELS_FILE))
    rows = _read_models_snapshot(str(tmp_path))
    assert [list(r) for r in rows] == [MODELS_SCHEMA.names] * 2
    assert rows[0]["median"] == 0.5 and rows[1]["histogram"] == {"16000": 40}

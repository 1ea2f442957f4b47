"""Declipping repair pass (functions/declip.py + plans/repair.py)."""

from __future__ import annotations

import numpy as np
import pytest

from bdqc_spark.functions.declip import RAIL, declip

SR = 16000


def _clipped_sine(gain, sec=2.0, f=440.0):
    t = np.arange(int(SR * sec)) / SR
    true = np.sin(2 * np.pi * f * t)
    hot = np.clip(gain * true, -1.0, 1.0)
    wire = np.clip(np.round(hot * 32767) / 32767, -1, 1).astype(np.float32)
    return wire, true


@pytest.mark.parametrize("gain", [1.05, 1.25, 1.5])
def test_reconstruction_restores_waveform(gain):
    wire, true = _clipped_sine(gain)
    assert np.mean(np.abs(wire) >= RAIL) > 0.15  # fixture really clips
    rep, st = declip(wire)
    assert st["ok"] and st["n_fixed"] > 1000
    corr = np.corrcoef(rep.astype(np.float64), true)[0, 1]
    assert corr > 0.999
    assert np.mean(np.abs(rep) >= RAIL) == 0.0  # clip_rate -> 0


def test_clean_signal_untouched():
    x = (0.5 * np.sin(2 * np.pi * 300 * np.arange(SR) / SR)).astype(np.float32)
    rep, st = declip(x)
    assert st == {"ok": True, "n_fixed": 0, "n_skipped": 0}
    assert np.array_equal(rep, x)


def test_fully_railed_clip_fails_open():
    x = np.ones(SR, dtype=np.float32)
    rep, st = declip(x)
    assert not st["ok"] and st["n_fixed"] == 0
    assert np.array_equal(rep, x)


def test_edge_runs_skipped_interior_fixed():
    wire, _ = _clipped_sine(1.2, sec=0.5)
    # force a clipped run at the very start
    wire[:10] = 1.0
    rep, st = declip(wire)
    assert st["n_skipped"] >= 1 and st["n_fixed"] > 0
    # edge run not reconstructed: still flat (the global peak rescale
    # may have scaled it — reconstructed interior lobes can exceed it —
    # but its shape stays a constant plateau)
    assert np.all(rep[:10] == rep[:10][0])
    assert rep[:10][0] > 0.5  # scaled, not zeroed


def test_repair_stage_flips_clipping_decision(spark):
    """A clip dropped ONLY for audio.clipping must come back
    now_keep=true through repair_and_redecide."""
    from pyspark.sql import functions as F

    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.plans.repair import repair_and_redecide
    from bdqc_spark.synth.clips import generate_clips_df

    clips = generate_clips_df(spark, 300, seed=51)
    # plant one hot-clipped clip (decodable, normal duration/text)
    wire, _ = _clipped_sine(1.3, sec=2.0)
    pdf = clips.limit(1).toPandas()
    pdf["clip_id"] = "planted-clip"
    pdf["bytes"] = [(np.clip(wire, -1, 1) * 32767).astype("<i2").tobytes()]
    pdf["sr_hz"] = SR
    pdf["dur_ms"] = 2000
    pdf["codec"] = "pcm_s16le"
    planted = spark.createDataFrame(pdf)
    allc = clips.unionByName(planted)

    prof = profile_clips(allc).localCheckpoint()
    models = fit_cohort_models(prof)
    from bdqc_spark.plans.decide import decide

    decisions = decide(prof, models)
    row = decisions.where(F.col("clip_id") == "planted-clip").collect()[0]
    assert not row["keep"] and "audio.clipping" in row["rule_hits"]

    redecided = repair_and_redecide(allc, decisions, models)
    got = redecided.where(F.col("clip_id") == "planted-clip").collect()[0]
    assert "declip" in got["passes_applied"]
    assert got["now_keep"], got.asDict()

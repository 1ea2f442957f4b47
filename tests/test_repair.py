"""Repair stage (plans/repair.py): eligibility classification, the
dc/trim/normalize rewrite chain on hand-built defects, and the
honest end-to-end measure — repaired clips re-decided against the
SAME cohort models recover their planted drop reasons."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bdqc_spark.plans.repair import repair_and_redecide, repair_clips, repair_plan


def test_repair_plan_eligibility(spark):
    rows = [
        Row(clip_id="trim-me", keep=False, rule_hits=["audio.low_speech"]),
        Row(clip_id="dc-and-gain", keep=False,
            rule_hits=["audio.dc_offset", "robust_z.rms"]),
        Row(clip_id="fatal-mix", keep=False,
            rule_hits=["audio.decode_failed", "audio.dc_offset"]),
        Row(clip_id="text-only", keep=False, rule_hits=["text.high_ppl"]),
        Row(clip_id="kept", keep=True, rule_hits=[]),
        Row(clip_id="silent-fatal", keep=False,
            rule_hits=["audio.silent", "robust_z.rms"]),
    ]
    plan = {r["clip_id"]: r["passes"]
            for r in repair_plan(spark.createDataFrame(rows)).collect()}
    assert plan == {
        "trim-me": ["trim"],
        "dc-and-gain": ["dc", "normalize"],
    }


def _mk_clips(spark, rows):
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string"
    )


def test_repair_chain_fixes_waveform_defects(spark):
    from bdqc_spark.functions.audio import decode, encode
    from bdqc_spark.functions.loudness import integrated_lufs

    sr = 16000
    t = np.arange(2 * sr) / sr
    tone = (0.3 * np.sin(2 * np.pi * 220 * t)).astype(np.float32)
    # defect 1: DC offset + too quiet
    quiet_dc = (tone * 0.05 + 0.11).astype(np.float32)
    # defect 2: silence-padded (0.5 s speech in 2.5 s)
    padded = np.concatenate(
        [np.zeros(sr, np.float32), tone[: sr // 2], np.zeros(sr, np.float32)]
    )
    clips = _mk_clips(spark, [
        ("fix-dc", encode(quiet_dc, "pcm_s16le"), sr, 2000, "pcm_s16le", "hi"),
        ("fix-pad", encode(padded, "pcm_s16le"), sr, 2500, "pcm_s16le", "hi"),
    ])
    decisions = spark.createDataFrame([
        Row(clip_id="fix-dc", keep=False,
            rule_hits=["audio.dc_offset", "robust_z.rms"]),
        Row(clip_id="fix-pad", keep=False, rule_hits=["audio.low_speech"]),
    ])
    out = {r["clip_id"]: r for r in
           repair_clips(clips, decisions, target_lufs=-20.0).collect()}
    assert set(out) == {"fix-dc", "fix-pad"}
    r1 = out["fix-dc"]
    assert r1["repair_ok"] and r1["passes_applied"] == "dc,normalize"
    pcm1 = decode(bytes(r1["bytes"]), "pcm_s16le")
    assert abs(float(pcm1.mean())) < 2e-3                      # DC gone
    assert integrated_lufs(pcm1, sr) == pytest.approx(-20.0, abs=0.3)
    r2 = out["fix-pad"]
    assert r2["repair_ok"] and r2["passes_applied"] == "trim"
    pcm2 = decode(bytes(r2["bytes"]), "pcm_s16le")
    # 0.5 s burst + ≤0.1 s pad each side (tolerance: one VAD frame)
    assert 0.5 <= len(pcm2) / sr <= 0.75
    assert r2["dur_ms"] == pytest.approx(len(pcm2) / sr * 1000, abs=1)
    assert r2["codec"] == "pcm_s16le"


def test_repair_fail_open_on_all_silence(spark):
    from bdqc_spark.functions.audio import encode

    sr = 16000
    clips = _mk_clips(spark, [
        ("all-silent", encode(np.zeros(sr, np.float32), "pcm_s16le"),
         sr, 1000, "pcm_s16le", "x"),
    ])
    decisions = spark.createDataFrame(
        [Row(clip_id="all-silent", keep=False, rule_hits=["audio.low_speech"])]
    )
    rows = repair_clips(clips, decisions).collect()
    # trim has nothing to keep → fail-open: payload intact, pass skipped
    assert len(rows) == 1 and rows[0]["repair_ok"]
    assert rows[0]["passes_applied"] == ""
    assert rows[0]["dur_ms"] == 1000


@pytest.fixture(scope="module")
def corpus(spark):
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.synth.clips import generate_clips_df

    clips = generate_clips_df(spark, 800, seed=53, include_labels=True).cache()
    profiles = profile_clips(
        clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    ).localCheckpoint()
    models = fit_cohort_models(profiles).collect()
    decisions = decide(profiles, models).localCheckpoint()
    return clips, models, decisions


def test_end_to_end_low_speech_recovery(spark, corpus):
    clips, models, decisions = corpus
    labels = clips.select("clip_id", "anomaly").toPandas().set_index("clip_id")
    rep = repair_and_redecide(
        clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"),
        decisions,
        models,
    ).toPandas()
    assert len(rep) > 0
    rep["anomaly"] = labels.loc[rep.clip_id, "anomaly"].to_numpy()
    h = rep[rep.anomaly == "H"]  # silence-padded → audio.low_speech
    assert len(h) > 0
    assert h.passes_applied.str.contains("trim").all()
    # the TARGETED defect must clear on every repaired H clip...
    assert not h.rule_hits_after.apply(lambda hits: "audio.low_speech" in hits).any()
    # ...and most H clips now pass the full gate (a trimmed clip can
    # still trip an unrelated rule, e.g. a duration z-score)
    assert h.now_keep.mean() >= 0.5, h[["clip_id", "rule_hits_after"]].to_dict("records")


def test_cli_repair_out(spark, tmp_path, run_cli):
    import duckdb

    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    out = str(tmp_path / "qc_out")
    rep = str(tmp_path / "repair")
    IcebergishTable(table, num_buckets=4).append(
        generate_clips_df(spark, 400, seed=54)
    )
    result = run_cli(
        "--table", table, "--out", out, "--repair-out", rep, "--master", "local[4]"
    )
    assert result["repair"]["out"] == rep
    assert result["repair"]["repaired"] > 0
    assert 0 < result["repair"]["recovered"] <= result["repair"]["repaired"]
    con = duckdb.connect()
    n_clips, = con.execute(
        f"SELECT count(*) FROM read_parquet('{rep}/clips/*.parquet')"
    ).fetchone()
    assert n_clips == result["repair"]["repaired"]
    # every repaired clip must have been a DROP in this run's decisions
    n_bad, = con.execute(
        f"""SELECT count(*) FROM read_parquet('{rep}/report/*.parquet') r
            JOIN read_parquet('{out}/decisions/*/*.parquet') d USING (clip_id)
            WHERE d.keep"""
    ).fetchone()
    assert n_bad == 0
    recovered, = con.execute(
        f"SELECT sum(CASE WHEN now_keep THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{rep}/report/*.parquet')"
    ).fetchone()
    assert recovered == result["repair"]["recovered"]


def test_fatal_rows_never_enter_repair(spark, corpus):
    clips, models, decisions = corpus
    labels = clips.select("clip_id", "anomaly").toPandas().set_index("clip_id")
    rep = repair_clips(
        clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"),
        decisions,
    ).toPandas()
    rep["anomaly"] = labels.loc[rep.clip_id, "anomaly"].to_numpy()
    # corrupt-bytes rows (class A → audio.decode_failed) are fatal
    assert not (rep["anomaly"] == "A").any()

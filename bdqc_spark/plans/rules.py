"""Keep/drop rules as *data* (SURVEY.md §2.A A15, §2.B D3).

bdqc's extension point is plugins discovered by name; the engine's
equivalent is declarative rule specs — (rule_id, SQL boolean
expression) for static heuristics, (rule_id, attribute, z-threshold)
for robust-deviation rules fit from cohort models. The rule compiler
turns both into Catalyst expressions; adding a rule is adding a row
here (or loading a JSON list), not writing code.

Threshold constants are FROZEN — the single-node oracle
(bdqc_spark/synth/oracle.py) imports them so engine and oracle can
never drift.
"""

from __future__ import annotations

from dataclasses import dataclass

# Frozen thresholds (shared with the oracle).
DUR_MISMATCH_MS = 50  # |dur_ms - decoded| tolerance, plus 10% relative
RMS_SILENT = 1e-3
CLIP_RATE_MAX = 0.2
PPL_MAX = 50_000.0
CONF_MIN = 0.5
MAX_RUN = 20
VALID_SR = (8000, 16000, 22050, 44100)
# Energy-gate VAD keep/drop: a clip of at least MIN_SPEECH_DUR_MS
# whose speech_ratio (functions/audio.py VAD leaf — frozen frame
# size/threshold live there) falls below this is mostly silence.
# Clean synthetic clips sit at ~1.0 (tones span the whole clip, beat
# nulls excepted); the silence-padded anomaly class sits at ≤0.2.
SPEECH_RATIO_MIN = 0.5
MIN_SPEECH_DUR_MS = 1000
# Effective bandwidth below this fraction of Nyquist = the catalog
# sample rate is lying about the content (sinc-upsampled or
# lossy-lowpassed material): clean content — even pure noise floors —
# measures 1.0; a 2x-upsample measures ~0.5 (functions/audio.py
# bandwidth_ratio). Evidence needs >= 1024 samples (one Welch window).
BW_RATIO_MIN = 0.6
BW_MIN_SAMPLES = 1024
# |mean sample| beyond this is a miswired/un-AC-coupled capture
# chain; synthesis and every wire codec here are DC-clean (<1e-3).
DC_OFF_MAX = 0.05
ROBUST_Z = 6.0
# Perplexity is a multiplicative quantity with a fat clean tail even
# in log space (PII/digit insertions legitimately raise char-LM ppl):
# robust-z over log(ppl) separates at ~30 — clean corpus max ≈ 28,
# gibberish (anomaly class C) min ≈ 36 at N=3000 — where raw-ppl z=6
# would flag ~4% of clean rows.
PPL_LOG_Z = 32.0
# Cross-modal speech-rate consistency (transcript chars per second
# of VAD-detected speech): a transcript wildly longer or shorter than
# its audio could carry is a pairing error — the one failure mode no
# single-modality rule can see. Modeled in log space (rate is
# multiplicative) as a per-cohort deviation rule; clips shorter than
# CPS_MIN_DUR_MS carry too little evidence (integer word counts make
# the ratio quantization-noisy below ~2 s) and contribute NULL.
# Threshold placement (measured, 3000-row corpus, synth/clips.py):
# clean log_cps robust-z max 3.12, planted class-I min 7.49 (28/29
# supported I rows fire at z=8), class-H rows span z 4-11 but are
# keep=false regardless via audio.low_speech — so a sketch-vs-exact
# flip near the threshold can only reorder rule_hits, never the
# keep/drop decision, for every planted class.
CPS_LOG_Z = 8.0
CPS_MIN_DUR_MS = 2000

# Deviation rules need minimum cohort support: robust stats from a
# handful of rows are noise (bdqc likewise skips models on tiny
# cohorts). Below this n, deviation rules do not fire.
MIN_COHORT_N = 30
# Categorical deviation: a value whose within-cohort frequency is
# below this fraction is an outlier suspect (bdqc DataModel/Scalar.pm
# flags rare/unique categorical values).
RARE_FRAC = 0.01


@dataclass(frozen=True)
class StaticRule:
    rule_id: str
    expr: str  # Spark SQL boolean expression over the flat profile
    # primary observed column, reported by explain; rules spanning
    # several columns name the most informative one
    attribute: str


@dataclass(frozen=True)
class DeviationRule:
    rule_id: str
    attribute: str  # must exist in cohort_models
    z_threshold: float


@dataclass(frozen=True)
class CategoricalRule:
    rule_id: str
    attribute: str  # must have a histogram row in cohort_models
    rare_frac: float


STATIC_RULES: tuple[StaticRule, ...] = (
    StaticRule("audio.decode_failed", "NOT pcm_ok", "pcm_ok"),
    StaticRule(
        "audio.dur_mismatch",
        f"pcm_ok AND abs(dur_ms - dur_ms_decoded) > greatest({DUR_MISMATCH_MS}, 0.1 * dur_ms)",
        "dur_ms_decoded",
    ),
    StaticRule("audio.silent", f"pcm_ok AND rms < {RMS_SILENT}", "rms"),
    StaticRule("audio.clipping", f"pcm_ok AND clip_rate > {CLIP_RATE_MAX}", "clip_rate"),
    # Container header cross-check: a WAV payload whose fmt-chunk rate
    # disagrees with the catalog's sr_hz column (hdr_sr = 0 for raw
    # codecs — no container, no evidence).
    StaticRule("audio.hdr_sr_mismatch", "pcm_ok AND hdr_sr > 0 AND hdr_sr != sr_hz", "hdr_sr"),
    StaticRule(
        "audio.low_speech",
        f"pcm_ok AND dur_ms_decoded >= {MIN_SPEECH_DUR_MS} AND speech_ratio < {SPEECH_RATIO_MIN}",
        "speech_ratio",
    ),
    StaticRule(
        "audio.bandwidth_low",
        f"pcm_ok AND n_samples >= {BW_MIN_SAMPLES} AND bw_ratio < {BW_RATIO_MIN}",
        "bw_ratio",
    ),
    StaticRule("audio.dc_offset", f"pcm_ok AND abs(dc_off) > {DC_OFF_MAX}", "dc_off"),
    StaticRule("meta.sr_invalid", f"sr_hz NOT IN {VALID_SR}", "sr_hz"),
    StaticRule("text.empty", "n_tokens = 0", "n_tokens"),
    StaticRule("text.high_ppl", f"ppl > {PPL_MAX}", "ppl"),
    StaticRule("text.lang_conf_low", f"n_tokens > 0 AND conf < {CONF_MIN}", "conf"),
    StaticRule("text.max_run", f"max_run >= {MAX_RUN}", "max_run"),
)

# One rule per modeled attribute (plans/models.py MODEL_ATTRS): bdqc's
# core semantic is "file flagged iff ANY attribute deviates from its
# cohort model" (lib/BDQC/KB.pm getOutliers, reconstructed).
DEVIATION_RULES: tuple[DeviationRule, ...] = (
    DeviationRule("robust_z.dur_ms", "dur_ms", ROBUST_Z),
    DeviationRule("robust_z.log_ppl", "log_ppl", PPL_LOG_Z),
    DeviationRule("robust_z.rms", "rms", ROBUST_Z),
    DeviationRule("robust_z.n_tokens", "n_tokens", ROBUST_Z),
    # cross-modal: chars per second of detected speech (see CPS_LOG_Z)
    DeviationRule("robust_z.log_cps", "log_cps", CPS_LOG_Z),
)

CATEGORICAL_RULES: tuple[CategoricalRule, ...] = (
    CategoricalRule("categorical.rare_sr", "sr_hz", RARE_FRAC),
)

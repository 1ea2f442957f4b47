"""Repair stage: fix flagged clips in place instead of only dropping
them.

The reference pipeline profiles and FLAGS (SURVEY.md §2 A10/A11);
a Spark-first training-data pipeline can close the loop: several
drop reasons are mechanical defects with known rewrites —

    audio.low_speech   → VAD silence trim   (padding, not absence)
    audio.dc_offset    → DC removal         (subtract the mean)
    audio.clipping     → declip             (cubic reconstruction of
                                             railed runs, functions/declip.py)
    robust_z.rms       → loudness normalize (gain to target LUFS)

A clip is repair-ELIGIBLE when it was dropped, at least one of its
rule hits is repairable, and none of its hits is audio-fatal
(audio.decode_failed / audio.silent / meta.sr_invalid — nothing to
rewrite, or the metadata itself lies). Passes apply in the fixed
order dc → declip → trim → normalize (each corrects what the next one
measures: DC skews both the VAD energies and the loudness gate), in
ONE decode→rewrite→encode Arrow pass per clip — not a chain of the
three standalone passes, which would decode three times.

Scale shape: the eligible set is a small fraction of the corpus
(flagged ∧ repairable); `repair_clips` inner-joins that KB-per-
partition plan into the clips scan on clip_id, so only eligible rows
ever reach the Arrow stage, bytes stay map-side, and the join is the
pipeline's existing hash-partitioned key. `repair_and_redecide`
re-profiles ONLY the repaired rows and re-runs `decide` against the
SAME cohort model snapshot — the honest measure of a repair: does
the original gate now pass (`now_keep`), with no model refit that
could move the goalposts.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rule_id → repair pass
REPAIRABLE = {
    "audio.low_speech": "trim",
    "audio.dc_offset": "dc",
    "audio.clipping": "declip",
    "robust_z.rms": "normalize",
}
# hits that make a clip unrepairable regardless of other hits
FATAL = ("audio.decode_failed", "audio.silent", "meta.sr_invalid")
# declip runs after dc (DC shifts what counts as a rail hit is not an
# issue — rails are absolute — but reconstruction anchors should be
# DC-corrected) and before trim/normalize (which re-measure energy)
PASS_ORDER = ("dc", "declip", "trim", "normalize")

REPAIR_FIELDS = (
    "bytes binary, sr_hz int, dur_ms int, codec string, "
    "repair_ok boolean, passes_applied string"
)


def repair_plan(decisions: DataFrame) -> DataFrame:
    """decisions(clip_id, keep, rule_hits, ...) → (clip_id, passes)
    for repair-eligible clips. Pure Catalyst — array ops on the
    KB-sized rule vocabulary, no UDFs."""
    repair_map = F.create_map(
        *[F.lit(x) for kv in REPAIRABLE.items() for x in kv]
    )
    passes = F.array_distinct(
        F.transform(
            F.filter(F.col("rule_hits"), lambda h: h.isin(*REPAIRABLE)),
            lambda h: F.element_at(repair_map, h),
        )
    )
    fatal = F.exists(F.col("rule_hits"), lambda h: h.isin(*FATAL))
    return (
        decisions.where(~F.col("keep") & ~fatal)
        .withColumn("passes", passes)
        .where(F.size("passes") > 0)
        .select("clip_id", "passes")
    )


def _repair_arrow(target_lufs: float, pad_ms: int):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from bdqc_spark.functions.audio import CODECS, decode_arrow_slice, encode
        from bdqc_spark.functions.normalize import normalize_gain, trim_silence
        from bdqc_spark.plans.profile import _binary_buffers

        for batch in batches:
            n = batch.num_rows
            barr = batch.column(batch.schema.get_field_index("bytes"))
            offsets, data = _binary_buffers(barr)
            nulls = pa.compute.is_null(barr).to_numpy(zero_copy_only=False)
            codec = batch.column(batch.schema.get_field_index("codec")).to_pylist()
            sr_arr = batch.column(batch.schema.get_field_index("sr_hz"))
            sr_null = pa.compute.is_null(sr_arr).to_numpy(zero_copy_only=False)
            sr = sr_arr.to_numpy(zero_copy_only=False)
            passes_col = batch.column(
                batch.schema.get_field_index("passes")
            ).to_pylist()

            ok = np.zeros(n, dtype=bool)
            dur_ms = np.zeros(n, dtype=np.int32)
            payload: list = [None] * n
            applied: list = [None] * n
            for i in range(n):
                if nulls[i] or codec[i] not in CODECS or sr_null[i] or not (sr[i] > 0):
                    continue
                want = set(passes_col[i] or ())
                try:
                    pcm = decode_arrow_slice(
                        data, int(offsets[i]), int(offsets[i + 1]), codec[i]
                    )
                    done = []
                    if "dc" in want:
                        pcm = (pcm - np.float32(pcm.mean())) if pcm.size else pcm
                        done.append("dc")
                    if "declip" in want:
                        from bdqc_spark.functions.declip import declip as _declip

                        pcm, dst = _declip(pcm)
                        # fail-open: a fully-railed clip has no anchor
                        # samples — leave it for the drop path
                        if dst["ok"] and dst["n_fixed"] > 0:
                            done.append("declip")
                    if "trim" in want:
                        trimmed, _, _ = trim_silence(pcm, int(sr[i]), pad_ms)
                        # fail-open: an all-silent clip has nothing to
                        # keep — leave it for the drop path
                        if trimmed.size:
                            pcm = trimmed
                            done.append("trim")
                    if "normalize" in want:
                        pcm, _, _, _ = normalize_gain(pcm, int(sr[i]), target_lufs)
                        done.append("normalize")
                except (ValueError, TypeError):
                    continue
                ok[i] = True
                dur_ms[i] = int(round(pcm.shape[0] * 1000.0 / sr[i]))
                payload[i] = encode(pcm, "pcm_s16le")
                applied[i] = ",".join(done)

            passthrough = {
                name: batch.column(batch.schema.get_field_index(name))
                for name in batch.schema.names
                if name not in ("bytes", "sr_hz", "dur_ms", "codec", "passes")
            }
            yield pa.RecordBatch.from_pydict(
                {
                    **passthrough,
                    "bytes": pa.array(payload, pa.binary()),
                    "sr_hz": pa.array(np.where(ok, sr, 0).astype(np.int32), pa.int32()),
                    "dur_ms": pa.array(dur_ms, pa.int32()),
                    "codec": pa.array(
                        ["pcm_s16le" if o else None for o in ok], pa.string()
                    ),
                    "repair_ok": pa.array(ok),
                    "passes_applied": pa.array(applied, pa.string()),
                }
            )

    return run


def repair_clips(
    clips: DataFrame,
    decisions: DataFrame,
    target_lufs: float = -23.0,
    pad_ms: int = 100,
) -> DataFrame:
    """clips × decisions → repaired rows (eligible clips only), with
    rewritten pcm_s16le payloads, recomputed dur_ms, and the audit
    trail of passes actually applied."""
    plan = repair_plan(decisions)
    eligible = clips.join(plan, on="clip_id", how="inner")
    passthrough = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in eligible.schema.fields
        if f.name not in ("bytes", "sr_hz", "dur_ms", "codec", "passes")
    )
    return eligible.mapInArrow(
        _repair_arrow(target_lufs, pad_ms), f"{passthrough}, {REPAIR_FIELDS}"
    )


def redecide_repaired(fixed: DataFrame, models_rows: list) -> DataFrame:
    """Repaired (repair_ok) rows → re-profiled and re-decided against
    the SAME cohort model snapshot (its collected rows, as `decide`
    takes them) → (clip_id, passes_applied,
    now_keep, rule_hits_after). Split out so a sink can write the
    rewritten payloads ONCE and run the report off the written data
    (one Arrow rewrite pass total)."""
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.profile import profile_clips

    audit = fixed.select("clip_id", "passes_applied")
    cols = [c for c in ("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
            if c in fixed.columns]
    profiles = profile_clips(fixed.select(*cols))
    redecided = decide(profiles, models_rows).select(
        "clip_id",
        F.col("keep").alias("now_keep"),
        F.col("rule_hits").alias("rule_hits_after"),
    )
    return audit.join(redecided, on="clip_id", how="inner")


def repair_and_redecide(
    clips: DataFrame,
    decisions: DataFrame,
    models_rows: list,
    target_lufs: float = -23.0,
    pad_ms: int = 100,
) -> DataFrame:
    """The honest repair report: repair + redecide_repaired composed."""
    repaired = repair_clips(clips, decisions, target_lufs, pad_ms)
    return redecide_repaired(repaired.where(F.col("repair_ok")), models_rows)

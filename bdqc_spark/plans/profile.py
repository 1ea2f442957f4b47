"""Stage 1 — per-clip profiling (SURVEY.md §3.2 stage 1).

The bdqc analogue is calcSignatures (lib/BDQC/KB.pm →
FileSignature/{Generic,Text,Binary}.pm, reconstructed): one pass per
file computing the nested signature map. Here: ONE map-side stage
over the clips table producing `audio`, `text`, `lang` structs —
no shuffle, and `bytes` is consumed *inside* this stage and never
materialized past it (column pruning keeps it out of every
downstream plan — the single most important property at 100 TB).

Python crossing: exactly ONE `mapInArrow` pass. The audio payloads
are read as zero-copy numpy views over the Arrow binary buffers
(bdqc_spark.functions.audio.decode_arrow_slice) — no per-row
PyBytes objects, no pandas object columns; measured ~2× faster than
the equivalent pandas UDF on this column (BENCH.md). langid +
perplexity share the same pass (and its text-encode work). Text
composition stats stay in Catalyst (whole-stage codegen).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdqc_spark.functions import text as T

_PROFILE_FIELDS = (
    "pcm_ok boolean, n_samples int, dur_ms_decoded int, rms double, "
    "peak double, clip_rate double, dc_off double, "
    "hdr_sr int, speech_ratio double, bw_ratio double, "
    "lang_pred string, lang_conf double, ppl double"
)


def _binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) numpy views of an Arrow (large_)binary array."""
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return offsets, data


def _profile_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # Worker-side imports; models are lru_cached per worker process.
    from bdqc_spark.functions.audio import (
        CODECS,
        _parse_wav,
        bandwidth_ratio,
        decode_arrow_slice,
        speech_ratio,
    )
    from bdqc_spark.functions.flac import _parse_stream_header as _flac_header
    from bdqc_spark.functions.langid import predict_batch
    from bdqc_spark.functions.lm import perplexity_batch

    for batch in batches:
        n = batch.num_rows
        barr = batch.column(batch.schema.get_field_index("bytes"))
        offsets, data = _binary_buffers(barr)
        nulls = pa.compute.is_null(barr).to_numpy(zero_copy_only=False)
        codec = batch.column(batch.schema.get_field_index("codec")).to_pylist()
        sr_arr = batch.column(batch.schema.get_field_index("sr_hz"))
        # null ints surface as NaN after to_numpy — consult the validity
        # bitmap, not the values (a NaN passes neither `is None` nor `<= 0`)
        sr_null = pa.compute.is_null(sr_arr).to_numpy(zero_copy_only=False)
        sr = sr_arr.to_numpy(zero_copy_only=False)

        pcm_ok = np.zeros(n, dtype=bool)
        n_samples = np.zeros(n, dtype=np.int32)
        dur_dec = np.zeros(n, dtype=np.int32)
        rms = np.zeros(n, dtype=np.float64)
        peak = np.zeros(n, dtype=np.float64)
        clip_rate = np.zeros(n, dtype=np.float64)
        dc_off = np.zeros(n, dtype=np.float64)
        hdr_sr = np.zeros(n, dtype=np.int32)
        sp_ratio = np.zeros(n, dtype=np.float64)
        bw = np.ones(n, dtype=np.float64)  # 1.0 = full band / no evidence

        for i in range(n):
            if nulls[i] or codec[i] not in CODECS or sr_null[i] or not (sr[i] > 0):
                continue
            try:
                pcm = decode_arrow_slice(data, int(offsets[i]), int(offsets[i + 1]), codec[i])
            except (ValueError, TypeError):
                continue
            ns = pcm.shape[0]
            pcm_ok[i] = True
            n_samples[i] = ns
            dur_dec[i] = int(round(ns * 1000.0 / sr[i]))
            if ns:
                # fused, allocation-free stats (measured 65→32 µs/clip
                # vs the abs/square temporaries): BLAS dot for the
                # energy, min/max for peak, count_nonzero for clips.
                # float32 dot accumulation differs from the float64
                # mean-of-squares by ~1e-7 relative — orders of
                # magnitude inside the z≥6 decision margins; the
                # single-node oracle uses the IDENTICAL formula
                # (synth/oracle.py) so engine and oracle cannot drift.
                mx, mn = float(pcm.max()), float(pcm.min())
                rms[i] = float(np.sqrt(float(np.dot(pcm, pcm)) / ns))
                peak[i] = max(mx, -mn)
                clip_rate[i] = (
                    int(np.count_nonzero(pcm >= 0.999))
                    + int(np.count_nonzero(pcm <= -0.999))
                ) / ns
                dc_off[i] = float(pcm.sum(dtype=np.float64)) / ns
                sp_ratio[i] = speech_ratio(pcm, int(sr[i]))
                bw[i] = bandwidth_ratio(pcm, int(sr[i]))
            if codec[i] == "wav":
                # decode succeeded so the header re-parse cannot fail;
                # surfaces the container's own sample rate for the
                # audio.hdr_sr_mismatch catalog cross-check
                hdr_sr[i] = _parse_wav(data, int(offsets[i]), int(offsets[i + 1]))["hdr_sr"]
            elif codec[i] == "flac":
                # same cross-check from the FLAC STREAMINFO block
                hdr_sr[i] = _flac_header(
                    data[int(offsets[i]) : int(offsets[i + 1])]
                )[0]["sr"]

        transcripts = batch.column(batch.schema.get_field_index("transcript")).to_pandas()
        lang = predict_batch(transcripts)
        ppl = perplexity_batch(transcripts)

        passthrough = {
            name: batch.column(batch.schema.get_field_index(name))
            for name in batch.schema.names
            if name != "bytes"
        }
        out = pa.RecordBatch.from_pydict(
            {
                **passthrough,
                "pcm_ok": pa.array(pcm_ok),
                "n_samples": pa.array(n_samples, pa.int32()),
                "dur_ms_decoded": pa.array(dur_dec, pa.int32()),
                "rms": pa.array(rms),
                "peak": pa.array(peak),
                "clip_rate": pa.array(clip_rate),
                "dc_off": pa.array(dc_off),
                "hdr_sr": pa.array(hdr_sr, pa.int32()),
                "speech_ratio": pa.array(sp_ratio),
                "bw_ratio": pa.array(bw),
                "lang_pred": pa.array(lang["pred"].to_numpy(), pa.string()),
                "lang_conf": pa.array(lang["conf"].to_numpy(), pa.float64()),
                "ppl": pa.array(ppl),  # +inf for no-evidence rows (Arrow-safe)
            }
        )
        yield out


def _nest_profile(flat: DataFrame, keep: list[str]) -> DataFrame:
    return flat.select(
        *keep,
        F.struct(
            F.col("pcm_ok"),
            F.col("n_samples"),
            F.col("dur_ms_decoded"),
            F.col("rms"),
            F.col("peak"),
            F.col("clip_rate"),
            F.col("dc_off"),
            F.col("hdr_sr"),
            F.col("speech_ratio"),
            F.col("bw_ratio"),
        ).alias("audio"),
        T.profile_struct(F.col("transcript")).alias("text"),
        F.struct(
            F.col("lang_pred").alias("pred"),
            F.col("lang_conf").alias("conf"),
            F.col("ppl"),
        ).alias("lang"),
    )


def profile_clips(clips: DataFrame) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript [,bucket])
    → profiles(clip_id, sr_hz, dur_ms, codec, transcript [,bucket],
               audio struct, text struct, lang struct)
    """
    keep = [c for c in clips.columns if c != "bytes"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in clips.schema.fields if f.name != "bytes"
    )
    flat = clips.mapInArrow(_profile_arrow, f"{schema}, {_PROFILE_FIELDS}")
    return _nest_profile(flat, keep)


# --------------------------------------------------------------------------
# Direct-read fast path: workers read their own parquet files
# --------------------------------------------------------------------------
def direct_scan_files(clips: DataFrame, buckets: list[int] | None = None) -> list | None:
    """[(path, bucket), ...] when `clips` is a PLAIN manifest scan of
    bucket-partitioned parquet (the IcebergishTable.read shape), else
    None. The gate is strict: the analyzed plan must be a bare
    LogicalRelation (no Project/Filter — e.g. with_bucket's computed
    bucket column, or read_incremental's tombstone anti-filter,
    disqualifies, because there file↛rows) and every file must live
    under a bucket=N partition directory. It opens no file: the file
    list is the one the scan already planned, and a file written
    before an added column is handled in the task."""
    import re

    try:
        plan = clips._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        files = clips.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    want = None if buckets is None else {int(b) for b in buckets}
    out = []
    for f in files:
        m = re.search(r"bucket=(\d+)/[^/]+$", f)
        if m is None:
            return None
        b = int(m.group(1))
        if want is None or b in want:
            out.append((re.sub(r"^file:/{0,2}(?=/)", "", f), b))
    return out


def profile_clips_direct(
    spark, files: list, clips: DataFrame, profiled: list[str] | None = None
) -> DataFrame:
    """profile_clips over an explicit (path, bucket) file list, read
    worker-side: each task OPENS AND DECODES ITS OWN parquet files
    with pyarrow (row-group streaming, single-threaded per task) and
    runs the exact `_profile_arrow` computation on their batches, so
    the values are bit-identical to profile_clips(read(files)); only
    the transport of `bytes` changes. The audio payload goes parquet →
    Arrow → numpy views inside ONE process: it never crosses the JVM
    columnar reader or the JVM→Python Arrow socket, which an A/B
    probe showed was ~90% of the profile stage's cost (a pass-through
    mapInArrow over the JVM scan of the 15 GB bench corpus took
    12.9s; the Python compute itself only +1.5s on top).

    `profiled` (committed profile parquet files) is the key filter of
    incremental and resume runs: a clip whose clip_id appears in
    their clip_id column is left out, as a left-anti join on clip_id
    would leave it out. Each task reads that column once, then reads
    only the clip_id column of each data file and builds its mask with
    `pc.is_in`; a file whose rows are all profiled is skipped without
    reading its payload, the others stream their batches through the
    mask. No broadcast, no JVM join, no shuffle. The set is global,
    not per bucket: a rebucket moves clip ids between buckets, so a
    bucket's own profiles do not prove a clip unprofiled.

    A column of `clips` that a file lacks (written before an append
    added it) is filled with nulls of the declared type, as the JVM
    scan surfaces it; the gate needs no footer read.

    Task shape: k = min(|buckets|, defaultParallelism) tasks, each
    holding WHOLE buckets (every file of a bucket), assigned greedy
    longest-first by summed file bytes. Each task pays PySpark's
    fixed per-task Python cost (worker hand-off, Arrow stream set-up)
    once, not once per file — at this scale that fixed cost, not the
    kernels, was most of the stage (3000 clips, 16 files, 4 cores:
    16 → 4 tasks cut its summed task time by half and its wall by
    40%). Whole buckets per task keep every
    bucket's rows in exactly one output partition, so a
    ("bucket", "clip_id")-sorted partitionBy("bucket") write still
    makes one sorted file per bucket, and downstream stages can reuse
    the partitioning without a shuffle. The manifest plans, and the
    worker that consumes the bytes is the one that reads them — the
    standard native-scan integration at 100 TB."""
    from pyspark.sql.pandas.types import to_arrow_type

    file_order = [c for c in clips.columns if c != "bucket"]
    keep = [c for c in clips.columns if c != "bytes"]
    # declared in the order gen() emits: the file columns, then bucket
    # (mapInArrow matches declared fields to batch columns by position)
    types = {f.name: f.dataType.simpleString() for f in clips.schema.fields}
    schema = ", ".join(f"{c} {types[c]}" for c in file_order + ["bucket"] if c != "bytes")
    arrow_types = {f.name: to_arrow_type(f.dataType) for f in clips.schema.fields}

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        known = (
            ds.dataset(profiled, format="parquet")
            .to_table(columns=["clip_id"], use_threads=False)
            .column(0)
            .combine_chunks()
            if profiled
            else None
        )
        # this task's files: the group of each range row it holds
        todo = (pb for b in batches for i in b.column(0).to_pylist() for pb in groups[i])
        for path, bucket in todo:
            pf = pq.ParquetFile(path)
            try:
                mask = None
                if known is not None:
                    ids = pf.read(columns=["clip_id"], use_threads=False).column(0)
                    mask = pc.invert(pc.is_in(ids, value_set=known, skip_nulls=True))
                    if not pc.any(mask).as_py():
                        continue  # every row already profiled (or none)
                    mask = None if pc.all(mask).as_py() else mask.combine_chunks()
                have = set(pf.schema_arrow.names)
                done = 0
                for rb in pf.iter_batches(
                    batch_size=256,
                    columns=[c for c in file_order if c in have],
                    use_threads=False,
                ):
                    n = rb.num_rows
                    # column order pinned to the declared schema
                    # (passthrough order in _profile_arrow follows
                    # the input batch's field order)
                    rb = pa.RecordBatch.from_arrays(
                        [
                            rb.column(c) if c in have else pa.nulls(n, arrow_types[c])
                            for c in file_order
                        ]
                        + [pa.array([bucket] * n, pa.int32())],
                        names=file_order + ["bucket"],
                    )
                    if mask is not None:
                        rb = rb.filter(mask.slice(done, n))
                        done += n
                        if not rb.num_rows:
                            continue
                    yield from _profile_arrow(iter([rb]))
            finally:
                pf.close()

    by_bucket: dict[int, list[str]] = {}
    for p, b in files:
        by_bucket.setdefault(int(b), []).append(p)
    k = max(1, min(len(by_bucket), spark.sparkContext.defaultParallelism))
    groups: list[list[tuple[str, int]]] = [[] for _ in range(k)]
    load = [0] * k
    sized = sorted(
        ((sum(os.path.getsize(p) for p in paths), b, paths) for b, paths in by_bucket.items()),
        key=lambda t: (-t[0], t[1]),
    )
    for size, b, paths in sized:
        i = load.index(min(load))
        groups[i].extend((p, b) for p in paths)
        load[i] += size
    # Task i gets row i of a JVM range and profiles groups[i]: no
    # Python RDD feeds the mapInArrow (measured: a parallelize/flatMap
    # input cost stage A ~0.4 s more on the incremental benchmark).
    flat = spark.range(0, k, 1, k).mapInArrow(gen, f"{schema}, {_PROFILE_FIELDS}")
    return _nest_profile(flat, keep)

"""The end-to-end pipeline with per-partition checkpoint/resume
(SURVEY.md §3.2, §4.3; BASELINE.json:14 "resumable from checkpoint
with per-partition lineage + metrics").

bdqc analogue: the KB is the reference's resumability mechanism —
scan skips files already in the KB (lib/BDQC/KB.pm, reconstructed).
The engine replaces the single mutable JSON blob with state tables
keyed by *bucket* (the hash(clip_id) partition):

  out/
    profiles/bucket=k/    stage-1 checkpoint (signatures per clip)
    decisions/bucket=k/   final keep/drop + scrubbed transcript
    cohort_models/        part-00000.parquet: the current model
                          snapshot (KB "models"), replaced in place
    metrics/              per-bucket counters, one file per attempt
    lineage/              per-bucket completion records, appended
    drift/                model drift vs the previous snapshot,
                          one file per incremental refit

profiles/ and decisions/ are Spark writes. The other four are
KB-sized (one row per bucket or per (cohort, attribute)) and live on
the driver, as bdqc's KB does: `write_state` writes each file with
pyarrow to a hidden `.<name>.tmp` and `os.replace`s it into place, and
`read_state` reads a table back. A killed writer leaves only the
dot-file, which Spark, pyarrow and `read_state` all skip.

Resume = read lineage, skip completed buckets, process the
remainder. Within a pending bucket stage A profiles only the clips
whose clip_id profiles/ does not hold yet (J5's left-anti semantics).
Writes use dynamic partition overwrite so a re-run of a half-written
bucket is idempotent; rows are sorted by clip_id within each bucket
so re-runs produce content-identical decisions.

Scale shape: stage A is map-only over pending buckets (bytes never
leaves it). Over a plain manifest scan, fresh, resume and incremental
runs alike, each task reads its own data files with pyarrow and
applies the clip_id key filter there: no JVM scan, join or shuffle.
Stage B is one grouped aggregate over the profile scalars: it
shuffles only partial bin counts, and the driver derives the models
from the collected count rows, whose number the bins bound rather
than the clips (plans/models.py). Stage C
is a broadcast join + map-side writes.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdqc_spark.plans.decide import decide
from bdqc_spark.plans.drift import model_drift
from bdqc_spark.plans.models import fit_cohort_models
from bdqc_spark.plans.profile import profile_clips

_HIST = pa.map_(pa.string(), pa.int64())
MODELS_FILE = "part-00000.parquet"
MODELS_SCHEMA = pa.schema(
    [("codec", pa.string()), ("lang_pred", pa.string()), ("attribute", pa.string()),
     ("n", pa.int64()),
     *((c, pa.float64()) for c in ("median", "mad", "p01", "p25", "p75", "p99")),
     ("histogram", _HIST)]
)
LINEAGE_SCHEMA = pa.schema(
    [("partition_id", pa.int32()), ("input_snapshot", pa.string()), ("attempt", pa.int32()),
     ("started_at", pa.timestamp("us")), ("finished_at", pa.timestamp("us")),
     ("status", pa.string())]
)
DRIFT_SCHEMA = pa.schema(
    [("kind", pa.string()), ("codec", pa.string()), ("lang_pred", pa.string()),
     ("attribute", pa.string()), ("n_old", pa.int64()), ("n_new", pa.int64()),
     ("metric", pa.float64()), ("threshold", pa.float64()), ("drifted", pa.bool_()),
     ("run_id", pa.string()), ("input_snapshot", pa.string()), ("written_at", pa.int64())]
)
# The schema Spark gave the metrics table when it wrote it: readers
# scan files of both writers in one metrics/ directory.
METRICS_SCHEMA = pa.schema(
    [("partition_id", pa.int32()), ("rows_seen", pa.int64()), ("rows_dropped", pa.int64()),
     ("dropped_by_rule", _HIST), ("scrub_edits", pa.int64()), ("wall_ms", pa.int32()),
     ("run_id", pa.string()), ("written_at", pa.int64()), ("attempt", pa.int32())]
)


def state_table(schema: pa.Schema, rows: list, **constants) -> pa.Table:
    """Rows (dicts or Rows, item access by column name) → a pa.Table
    of `schema`; a column named in `constants` holds that one value
    on every row."""
    return pa.table(
        {
            f.name: pa.array(
                [constants[f.name]] * len(rows) if f.name in constants
                else [r[f.name] for r in rows],
                f.type,
            )
            for f in schema
        },
        schema=schema,
    )


def write_state(state_dir: str, table: pa.Table, name: str | None = None) -> None:
    """Write one file of a driver-side state table: pyarrow into a
    hidden `.<name>.tmp`, then `os.replace`. name=None appends a new
    uniquely named file; a fixed name replaces that file in place."""
    os.makedirs(state_dir, exist_ok=True)
    name = name or f"part-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"
    tmp = os.path.join(state_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(state_dir, name))


def read_state(state_dir: str, columns: list[str] | None = None) -> pa.Table | None:
    """Every committed file of a state table as one pa.Table; None if
    there is none."""
    files = sorted(glob.glob(os.path.join(state_dir, "*.parquet")))
    return ds.dataset(files).to_table(columns=columns) if files else None


def _read_models_snapshot(models_dir: str) -> list | None:
    """The persisted cohort_models snapshot as row dicts (histogram as
    a dict), or None if no snapshot was written. Reads the columns of
    MODELS_SCHEMA only: a snapshot written before `mean`/`std` were
    dropped loads as the same rows."""
    t = read_state(models_dir, MODELS_SCHEMA.names)
    if t is None:
        return None
    rows = t.to_pylist()
    for r in rows:
        if r["histogram"] is not None:
            r["histogram"] = dict(r["histogram"])
    return rows


def lineage_table(
    buckets: list[int], snapshot: str, attempt: int, started_at: float, status: str
) -> pa.Table:
    """Lineage records: one per bucket that reached `status`."""
    return state_table(
        LINEAGE_SCHEMA,
        [{"partition_id": int(b)} for b in buckets],
        input_snapshot=snapshot,
        attempt=attempt,
        started_at=int(started_at * 1e6),
        finished_at=int(time.time() * 1e6),
        status=status,
    )


def metrics_table(
    decisions: DataFrame, key_col: str, run_id: str, wall_ms: int, attempt: int
) -> pa.Table:
    """Per-`key_col` metrics rows (FIXTURES.md §3) from a decisions
    DataFrame: rows_seen, rows_dropped, dropped_by_rule map,
    scrub_edits, plus recency keys (written_at ns, attempt) so readers
    can take the latest record per partition after appends.

    Rules are data (plans/rules.py), so the per-rule counts compile to
    a fixed pivot: one grouped aggregate, collected (one row per key),
    and the dropped_by_rule map is built here in rule order from the
    non-zero counts. Shared by the batch pipeline (key = bucket) and
    the streaming sink (key = batch_id).
    """
    from bdqc_spark.plans.rules import CATEGORICAL_RULES, DEVIATION_RULES, STATIC_RULES

    rule_ids = [r.rule_id for r in (*STATIC_RULES, *DEVIATION_RULES, *CATEGORICAL_RULES)]
    agg = decisions.groupBy(key_col).agg(
        F.count(F.lit(1)),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)),
        F.sum("n_scrub_edits"),
        *(F.sum(F.array_contains("rule_hits", rid).cast("long")) for rid in rule_ids),
    )
    rows = [
        {
            "partition_id": int(key),
            "rows_seen": seen,
            "rows_dropped": dropped,
            "dropped_by_rule": [(rid, n) for rid, n in zip(rule_ids, per_rule) if n],
            "scrub_edits": edits,
        }
        for key, seen, dropped, edits, *per_rule in sorted(agg.collect())
    ]
    # recency keys: metrics are APPENDED per attempt/snapshot; readers
    # take the latest record per partition_id, ordered by (written_at,
    # attempt). Nanosecond resolution + the attempt counter means two
    # sequential runs can't tie the way millisecond stamps could.
    return state_table(
        METRICS_SCHEMA, rows, wall_ms=wall_ms, run_id=run_id,
        written_at=time.time_ns(), attempt=int(attempt),
    )


class PipelineResult:
    def __init__(self, out_dir: str, run_id: str, processed_buckets: list[int]):
        self.out_dir = out_dir
        self.run_id = run_id
        self.processed_buckets = processed_buckets
        self.stage_seconds: dict[str, float] = {}
        # None: no previous model snapshot existed (fresh run / resume
        # fast path); int: drifted=True row count in the drift table
        self.drift_flagged: int | None = None


def _tick(result: PipelineResult, stage: str, t0: float) -> float:
    now = time.time()
    result.stage_seconds[stage] = round(now - t0, 2)
    return now


def _completed(lineage_dir: str, snapshot: str, status: str) -> set[int]:
    """Buckets that lineage records as `status` for `snapshot`."""
    t = read_state(lineage_dir, ["partition_id", "input_snapshot", "status"])
    return {
        r["partition_id"]
        for r in (t.to_pylist() if t is not None else ())
        if r["input_snapshot"] == snapshot and r["status"] == status
    }


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    out_dir: str,
    input_snapshot: str = "snap-0",
    exact_models: bool = False,
    fail_after_stage: str | None = None,  # test hook: 'profile'|'models'
    all_buckets: list[int] | None = None,
) -> PipelineResult:
    """Run (or resume) the full QC pipeline over a bucketed clips df.

    `clips` must carry a `bucket` int column (IcebergishTable.read
    provides it; IcebergishTable.with_bucket adds it). Pass
    `all_buckets` (e.g. from the Iceberg manifest) to skip the
    bucket-discovery scan — at 100 TB the manifest knows the
    partition list; never derive it from the data.

    Partition-overwrite mode is passed per-write (`.option(...)`),
    never via session conf — a session-level set would leak into
    unrelated jobs sharing the SparkSession.
    """
    run_id = uuid.uuid4().hex[:12]
    result = PipelineResult(out_dir, run_id, [])
    t_stage = time.time()
    profiles_dir = f"{out_dir}/profiles"
    models_dir = f"{out_dir}/cohort_models"
    decisions_dir = f"{out_dir}/decisions"
    metrics_dir = f"{out_dir}/metrics"
    lineage_dir = f"{out_dir}/lineage"

    if all_buckets is None:
        all_buckets = sorted(r.bucket for r in clips.select("bucket").distinct().collect())

    # ---- Stage A: profile pending buckets (checkpointed, incremental) ----
    # Reference semantics (bdqc entry point 2, SURVEY.md §3.1): an
    # incremental run computes signatures ONLY for new files, refits
    # models over all, recomputes outliers. Here: clips whose clip_id
    # is not yet in the profiles table (J5's left-anti semantics) are
    # profiled and APPENDED. This is also what makes the stage
    # idempotent at clip granularity: a crashed append leaves its
    # output invisible (uncommitted _temporary files), so a rerun's
    # key filter picks up exactly the missing clips — no duplicates,
    # no lost work.
    t0 = time.time()
    done_profile = _completed(lineage_dir, input_snapshot, "profiled")
    pending = [b for b in all_buckets if b not in done_profile]
    attempt = 2 if done_profile else 1  # informational (resume marker)
    # Fresh run (no prior profiles on disk, every bucket pending): the
    # stage-A output is locally checkpointed and handed straight to
    # stages B and C, so the profile table is scanned from memory — no
    # parquet re-read job in B, no second shuffle in C. Those are
    # fixed costs on the serial path of every run (~2-4s at 8 cores),
    # which is exactly what caps the N-vs-4N ratio. Resume and
    # incremental runs read profiles/ back: the cache would hold only
    # the newly profiled rows, not the table.
    fresh_run = not os.path.isdir(profiles_dir) and list(pending) == list(all_buckets)
    prof_cached = None
    if pending:
        from bdqc_spark.plans.profile import direct_scan_files, profile_clips_direct

        # Both branches sort by ("bucket", "clip_id"): a partition may
        # hold several buckets, and that order is the ordering the
        # partitionBy("bucket") write requires, so the write adds no
        # sort of its own and each bucket gets exactly one
        # clip_id-sorted file per run (a clip_id-only sort is
        # re-sorted by bucket at the write and loses its order).
        direct_files = direct_scan_files(clips, pending)
        if direct_files is not None:
            # Every run over a plain manifest scan: each task reads its
            # own data files with pyarrow and drops the clip ids the
            # committed profile files hold (see profile_clips_direct),
            # so `bytes` never crosses the JVM and there is no JVM
            # anti-join. Whole buckets per task: the output is ALREADY
            # bucket-aligned, so a repartition shuffle would be
            # redundant (guide §2.4).
            profiled = glob.glob(os.path.join(profiles_dir, "bucket=*", "*.parquet"))
            prof = profile_clips_direct(spark, direct_files, clips, profiled).sortWithinPartitions(
                "bucket", "clip_id"
            )
        else:
            # Non-scan inputs (with_bucket frames, read_incremental's
            # merge-on-read tombstone filter, any filtered frame): the
            # JVM scan and a left-anti join on clip_id. The shuffle
            # moves only profile SCALARS and fixes one well-sized file
            # per bucket, which keeps the downstream stages parallel
            # (measured: a map-only write cost +10s on stages B+C at 8
            # cores).
            to_profile = clips.where(F.col("bucket").isin(pending))
            if os.path.isdir(profiles_dir):
                existing = spark.read.parquet(profiles_dir).select("clip_id")
                to_profile = to_profile.join(existing, on="clip_id", how="left_anti")
            prof = (
                profile_clips(to_profile)
                .repartition(len(all_buckets), "bucket")
                .sortWithinPartitions("bucket", "clip_id")
            )
        if fresh_run:
            # A lazy localCheckpoint, as for C's decisions below: A's
            # write fills its blocks within its own job, and B's
            # aggregate and C's decide read them instead of re-running
            # the profile pass. Blocks are MEMORY_AND_DISK and are
            # dropped by the ContextCleaner when the DataFrame goes out
            # of scope. On a real cluster a lost block fails the run —
            # and the restart resumes from the committed profiles
            # parquet, which is the pipeline's recovery story anyway.
            prof_cached = prof.localCheckpoint(eager=False)
            prof = prof_cached
        prof.write.mode("append").partitionBy("bucket").parquet(profiles_dir)
        write_state(lineage_dir, lineage_table(pending, input_snapshot, attempt, t0, "profiled"))
    t_stage = _tick(result, "A_profile", t_stage)
    if fail_after_stage == "profile":
        raise RuntimeError("injected failure after profile stage")

    # ---- Stage B: fit cohort models over ALL profiles --------------------
    # The model table is KB-sized (|cohorts|×|attrs| rows): collect it
    # once, persist the snapshot, and feed the collected rows straight
    # into stage C — no parquet round-trip on the serial path.
    # No-op fast path: reuse the persisted snapshot ONLY when lineage
    # proves it was fit for THIS input_snapshot with THIS fit mode
    # (a `models_fit_*` record). `not pending` alone is insufficient:
    # a crash between stage A's append and stage B's write would leave
    # pending=[] with a model table fit on the PREVIOUS snapshot's
    # profiles — reusing it silently commits decisions from stale
    # cohort stats.
    models_status = f"models_fit_{'exact' if exact_models else 'approx'}"
    models_current = bool(_completed(lineage_dir, input_snapshot, models_status))
    # Fresh run: the profile table IS the cached stage-A output — no
    # parquet re-read job (the cache was materialized by A's write).
    # Otherwise profiles/ is read only when B refits or C has work: a
    # no-op re-run submits no Spark job.
    profiles = prof_cached
    models_rows = _read_models_snapshot(models_dir) if not pending and models_current else None
    if models_rows is None:
        # hold the PREVIOUS snapshot (if any) across the overwrite so
        # stage B2 can diff old vs new (bdqc's temporal QC)
        old_models_rows = _read_models_snapshot(models_dir)
        if profiles is None:
            profiles = spark.read.parquet(profiles_dir)
        models_rows = fit_cohort_models(profiles, exact=exact_models)
        write_state(
            models_dir,
            state_table(
                MODELS_SCHEMA,
                [
                    {
                        **r.asDict(),
                        "histogram": None if r.histogram is None else list(r.histogram.items()),
                    }
                    for r in models_rows
                ],
            ),
            MODELS_FILE,
        )
        write_state(lineage_dir, lineage_table([-1], input_snapshot, attempt, t_stage, models_status))
        if old_models_rows:
            # Stage B2 (bdqc's temporal QC, wired in per r4 VERDICT ask
            # #7): drift of the refit models against the previous
            # snapshot — numeric robust-z per (cohort, attribute) +
            # categorical histogram TVD. Only incremental refits have a
            # previous snapshot; both are KB-sized rows on the driver,
            # so the comparison is plain Python, no Spark job.
            t_b2 = time.time()
            recs = model_drift(old_models_rows, models_rows)
            write_state(
                f"{out_dir}/drift",
                state_table(
                    DRIFT_SCHEMA, recs, run_id=run_id, input_snapshot=input_snapshot,
                    written_at=time.time_ns(),
                ),
            )
            result.drift_flagged = sum(1 for r in recs if r["drifted"])
            result.stage_seconds["B2_drift"] = round(time.time() - t_b2, 2)
    t_stage = _tick(result, "B_models", t_stage)
    if fail_after_stage == "models":
        raise RuntimeError("injected failure after models stage")

    # ---- Stage C: decide pending buckets (checkpointed) ------------------
    t1 = time.time()
    done_decide = _completed(lineage_dir, input_snapshot, "committed")
    pending_d = [b for b in all_buckets if b not in done_decide]
    if pending_d:
        # Re-parallelize BEFORE decide: the profile table is small on
        # disk, so its scan coalesces to a few tasks — repartitioning
        # the profile rows (pre-scrub, the smaller side) lets the rule
        # evaluation + scrub regex chain run bucket-parallel, and the
        # write stays map-side (one sorted file per bucket). On the
        # fresh-run cached path the stage-A output already holds each
        # bucket in exactly one of its min(|buckets|, cores)
        # partitions — reuse that partitioning, no second shuffle.
        if profiles is None:
            profiles = spark.read.parquet(profiles_dir)
        src = profiles.where(F.col("bucket").isin(pending_d))
        if prof_cached is None:
            src = src.repartition(len(all_buckets), "bucket")
        # Keep the decisions (bytes never reached this stage, so a
        # partition is just scalars + transcripts — MBs, not GBs): the
        # write materializes them and the metrics aggregation reads
        # them back, replacing stage D's separate re-read job of the
        # committed parquet (a fixed ~1s scheduling+scan cost on the
        # serial path of every run — the limiter the N-vs-4N
        # per-stage data indicted). A lazy localCheckpoint, not
        # persist(): the write fills it within its own job, where
        # writing a persisted plan ran a second job (measured). Its
        # blocks are freed with the DataFrame, as stage A's are.
        decisions = (
            decide(src, models_rows)
            .sortWithinPartitions("bucket", "clip_id")
            .localCheckpoint(eager=False)
        )
        (
            decisions.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(decisions_dir)
        )
        t_stage = _tick(result, "C_decide", t_stage)
        wall_ms = int((time.time() - t1) * 1000)
        write_state(
            metrics_dir,
            metrics_table(decisions, "bucket", run_id=run_id, wall_ms=wall_ms, attempt=attempt),
        )
        write_state(lineage_dir, lineage_table(pending_d, input_snapshot, attempt, t1, "committed"))
        _tick(result, "D_metrics", t_stage)

    result.processed_buckets = pending_d
    return result

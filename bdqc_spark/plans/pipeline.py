"""The end-to-end pipeline with per-partition checkpoint/resume
(SURVEY.md §3.2, §4.3; BASELINE.json:14 "resumable from checkpoint
with per-partition lineage + metrics").

bdqc analogue: the KB is the reference's resumability mechanism —
scan skips files already in the KB (lib/BDQC/KB.pm, reconstructed).
The engine replaces the single mutable JSON blob with append-only
state tables keyed by *bucket* (the hash(clip_id) partition):

  out/
    profiles/bucket=k/    stage-1 checkpoint (signatures per clip)
    cohort_models/        per-run model snapshot (KB "models")
    decisions/bucket=k/   final keep/drop + scrubbed transcript
    metrics/              per-bucket counters, appended per attempt
    lineage/              per-bucket completion records, appended

Resume = read lineage, anti-join completed buckets (J5), process the
remainder. Writes use dynamic partition overwrite so a re-run of a
half-written bucket is idempotent; rows are sorted by clip_id within
each bucket so re-runs produce content-identical decisions.

Scale shape: stage A is map-only over pending buckets (bytes never
leaves it); stage B shuffles only the tiny flat projection of
profile scalars; stage C is a broadcast join + map-side writes.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdqc_spark.plans.decide import decide
from bdqc_spark.plans.drift import model_drift
from bdqc_spark.plans.models import collect_cohort_models
from bdqc_spark.plans.profile import profile_clips


def _write_models_snapshot(rows: list, models_dir: str) -> None:
    """Write the collected cohort_models rows as one parquet file
    (atomic tmp+rename swap), Spark-readable for the reuse fast path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    num_cols = ["n", "median", "mad", "p01", "p25", "p75", "p99", "mean", "std"]
    data = {
        "codec": pa.array([r["codec"] for r in rows], pa.string()),
        "lang_pred": pa.array([r["lang_pred"] for r in rows], pa.string()),
        "attribute": pa.array([r["attribute"] for r in rows], pa.string()),
        "n": pa.array([r["n"] for r in rows], pa.int64()),
        **{
            c: pa.array([r[c] for r in rows], pa.float64())
            for c in num_cols
            if c != "n"
        },
        "histogram": pa.array(
            [sorted(r["histogram"].items()) if r["histogram"] is not None else None for r in rows],
            pa.map_(pa.string(), pa.int64()),
        ),
    }
    tmp = models_dir + ".tmp"
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.table(data), os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(models_dir, ignore_errors=True)
    os.rename(tmp, models_dir)

def _read_models_snapshot(models_dir: str) -> list | None:
    """Driver-side read of a persisted cohort_models snapshot (KB-
    sized) as row dicts — used to hold the PREVIOUS snapshot in memory
    across the overwrite so drift can compare old vs new."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(models_dir, "*.parquet")))
    if not files:
        return None
    rows = pq.read_table(files).to_pylist()
    for r in rows:
        if r.get("histogram") is not None:
            r["histogram"] = dict(r["histogram"])
    return rows


def _write_drift_table(
    old_rows: list,
    new_rows: list,
    drift_dir: str,
    run_id: str,
    input_snapshot: str,
) -> int:
    """Stage B2 (bdqc's temporal QC, wired in per r4 VERDICT ask #7):
    compare the previous cohort-model snapshot against the one just
    fit and APPEND a drift state table — numeric robust-z per
    (cohort, attribute) + categorical histogram TVD. Runs ONLY on
    incremental refits (a fresh out dir has no previous snapshot), so
    the serial path of fresh runs and scaling probes pays nothing.
    Both snapshots are the KB-sized rows already on the driver:
    plans.drift.model_drift compares them in Python and the table is
    written with pyarrow — no Spark job, flat cost at any corpus size.
    Returns the number of drifted=True rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    recs = model_drift(old_rows, new_rows)
    now_ns = time.time_ns()
    tbl = pa.table(
        {
            "kind": pa.array([r["kind"] for r in recs], pa.string()),
            "codec": pa.array([r["codec"] for r in recs], pa.string()),
            "lang_pred": pa.array([r["lang_pred"] for r in recs], pa.string()),
            "attribute": pa.array([r["attribute"] for r in recs], pa.string()),
            "n_old": pa.array([r["n_old"] for r in recs], pa.int64()),
            "n_new": pa.array([r["n_new"] for r in recs], pa.int64()),
            "metric": pa.array([r["metric"] for r in recs], pa.float64()),
            "threshold": pa.array([r["threshold"] for r in recs], pa.float64()),
            "drifted": pa.array([r["drifted"] for r in recs], pa.bool_()),
            "run_id": pa.array([run_id] * len(recs), pa.string()),
            "input_snapshot": pa.array([input_snapshot] * len(recs), pa.string()),
            "written_at": pa.array([now_ns] * len(recs), pa.int64()),
        }
    )
    os.makedirs(drift_dir, exist_ok=True)
    path = os.path.join(drift_dir, f"drift-{now_ns}-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(tbl, path + ".tmp")
    os.rename(path + ".tmp", path)
    return sum(1 for r in recs if r["drifted"])


def metrics_table(
    decisions: DataFrame, key_col: str, run_id: str, wall_ms: int, attempt: int
) -> DataFrame:
    """Per-`key_col` metrics rows (FIXTURES.md §3) from a decisions
    DataFrame: rows_seen, rows_dropped, dropped_by_rule map,
    scrub_edits, plus recency keys (written_at ns, attempt) so readers
    can take the latest record per partition after appends.

    Rules are data (plans/rules.py), so the per-rule counts compile to
    a fixed pivot: one aggregation pass, no explode, no self-join.
    Shared by the batch pipeline (key = bucket) and the streaming
    sink (key = batch_id).
    """
    from bdqc_spark.plans.rules import CATEGORICAL_RULES, DEVIATION_RULES, STATIC_RULES

    rule_ids = (
        [r.rule_id for r in STATIC_RULES]
        + [r.rule_id for r in DEVIATION_RULES]
        + [r.rule_id for r in CATEGORICAL_RULES]
    )
    per_rule = [
        F.sum(F.array_contains("rule_hits", rid).cast("long")).alias(f"__r{i}")
        for i, rid in enumerate(rule_ids)
    ]
    agg = decisions.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("rows_dropped"),
        F.sum("n_scrub_edits").alias("scrub_edits"),
        *per_rule,
    )
    entries = [
        F.when(
            F.col(f"__r{i}") > 0, F.struct(F.lit(rid).alias("key"), F.col(f"__r{i}").alias("value"))
        )
        for i, rid in enumerate(rule_ids)
    ]
    return agg.select(
        F.col(key_col).cast("int").alias("partition_id"),
        "rows_seen",
        "rows_dropped",
        F.map_from_entries(
            F.filter(F.array(*entries), lambda x: x.isNotNull())
        ).alias("dropped_by_rule"),
        "scrub_edits",
        F.lit(wall_ms).alias("wall_ms"),
        F.lit(run_id).alias("run_id"),
        # recency keys: metrics are APPENDED per attempt/snapshot;
        # readers take the latest record per partition_id, ordered by
        # (written_at, attempt). Nanosecond resolution + the attempt
        # counter means two sequential runs can't tie the way
        # millisecond stamps could.
        F.lit(time.time_ns()).alias("written_at"),
        F.lit(int(attempt)).alias("attempt"),
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
    """Read the lineage table driver-side (pyarrow): it is tiny
    commit-protocol metadata — paying a Spark job for it would put
    two scheduler round-trips on the serial path of every run."""
    import glob

    import pyarrow.dataset as ds

    files = sorted(glob.glob(os.path.join(lineage_dir, "*.parquet")))
    if not files:
        return set()
    pdf = ds.dataset(files).to_table(
        columns=["partition_id", "input_snapshot", "status"]
    ).to_pandas()
    hit = pdf[(pdf.input_snapshot == snapshot) & (pdf.status == status)]
    return set(int(b) for b in hit.partition_id)


def _append_lineage(
    lineage_dir: str,
    buckets: list[int],
    snapshot: str,
    attempt: int,
    started_at: float,
    status: str,
) -> None:
    """Append lineage records driver-side (atomic single-file write)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    tbl = pa.table(
        {
            "partition_id": pa.array([int(b) for b in buckets], pa.int32()),
            "input_snapshot": pa.array([snapshot] * len(buckets)),
            "attempt": pa.array([attempt] * len(buckets), pa.int32()),
            "started_at": pa.array([int(started_at * 1e6)] * len(buckets), pa.timestamp("us")),
            "finished_at": pa.array([int(now * 1e6)] * len(buckets), pa.timestamp("us")),
            "status": pa.array([status] * len(buckets)),
        }
    )
    os.makedirs(lineage_dir, exist_ok=True)
    path = os.path.join(lineage_dir, f"lineage-{int(now * 1000)}-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(tbl, path + ".tmp")
    os.rename(path + ".tmp", path)


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
    # models over all, recomputes outliers. Here: clips not yet in the
    # profiles table (left-anti on clip_id, J5) are profiled and
    # APPENDED. This is also what makes the stage idempotent at clip
    # granularity: a crashed append leaves its output invisible
    # (uncommitted _temporary files), so a rerun's anti-join picks up
    # exactly the missing clips — no duplicates, no lost work.
    t0 = time.time()
    done_profile = _completed(lineage_dir, input_snapshot, "profiled")
    pending = [b for b in all_buckets if b not in done_profile]
    attempt = 2 if done_profile else 1  # informational (resume marker)
    # Fresh run (no prior profiles on disk, every bucket pending): the
    # repartitioned stage-A output is locally checkpointed and handed
    # straight to stages B and C, so the profile table is scanned from
    # memory — no parquet re-read job in B, no second shuffle in C.
    # Those are fixed costs on the serial path of every run (~2-4s at
    # 8 cores), which is exactly what caps the N-vs-4N ratio. Resume
    # and incremental runs keep the parquet path: the cache would hold
    # only the newly profiled rows, not the table.
    fresh_run = not os.path.isdir(profiles_dir) and list(pending) == list(all_buckets)
    prof_cached = None
    if pending:
        from bdqc_spark.plans.profile import direct_scan_files, profile_clips_direct

        to_profile = clips.where(F.col("bucket").isin(pending))
        # Direct-read fast path (fresh runs over a plain manifest
        # scan): each task reads its own data file with pyarrow, so
        # the `bytes` column never crosses the JVM scan or the
        # JVM→Python Arrow socket (~90% of the old stage-A cost,
        # measured — see profile_clips_direct). Resume/incremental
        # runs need the clip-level anti-join and keep the DataFrame
        # path; non-scan inputs (e.g. with_bucket) fall back too.
        direct_files = direct_scan_files(clips, pending) if not os.path.isdir(profiles_dir) else None
        if os.path.isdir(profiles_dir):
            existing = spark.read.parquet(profiles_dir).select("clip_id")
            to_profile = to_profile.join(existing, on="clip_id", how="left_anti")
        # Both branches sort by ("bucket", "clip_id"): a partition may
        # hold several buckets, and that order is the ordering the
        # partitionBy("bucket") write requires, so the write adds no
        # sort of its own and each bucket gets exactly one
        # clip_id-sorted file per run (a clip_id-only sort is
        # re-sorted by bucket at the write and loses its order).
        if direct_files:
            # k = min(|buckets|, cores) tasks, whole buckets per task:
            # the stage-A output is ALREADY bucket-aligned (no bucket
            # spans two partitions), so a repartition shuffle of the
            # whole profile table (scalars + transcripts) would be
            # redundant — guide §2.4, remove shuffles outright where
            # the data is already partitioned as needed
            prof = profile_clips_direct(spark, direct_files, clips).sortWithinPartitions(
                "bucket", "clip_id"
            )
        else:
            # This shuffle moves only profile SCALARS (bytes was
            # consumed map-side) and is load-bearing: it fixes the
            # profiles layout at one well-sized file per bucket,
            # which is what keeps the downstream stages parallel —
            # the profile table is so small on disk that a size-based
            # scan of an uncontrolled layout coalesces to 1-3 tasks
            # (measured: A/B probe of a map-only write cost +10s on
            # stages B+C at 8 cores).
            prof = (
                profile_clips(to_profile)
                .repartition(len(all_buckets), "bucket")
                .sortWithinPartitions("bucket", "clip_id")
            )
        if fresh_run:
            # localCheckpoint, NOT persist: a persisted plan containing
            # the mapInArrow profile node trips Spark's InMemoryRelation
            # canonicalization when stage B's parameterized fit SQL
            # references it twice (`key not found: <attr>` in
            # InMemoryRelation.withOutput). The checkpoint truncates the
            # lineage to a LogicalRDD, which the SQL analyzer handles
            # fine; blocks are MEMORY_AND_DISK and are dropped by the
            # ContextCleaner when the DataFrame goes out of scope. On a
            # real cluster a lost block fails the run — and the restart
            # resumes from the committed profiles parquet, which is the
            # pipeline's recovery story anyway.
            prof_cached = prof.localCheckpoint(eager=False)
            prof = prof_cached
        prof.write.mode("append").partitionBy("bucket").parquet(profiles_dir)
        _append_lineage(lineage_dir, pending, input_snapshot, attempt, t0, "profiled")
    t_stage = _tick(result, "A_profile", t_stage)
    return _finish_pipeline(
        spark, result, profiles_dir, models_dir, decisions_dir, metrics_dir,
        lineage_dir, input_snapshot, exact_models, fail_after_stage,
        all_buckets, pending, attempt, prof_cached, t_stage,
    )


def _finish_pipeline(
    spark: SparkSession,
    result: PipelineResult,
    profiles_dir: str,
    models_dir: str,
    decisions_dir: str,
    metrics_dir: str,
    lineage_dir: str,
    input_snapshot: str,
    exact_models: bool,
    fail_after_stage: str | None,
    all_buckets: list[int],
    pending: list[int],
    attempt: int,
    prof_cached,
    t_stage: float,
) -> PipelineResult:
    if fail_after_stage == "profile":
        raise RuntimeError("injected failure after profile stage")

    # ---- Stage B: fit cohort models over ALL profiles --------------------
    # The model table is KB-sized (|cohorts|×|attrs| rows): collect it
    # once, persist the snapshot, and feed the collected copy straight
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
    profiles = prof_cached if prof_cached is not None else spark.read.parquet(profiles_dir)
    if not pending and models_current and os.path.isdir(models_dir):
        models = spark.read.parquet(models_dir)
    else:
        # hold the PREVIOUS snapshot (if any) across the overwrite so
        # stage B2 can diff old vs new (bdqc's temporal QC)
        old_models_rows = _read_models_snapshot(models_dir) if os.path.isdir(models_dir) else None
        models_rows = collect_cohort_models(
            profiles, exact=exact_models, assume_cached=prof_cached is not None
        )
        models = spark.createDataFrame(models_rows)
        # Persist the snapshot driver-side (pyarrow): it is ~100 rows;
        # a Spark coalesce(1) write puts a whole extra job (~1.5s) on
        # the serial path of every run.
        _write_models_snapshot(models_rows, models_dir)
        _append_lineage(lineage_dir, [-1], input_snapshot, attempt, t_stage, models_status)
        if old_models_rows:
            t_b2 = time.time()
            result.drift_flagged = _write_drift_table(
                old_models_rows,
                models_rows,
                os.path.join(os.path.dirname(models_dir), "drift"),
                result.run_id,
                input_snapshot,
            )
            result.stage_seconds["B2_drift"] = round(time.time() - t_b2, 2)
    t_stage = _tick(result, "B_models", t_stage)
    if fail_after_stage == "models":
        raise RuntimeError("injected failure after models stage")

    # ---- Stage C: decide pending buckets (checkpointed) ------------------
    t1 = time.time()
    done_decide = _completed(lineage_dir, input_snapshot, "committed")
    pending_d = [b for b in all_buckets if b not in done_decide]
    if pending_d:
        from pyspark import StorageLevel

        # Re-parallelize BEFORE decide: the profile table is small on
        # disk, so its scan coalesces to a few tasks — repartitioning
        # the profile rows (pre-scrub, the smaller side) lets the rule
        # evaluation + scrub regex chain run bucket-parallel, and the
        # write stays map-side (one sorted file per bucket). On the
        # fresh-run cached path the stage-A output already holds each
        # bucket in exactly one of its min(|buckets|, cores)
        # partitions — reuse that partitioning, no second shuffle.
        src = profiles.where(F.col("bucket").isin(pending_d))
        if prof_cached is None:
            src = src.repartition(len(all_buckets), "bucket")
        # Persist the decisions (bytes never reached this stage, so a
        # partition is just scalars + transcripts — MBs, not GBs): the
        # write materializes the cache and the metrics aggregation
        # reads it back, replacing stage D's separate re-read job of
        # the committed parquet (a fixed ~1s scheduling+scan cost on
        # the serial path of every run — the limiter the N-vs-4N
        # per-stage data indicted).
        decisions = decide(src, models).sortWithinPartitions("bucket", "clip_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        (
            decisions.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(decisions_dir)
        )
        t_stage = _tick(result, "C_decide", t_stage)
        wall_ms = int((time.time() - t1) * 1000)
        metrics = metrics_table(
            decisions, "bucket", run_id=result.run_id, wall_ms=wall_ms, attempt=attempt
        )
        metrics.write.mode("append").parquet(metrics_dir)
        decisions.unpersist()
        _append_lineage(lineage_dir, pending_d, input_snapshot, attempt, t1, "committed")
        _tick(result, "D_metrics", t_stage)

    result.processed_buckets = pending_d if pending_d else []
    return result

"""Streaming clips QC (SURVEY.md §7 M6): score a stream of clips
with the SAME batch code path via foreachBatch.

Deployment shape: cohort models are fit periodically by the batch
pipeline (plans/pipeline.py) and *applied* to the live stream —
profile + rules + scrub are pure map-side work, so streaming
micro-batches scale exactly like batch partitions.

Delivery semantics: Structured Streaming guarantees at-least-once
EXECUTION of a foreachBatch body (the built-in file sink's commit-log
exactly-once does NOT apply here), so the body itself must be
idempotent: decisions are partitioned by batch_id and written with
dynamic partition overwrite — a retried micro-batch rewrites its own
partition instead of appending duplicates. Combined with the offset
checkpoint this yields effective exactly-once output.

Ops parity with the batch pipeline: each micro-batch also appends a
metrics record (rows_seen / rows_dropped / dropped_by_rule /
scrub_edits, keyed on batch_id) and a lineage record — the same
state tables a batch run writes, so live-ingest monitoring reads one
schema. Metrics are append-only; a retried batch appends a second
record and readers take the latest per partition_id (the same
written_at/attempt convention as plans/report.py). Overwrite mode is
passed per-write (never session conf — a session-level set would
leak into unrelated jobs on the shared SparkSession).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdqc_spark.plans.decide import decide
from bdqc_spark.plans.pipeline import lineage_table, metrics_table, write_state
from bdqc_spark.plans.profile import profile_clips


def make_batch_writer(spark: SparkSession, models: DataFrame, out_dir: str):
    """The idempotent foreachBatch body: overwrite this batch_id's own
    decisions partition (dynamic mode) and append the batch's metrics
    + lineage records, so an at-least-once retry replaces its previous
    (possibly partial) output instead of appending to it. The
    KB-sized `models` frame is collected once, here, not per batch."""
    from pyspark import StorageLevel

    models_rows = models.collect()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t0 = time.time()
        decisions = (
            decide(profile_clips(batch_df), models_rows)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        (
            decisions.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/decisions")
        )
        write_state(
            f"{out_dir}/metrics",
            metrics_table(
                decisions,
                "batch_id",
                run_id=f"stream-{int(batch_id)}",
                wall_ms=int((time.time() - t0) * 1000),
                attempt=1,
            ),
        )
        decisions.unpersist()
        write_state(
            f"{out_dir}/lineage",
            lineage_table([int(batch_id)], f"stream-batch-{int(batch_id)}", 1, t0, "committed"),
        )

    return _process


def stream_decide(
    spark: SparkSession,
    clips_stream: DataFrame,
    models: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """clips stream → decisions/metrics/lineage sinks, reusing batch
    stages.

    `models` is a static (pre-fit) cohort_models DataFrame — the
    batch pipeline refits it on schedule; the stream only scores.
    Returns the StreamingQuery (caller awaits termination).
    """
    _process = make_batch_writer(spark, models, out_dir)

    writer = (
        clips_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

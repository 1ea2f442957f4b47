"""Streaming tests (SURVEY.md §2.B T1-T4): batch-equivalence of the
window wrappers, watermark/late-data behaviour, stateful dedup, and
the foreachBatch clips scorer vs the batch pipeline."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bdqc_spark.streaming import (
    dedup_within_watermark,
    sessionize,
    stream_decide,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _stream_from(spark, static_df, tmpdir, parts=2):
    """Turn a static df into a file-source stream (deterministic)."""
    src = os.path.join(tmpdir, "src")
    static_df.repartition(parts).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(static_df.schema).parquet(src)


def _run_to_memory(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_stream_equals_batch(spark, events, tmp_path):
    # Append mode only emits windows the final watermark has closed —
    # compare on that closed subset (watermark semantics, not a bug).
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    cutoff = events.agg(F.max("ts")).collect()[0][0]
    batch = tumbling_counts(events)
    stream = tumbling_counts(_stream_from(spark, events, str(tmp_path)))
    got = _run_to_memory(spark, stream, "t_tumbling", mode="append")
    closed = {
        (str(r.window_start), r.n)
        for r in batch.collect()
        if (cutoff - r.window_end).total_seconds() >= 600
    }
    emitted = {(str(r.window_start), r.n) for r in got.collect()}
    assert closed, "fixture too small: no closed windows"
    assert closed <= emitted
    # and everything the stream emitted must exist in the batch result
    all_batch = {(str(r.window_start), r.n) for r in batch.collect()}
    assert emitted <= all_batch


def test_sessionize_stream_equals_batch(spark, events, tmp_path):
    small = events.where(F.col("user_id") < 20).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cutoff = small.agg(F.max("ts")).collect()[0][0]
    batch = sessionize(small)
    got = _run_to_memory(
        spark, sessionize(_stream_from(spark, small, str(tmp_path), parts=1)), "t_session"
    )
    closed = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in batch.collect()
        if (cutoff - r.session_end).total_seconds() >= 600
    }
    emitted = {(r.user_id, str(r.session_start), r.n_events) for r in got.collect()}
    assert closed, "fixture too small: no closed sessions"
    assert closed <= emitted


def test_dedup_within_watermark_stream(spark, events, tmp_path):
    dup = events.unionByName(events)  # every event twice
    sdf = dedup_within_watermark(_stream_from(spark, dup, str(tmp_path), parts=1), ["event_id"])
    got = _run_to_memory(spark, sdf, "t_dedup")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_decide_matches_batch(spark, tmp_path):
    from bdqc_spark.plans.decide import decide
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.synth.clips import generate_clips_df

    clips = generate_clips_df(spark, 300, seed=11)
    profiles = profile_clips(clips)
    models = spark.createDataFrame(fit_cohort_models(profiles))
    batch_dec = decide(profiles, models.collect()).toPandas().sort_values("clip_id").reset_index(drop=True)

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    shutil.rmtree(out, ignore_errors=True)
    q = stream_decide(
        spark, _stream_from(spark, clips, str(tmp_path), parts=3), models, out, ckpt
    )
    q.awaitTermination(180)
    got = (
        spark.read.parquet(f"{out}/decisions")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(batch_dec)
    assert list(got.keep) == list(batch_dec.keep)
    assert list(got.scrubbed_transcript.fillna("")) == list(
        batch_dec.scrubbed_transcript.fillna("")
    )
    # ops parity: every non-empty micro-batch wrote a metrics record
    # and a lineage record keyed on its batch_id
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    batch_ids = set(got.batch_id.unique())
    assert set(metrics.partition_id) == batch_ids
    assert metrics.rows_seen.sum() == len(got)
    assert metrics.rows_dropped.sum() == int((~got.keep).sum())
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lineage.partition_id) == batch_ids
    assert set(lineage.status) == {"committed"}


def test_sliding_counts_stream_subset_of_batch(spark, events, tmp_path):
    from bdqc_spark.streaming import sliding_counts

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    batch = sliding_counts(events)
    got = _run_to_memory(
        spark, sliding_counts(_stream_from(spark, events, str(tmp_path))), "t_sliding"
    )
    all_batch = {(str(r.window_start), r.n) for r in batch.collect()}
    emitted = {(str(r.window_start), r.n) for r in got.collect()}
    assert emitted, "stream emitted nothing"
    assert emitted <= all_batch  # every emitted window agrees with batch
    # sliding windows: each event lands in window_size/slide = 2 windows
    assert batch.agg(F.sum("n")).collect()[0][0] == 2 * events.count()


def test_batch_writer_retry_is_idempotent(spark, tmp_path):
    """ADVICE r1 (medium): foreachBatch bodies execute at-least-once;
    a retried micro-batch must not duplicate decision rows."""
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.streaming import make_batch_writer
    from bdqc_spark.synth.clips import generate_clips_df

    clips = generate_clips_df(spark, 200, seed=13)
    models = spark.createDataFrame(fit_cohort_models(profile_clips(clips)))
    out = str(tmp_path / "retry_out")
    write = make_batch_writer(spark, models, out)

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key, None)
    write(clips, 7)
    first = (
        spark.read.parquet(f"{out}/decisions")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    write(clips, 7)  # simulated retry of the same micro-batch
    second = (
        spark.read.parquet(f"{out}/decisions")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(second) == 200
    assert first[["clip_id", "keep"]].equals(second[["clip_id", "keep"]])
    # overwrite mode is a per-write option, not a session-conf
    # mutation leaking into unrelated jobs (ADVICE r2)
    assert spark.conf.get(conf_key, None) == conf_before

    write(clips.limit(50), 8)  # a different batch appends its own partition
    assert spark.read.parquet(f"{out}/decisions").count() == 250

    # metrics: appended per attempt; readers take the LATEST record
    # per partition_id (same convention as the batch report) — totals
    # must not double-count after the retry
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert len(metrics) == 3  # batch 7 twice (retry) + batch 8 once
    latest = metrics.sort_values(["written_at", "attempt"]).groupby("partition_id").last()
    assert latest.rows_seen.sum() == 250
    # lineage: one committed record per attempt, keyed on batch_id
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert sorted(lineage.partition_id) == [7, 7, 8]


def test_running_cohort_stats_stream_equals_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): running
    per-cohort Welford stats must survive micro-batch boundaries and
    converge to the batch aggregate over the same input."""
    import math

    from bdqc_spark.streaming import running_cohort_stats
    from bdqc_spark.synth.clips import generate_clips_df

    clips = generate_clips_df(spark, 400, seed=17).select("clip_id", "codec", "dur_ms")
    batch = {
        r.codec: r
        for r in running_cohort_stats(clips, key="codec", value_col="dur_ms").collect()
    }

    # one source file per micro-batch so state must survive batch
    # boundaries (a single availableNow batch would be vacuous)
    src = os.path.join(str(tmp_path), "src")
    clips.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(clips.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sdf = running_cohort_stats(stream, key="codec", value_col="dur_ms")
    got = _run_to_memory(spark, sdf, "t_cohort_stats", mode="update").toPandas()
    # update mode emits a row per key per batch: the final state is the
    # row with the largest n per key
    final = got.sort_values("n").groupby("codec").last()
    assert set(final.index) == set(batch)
    for codec, row in final.iterrows():
        assert row.n == batch[codec].n
        assert math.isclose(row["mean"], batch[codec].mean, rel_tol=1e-9)
        assert math.isclose(row.m2, batch[codec].m2, rel_tol=1e-6)
    # state genuinely crossed micro-batches: some key must have been
    # emitted more than once with growing n
    assert (got.groupby("codec").size() > 1).any()


def test_incremental_stream_from_manifest_diff(spark, tmp_path):
    """VERDICT r3 ask #7 (S2 × T3): IcebergishTable snapshots feed the
    streaming decide path through the manifest-diff Python data source.
    Appending a snapshot must emit exactly the new clips' decisions;
    restarting the query without a new snapshot is a no-op (idempotent
    under retry via checkpoint + immutable manifests)."""
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.streaming.incremental_source import clips_incremental_stream
    from bdqc_spark.synth.clips import generate_clips_df

    table = IcebergishTable(str(tmp_path / "tbl"), num_buckets=4)
    first = generate_clips_df(spark, 200, seed=21)
    table.append(first)
    models = spark.createDataFrame(
        fit_cohort_models(profile_clips(table.read(spark)))
    )

    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")

    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    got1 = spark.read.parquet(f"{out}/decisions").toPandas()
    first_ids = {r.clip_id for r in first.select("clip_id").collect()}
    assert set(got1.clip_id) == first_ids

    # append a second snapshot with DISJOINT clip ids
    second = generate_clips_df(spark, 100, seed=21, start=200)
    table.append(second)
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    got2 = spark.read.parquet(f"{out}/decisions").toPandas()
    second_ids = {r.clip_id for r in second.select("clip_id").collect()}
    assert set(got2.clip_id) == first_ids | second_ids
    assert len(got2) == 300  # no duplicates: each snapshot scored once
    new_rows = got2[~got2.clip_id.isin(got1.clip_id)]
    assert set(new_rows.clip_id) == second_ids

    # retry/no-op: restart with NO new snapshot → nothing re-emitted
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    got3 = spark.read.parquet(f"{out}/decisions").toPandas()
    assert len(got3) == 300
    assert sorted(got3.clip_id) == sorted(got2.clip_id)


def test_incremental_stream_skips_compaction(spark, tmp_path):
    """Maintenance committed mid-stream must be invisible to the
    incremental consumer: a compaction rewrite re-homes already-
    processed rows, and the old whole-range file diff would re-emit
    all of them (the append-only changelog walk skips rewrite and
    rebucket snapshots)."""
    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.streaming.incremental_source import clips_incremental_stream
    from bdqc_spark.synth.clips import generate_clips_df

    table = IcebergishTable(str(tmp_path / "tbl"), num_buckets=4)
    first = generate_clips_df(spark, 150, seed=33)
    table.append(first)
    # two appends → ≥2 files per bucket → compactable
    table.append(generate_clips_df(spark, 50, seed=33, start=150))
    models = spark.createDataFrame(
        fit_cohort_models(profile_clips(table.read(spark)))
    )
    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "c")
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(f"{out}/decisions").count() == 200

    # compact + append; only the appended clips may be emitted
    assert table.compact(spark) is not None
    third = generate_clips_df(spark, 40, seed=33, start=200)
    table.append(third)
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    got = spark.read.parquet(f"{out}/decisions").toPandas()
    assert len(got) == 240  # 200 + 40, zero re-emitted by the rewrite
    third_ids = {r.clip_id for r in third.select("clip_id").collect()}
    assert third_ids <= set(got.clip_id)


def test_incremental_stream_skips_deleted_rows(spark, tmp_path):
    """A row-level delete committed mid-stream (r5): the appended
    batch is scored MINUS the rows a later in-range delete
    tombstoned — the stream must never emit a deleted row, and must
    not re-emit anything for the delete snapshot itself."""
    from pyspark.sql import functions as F

    from bdqc_spark.plans.models import fit_cohort_models
    from bdqc_spark.plans.profile import profile_clips
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.streaming.incremental_source import clips_incremental_stream
    from bdqc_spark.synth.clips import generate_clips_df

    table = IcebergishTable(str(tmp_path / "tbl"), num_buckets=4)
    first = generate_clips_df(spark, 150, seed=55)
    table.append(first)
    models = spark.createDataFrame(
        fit_cohort_models(profile_clips(table.read(spark)))
    )
    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "c")
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(f"{out}/decisions").count() == 150

    # append 50, then DELETE 10 of them before the next poll: the
    # micro-batch range covers both commits
    second = generate_clips_df(spark, 50, seed=55, start=150)
    table.append(second)
    victims = {f"clip-{i:08d}" for i in range(150, 160)} & {
        r.clip_id for r in second.select("clip_id").collect()
    }
    if not victims:  # id scheme safety: derive from actual ids
        victims = set(sorted(r.clip_id for r in second.select("clip_id").collect())[:10])
    table.delete(spark, F.col("clip_id").isin(sorted(victims)))

    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    got = spark.read.parquet(f"{out}/decisions").toPandas()
    second_ids = {r.clip_id for r in second.select("clip_id").collect()}
    assert len(got) == 150 + 40
    assert set(got.clip_id) & victims == set()
    assert (second_ids - victims) <= set(got.clip_id)

    # deleting already-streamed rows emits nothing new
    survivors = sorted(set(got.clip_id))[:5]
    table.delete(spark, F.col("clip_id").isin(survivors))
    q = clips_incremental_stream(spark, table.root, models, out, ckpt)
    q.awaitTermination(180)
    assert spark.read.parquet(f"{out}/decisions").count() == 190


def test_stream_stream_interval_join_equals_batch(spark, events, tmp_path):
    from bdqc_spark.streaming.windows import stream_interval_join

    ev = events.limit(600)
    left = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    sl = _stream_from(spark, left, str(tmp_path / "l"))
    sr = _stream_from(spark, right, str(tmp_path / "r"))
    joined = stream_interval_join(sl, sr, "user_id", tolerance_sec=3600)
    got = _run_to_memory(spark, joined, "ssij").collect()

    want = stream_interval_join(left, right, "user_id", tolerance_sec=3600).collect()
    assert len(want) > 0, "fixture must produce at least one in-window pair"
    key = lambda r: (r["user_id"], r["ts_l"], r["ts_r"], r["click_value"], r["view_id"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_stream_stream_join_tolerance_bounds_pairs(spark, events, tmp_path):
    from bdqc_spark.streaming.windows import stream_interval_join

    ev = events.limit(600)
    left = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    wide = stream_interval_join(left, right, "user_id", tolerance_sec=7200).count()
    narrow = stream_interval_join(left, right, "user_id", tolerance_sec=60).count()
    assert narrow <= wide
    # every narrow pair honors the bound
    chk = stream_interval_join(left, right, "user_id", tolerance_sec=60)
    bad = chk.where(
        F.abs(F.col("ts_r").cast("long") - F.col("ts_l").cast("long")) > 60
    ).count()
    assert bad == 0

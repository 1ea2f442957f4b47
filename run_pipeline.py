"""Deployment entry point (BASELINE.json:14):

    scripts/package.sh                 # → dist/engine.zip
    spark-submit --py-files dist/engine.zip run_pipeline.py \
        --table /data/clips --out /data/qc_out [--snapshot snap-0]

Runs (or resumes) the QC pipeline over an Iceberg-shaped clips table.
On a cluster, spark-submit supplies master/executors; locally it
falls back to local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="bdqc-spark QC pipeline")
    ap.add_argument("--table", required=True, help="Iceberg-shaped clips table root")
    ap.add_argument("--out", required=True, help="output root for state tables")
    ap.add_argument("--snapshot", default=None, help="pin an input snapshot id")
    ap.add_argument("--exact-models", action="store_true", help="exact quantiles (test scale)")
    ap.add_argument("--master", default=None, help="override master (local runs)")
    ap.add_argument(
        "--html-report",
        default=None,
        metavar="PATH",
        help="also render the run's metrics as a self-contained HTML report "
        "(the reference's --writeHTML entry point)",
    )
    ap.add_argument(
        "--maintain",
        action="store_true",
        help="after the run, compact small files on the input table, "
        "expire all but the latest snapshot and sweep orphan files "
        "older than the safety window (scheduled table maintenance; "
        "skip on tables other jobs read via time travel)",
    )
    ap.add_argument(
        "--target-file-mb",
        type=int,
        default=None,
        metavar="MB",
        help="with --maintain: bin-pack compaction rewrites to "
        "~MB-sized files per bucket (Iceberg write.target-file-size) "
        "instead of one file per bucket — set this once buckets "
        "outgrow a single sane file",
    )
    ap.add_argument(
        "--retain-hours",
        type=float,
        default=None,
        metavar="H",
        help="with --maintain: keep time travel to snapshots committed "
        "within the last H hours (age-based retention layered on the "
        "always-kept current snapshot); default expires everything "
        "but the current snapshot",
    )
    ap.add_argument(
        "--erase-where",
        default=None,
        metavar="SQL_PREDICATE",
        help="BEFORE the run, row-level DELETE matching rows from the "
        "input table (copy-on-write rewrite of only the affected "
        "files) — the PII right-to-be-forgotten path. Combine with "
        "--maintain to also expire old snapshots and sweep the "
        "superseded files, which physically erases the bytes",
    )
    ap.add_argument(
        "--strip-metadata",
        action="store_true",
        help="BEFORE the run, rewrite clips whose audio container "
        "carries embedded metadata (WAV LIST/INFO, FLAC Vorbis "
        "comments) with the metadata removed — a copy-on-write "
        "UPDATE touching only the affected files; audio payload "
        "decodes bit-identically. Combine with --maintain to expire "
        "the pre-strip snapshots and physically erase the tag bytes",
    )
    ap.add_argument(
        "--erase-keys",
        default=None,
        metavar="FILE",
        help="like --erase-where but takes a FILE of clip ids (one "
        "per line) and uses the manifest-pruned fast path: the "
        "discovery scan touches only the keys' hash buckets, not "
        "the table",
    )
    ap.add_argument(
        "--repair-out",
        default=None,
        metavar="DIR",
        help="AFTER the run, apply the repair stage to dropped-but-"
        "repairable clips (DC removal / VAD silence trim / loudness "
        "normalization, one rewrite pass), write the rewritten "
        "payloads to DIR/clips, re-decide them against this run's "
        "cohort models and write the per-clip report to DIR/report "
        "(now_keep = the honest repair yield)",
    )
    ap.add_argument(
        "--ingest-tar",
        default=None,
        metavar="GLOB",
        help="BEFORE the run, ingest WebDataset-style tar shards "
        "(per-sample member groups key.<codec> + key.txt + key.json) "
        "at GLOB into the input table — creates the table if it "
        "doesn't exist, appends a snapshot if it does — then run the "
        "pipeline over the result",
    )
    ap.add_argument(
        "--wap-branch",
        default=None,
        metavar="NAME",
        help="write-audit-publish: stage --ingest-tar's batch on "
        "branch NAME (created at the current snapshot if absent), run "
        "the pipeline against the BRANCH head as the audit, and "
        "publish to main (fast-forward pointer move, no data copy) "
        "only if the new batch's keep rate clears --wap-keep-"
        "threshold; a failing batch stays quarantined on the branch "
        "for inspection and main never sees it",
    )
    ap.add_argument(
        "--wap-keep-threshold",
        type=float,
        default=0.8,
        metavar="FRAC",
        help="minimum keep rate over the staged batch for --wap-branch "
        "to publish (default 0.8)",
    )
    ap.add_argument(
        "--rebucket",
        type=int,
        default=None,
        metavar="N",
        help="BEFORE the run, evolve the input table's partition spec "
        "to bucket(N, clip_id) — a row-count-asserted rewrite "
        "snapshot; older snapshots stay readable under their own "
        "spec and incremental consumers skip the rewrite (use when "
        "the corpus outgrows the bucket count it was created with)",
    )
    args = ap.parse_args(argv)

    from bdqc_spark.session import build_session
    from bdqc_spark.plans.pipeline import read_state, run_pipeline
    from bdqc_spark.sources.iceberg import IcebergishTable

    spark = build_session(app_name="bdqc-pipeline", master=args.master)
    tbl = IcebergishTable(args.table)
    src_tbl = tbl  # what the pipeline reads; a branch view under WAP
    wap_pre = None  # branch head before the staged ingest
    if args.wap_branch:
        if not args.ingest_tar:
            print("--wap-branch requires --ingest-tar", file=sys.stderr)
            return 2
        if args.rebucket or args.erase_where or args.erase_keys or args.strip_metadata:
            print(
                "--wap-branch stages an ingest only; run table mutations "
                "(--rebucket/--erase-*/--strip-metadata) on main separately",
                file=sys.stderr,
            )
            return 2
        if not tbl.exists():
            print("--wap-branch needs an existing table to stage against", file=sys.stderr)
            return 2
    ingested = None
    if args.ingest_tar:
        if args.snapshot:
            print("--ingest-tar cannot be combined with --snapshot", file=sys.stderr)
            return 2
        from bdqc_spark.sources.webdataset import read_tar_shards, tar_to_clips

        if args.wap_branch:
            if args.wap_branch not in tbl.refs()["branches"]:
                tbl.create_branch(args.wap_branch)
            src_tbl = tbl.branch(args.wap_branch)
            wap_pre = src_tbl.current_snapshot_id()
        sid = src_tbl.append(tar_to_clips(read_tar_shards(spark, args.ingest_tar)))
        ingested = {
            "snapshot": sid,
            "total_rows": src_tbl.snapshot()["summary"]["total_rows"],
        }
    if not tbl.exists():
        print(f"no snapshot at {args.table}", file=sys.stderr)
        return 2
    if args.rebucket is not None:
        if args.snapshot:
            print("--rebucket cannot be combined with --snapshot", file=sys.stderr)
            return 2
        tbl.rebucket(spark, args.rebucket)
    erased = None
    if args.erase_where or args.erase_keys:
        if args.snapshot:
            print("--erase-where/--erase-keys cannot be combined with --snapshot", file=sys.stderr)
            return 2
        if args.erase_where and args.erase_keys:
            print("--erase-where and --erase-keys are mutually exclusive", file=sys.stderr)
            return 2
        if args.erase_keys:
            with open(args.erase_keys) as f:
                keys = [ln.strip() for ln in f if ln.strip()]
            del_sid = tbl.delete_keys(spark, keys)
        else:
            del_sid = tbl.delete(spark, args.erase_where)
        erased = (
            {"snapshot": del_sid, "rows": tbl.snapshot()["summary"]["deleted_rows"]}
            if del_sid
            else {"snapshot": None, "rows": 0}
        )
    stripped = None
    if args.strip_metadata:
        if args.snapshot:
            print("--strip-metadata cannot be combined with --snapshot", file=sys.stderr)
            return 2
        from bdqc_spark.functions.audio_metadata import strip_table_metadata

        strip_sid = strip_table_metadata(spark, tbl)
        stripped = (
            {"snapshot": strip_sid, "rows": tbl.snapshot()["summary"]["updated_rows"]}
            if strip_sid
            else {"snapshot": None, "rows": 0}
        )
    snapshot = args.snapshot or src_tbl.current_snapshot_id()
    result = run_pipeline(
        spark,
        # a pinned --snapshot must pin the DATA read too, not just the
        # lineage key (time-travel semantics of the manifest reader);
        # under WAP, src_tbl is the branch view and the audit runs
        # against the staged (branch-head) state
        src_tbl.read(spark, snapshot_id=args.snapshot),
        args.out,
        input_snapshot=snapshot,
        exact_models=args.exact_models,
        all_buckets=src_tbl.bucket_ids(snapshot_id=args.snapshot),
    )
    wap = None
    if args.wap_branch:
        import os

        from pyspark.sql import functions as F

        new_ids = src_tbl.read_incremental(spark, from_snapshot_id=wap_pre).select(
            "clip_id"
        )
        decisions = spark.read.parquet(os.path.join(result.out_dir, "decisions"))
        agg = (
            decisions.join(new_ids, "clip_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("int")).alias("kept"),
            )
            .collect()[0]
        )
        keep_rate = (int(agg["kept"] or 0) / agg["n"]) if agg["n"] else 1.0
        published = keep_rate >= args.wap_keep_threshold
        if published:
            tbl.fast_forward(args.wap_branch)
        wap = {
            "branch": args.wap_branch,
            "staged_snapshot": src_tbl.current_snapshot_id(),
            "batch_rows": agg["n"],
            "batch_keep_rate": round(keep_rate, 4),
            "published": published,
        }
    maintenance = None
    if args.maintain:
        import time as _time

        compacted = tbl.compact(
            spark,
            target_file_bytes=(
                args.target_file_mb * (1 << 20) if args.target_file_mb else None
            ),
        )
        cutoff = (
            int((_time.time() - args.retain_hours * 3600.0) * 1000)
            if args.retain_hours is not None
            else None
        )
        expired = tbl.expire_snapshots(keep_last=1, older_than_ms=cutoff)
        orphans = tbl.remove_orphans()
        maintenance = {
            "compacted_snapshot": compacted,
            "expired_snapshots": len(expired),
            "orphans_removed": len(orphans),
        }
    repair = None
    if args.repair_out:
        import os

        from pyspark.sql import functions as F

        from bdqc_spark.plans.repair import redecide_repaired, repair_clips

        clips_df = tbl.read(spark, snapshot_id=args.snapshot).select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
        )
        decisions = spark.read.parquet(os.path.join(result.out_dir, "decisions"))
        models = read_state(os.path.join(result.out_dir, "cohort_models")).to_pylist()
        repaired = repair_clips(clips_df, decisions)
        # sink the rewritten payloads once, report off the written data
        repaired.where(F.col("repair_ok")).write.mode("overwrite").parquet(
            os.path.join(args.repair_out, "clips")
        )
        fixed = spark.read.parquet(os.path.join(args.repair_out, "clips"))
        rep = redecide_repaired(fixed, models)
        rep.write.mode("overwrite").parquet(os.path.join(args.repair_out, "report"))
        agg = (
            spark.read.parquet(os.path.join(args.repair_out, "report"))
            .agg(
                F.count("*").alias("repaired"),
                F.sum(F.col("now_keep").cast("int")).alias("recovered"),
            )
            .collect()[0]
        )
        repair = {
            "out": args.repair_out,
            "repaired": agg["repaired"],
            "recovered": int(agg["recovered"] or 0),
        }
    report_path = None
    if args.html_report:
        from bdqc_spark.plans.report import write_html_report

        report_path = write_html_report(args.out, args.html_report)
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "out": result.out_dir,
                "processed_buckets": result.processed_buckets,
                "stage_seconds": result.stage_seconds,
                # the REAL master the job ran under (deployment check:
                # under spark-submit this must be the submitted value,
                # not a local[] default)
                "master": spark.sparkContext.master,
                "html_report": report_path,
                "maintenance": maintenance,
                "ingested": ingested,
                "wap": wap,
                "erased": erased,
                "stripped": stripped,
                "repair": repair,
                # None on fresh runs (no previous model snapshot);
                # else the number of drifted (cohort, attribute) cells
                "drift_flagged": result.drift_flagged,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

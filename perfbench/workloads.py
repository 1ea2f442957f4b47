"""The two closed-loop workloads: one client, next iteration only after
the previous one finished, all in the driver process.

Each workload returns a ``Measured``: per-iteration walls and the
end-to-end figures, attempt/failure counts for the correctness checks,
and in traced runs one dict of per-layer values per iteration.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import (
    CLIPS_APPEND,
    CLIPS_BASE,
    LABEL_COLS,
    NUM_BUCKETS,
    clips_inputs,
    prime_page_cache,
)
from tracing import Tracer, busy_seconds, enable_profiler, group_stages, stage_totals, take_profile

PIPELINE_LAYERS = [
    "fn.decode_s", "fn.vad_s", "fn.bandwidth_s", "fn.langid_s", "fn.ppl_s",
    "fn.arrow_io_s", "fn.udf_total_s", "fn.model_train_s",
    "A.wall_s", "A.task_cpu_s", "A.task_run_s", "A.gc_s", "A.input_bytes", "A.tasks",
    "B.wall_s", "B.task_cpu_s", "B.shuffle_bytes", "B.jobs", "B2.wall_s",
    "C.wall_s", "C.task_cpu_s", "C.shuffle_bytes", "C.output_bytes", "D.wall_s",
    "sources.plan_s", "sources.files_planned",
    "sources.append_files_added", "sources.append_bytes_written",
    "pipeline.driver_gap_s", "pipeline.unattributed_frac",
]
SPARK_LAYERS = [
    "spark.task_cpu_s", "spark.task_run_s", "spark.gc_s", "spark.core_util",
    "spark.shuffle_write_bytes", "spark.input_bytes", "spark.stages", "spark.tasks",
    "spark.tasks_failed",
]
ALL_LAYERS = PIPELINE_LAYERS + SPARK_LAYERS + ["trace.wall_s"]
# Largest share of an iteration's wall that Spark-busy time may differ
# from the busy time claimed by the named spans before the attribution
# counts as a failed check.
RECONCILE_TOL = 0.10


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_util")):
        return "ratio"
    return "count"


@dataclass
class Measured:
    walls: list[float] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)  # e2e figures per iteration
    notes: dict[str, float] = field(default_factory=dict)  # one-off figures
    layers: list[dict[str, float]] = field(default_factory=list)  # traced, per iteration
    totals: dict[str, float] = field(default_factory=dict)  # traced, per run
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr, flush=True)

    def add(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)

    def profile(self, spark) -> dict[str, float]:
        """Take the UDF profile since the last call. Model training is
        paid once per Python worker, in whichever pass came first, so it
        is summed over the whole run rather than taken per iteration."""
        prof = take_profile(spark)
        self.totals["fn.model_train_s"] = self.totals.get("fn.model_train_s", 0.0) + prof.pop(
            "fn.model_train_s"
        )
        return prof


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[p] = os.path.getsize(p)
    return out


@contextmanager
def _job_group(sc, group: str, on: bool):
    if on:
        sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if on:
            sc.setJobGroup("perfbench.untimed", "untimed")


def _closed_loop(m: Measured, seconds: float, step, warmup: int) -> None:
    """Run ``step(i, timed)`` until ``seconds`` have passed after the
    first ``warmup`` untimed calls (the first passes over a path are
    slower: its JIT and plan caches are cold). An iteration that raises
    counts as failed."""
    start = None if warmup else time.time()
    i = 0
    while start is None or time.time() - start < seconds:
        try:
            step(i, i >= warmup)
            # flush this iteration's writes before the next timed region,
            # so that their writeback does not land in it
            os.sync()
        except Exception:  # noqa: BLE001 - counted; the next iteration restores state
            traceback.print_exc()
            m.attempted += 1
            m.failed += 1
        i += 1
        if start is None and i >= warmup:
            start = time.time()


def _check_decisions(m: Measured, out_dir: str, golden: pd.DataFrame) -> None:
    """The golden-pipeline checks: one decision per input clip, keep/drop
    F1 >= 0.99 against the oracle, and identical scrubbed transcripts on
    rows both sides keep."""
    dec = (
        ds.dataset(f"{out_dir}/decisions", format="parquet", partitioning="hive")
        .to_table(columns=["clip_id", "keep", "scrubbed_transcript"])
        .to_pandas()
    )
    m.check(
        len(dec) == len(golden) and dec.clip_id.is_unique,
        f"decisions rows {len(dec)} != input clips {len(golden)}",
    )
    j = dec.merge(golden, on="clip_id", suffixes=("_e", "_g"))
    tp = int(((~j.keep_e) & (~j.keep_g)).sum())
    fp = int(((~j.keep_e) & j.keep_g).sum())
    fn = int((j.keep_e & (~j.keep_g)).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    m.check(len(j) == len(golden) and f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99")
    both = j[j.keep_e & j.keep_g]
    bad = int((both.scrubbed_transcript_e != both.scrubbed_transcript_g).sum())
    m.check(len(both) > 0 and bad == 0, f"{bad} scrubbed transcripts differ")


def _pipeline_spans(t_run: float, ss: dict[str, float]) -> dict[str, tuple[float, float]]:
    """Windows of stages A, B, B2, C and D. ``stage_seconds`` chains them
    back to back from ``run_pipeline``'s start; B2 runs at the end of B,
    and B is reported net of it."""
    a_end = t_run + ss.get("A_profile", 0.0)
    b_end = a_end + ss.get("B_models", 0.0)
    b2_start = b_end - ss.get("B2_drift", 0.0)
    c_end = b_end + ss.get("C_decide", 0.0)
    return {
        "A": (t_run, a_end),
        "B": (a_end, b2_start),
        "B2": (b2_start, b_end),
        "C": (b_end, c_end),
        "D": (c_end, c_end + ss.get("D_metrics", 0.0)),
    }


def _traced_layers(
    m: Measured, spark, tracer: Tracer, group: str, i: int,
    t0: float, t3: float, own: dict[str, tuple[float, float]], result, cores: int,
) -> dict[str, float]:
    """Per-layer values of one traced iteration over [t0, t3].

    Spark stages of the iteration's job group go to the span whose window
    holds their submission time: the benchmark's own spans in ``own``
    (sources calls) or a pipeline stage window (stage names carry no
    Python call site). The reconciliation is independent of those
    windows: Spark-busy time in the iteration (from the status store)
    must equal the busy time the spans claim, so that the spans plus
    ``pipeline.driver_gap_s`` account for the whole wall. A miss above
    RECONCILE_TOL is a failed check."""
    jobs, stages = group_stages(spark, group)
    pipe = _pipeline_spans(own["pipeline.run"][0], result.stage_seconds)
    spans = {**{k: v for k, v in own.items() if k != "pipeline.run"}, **pipe}
    mine = {k: [s for s in stages if a <= s.submit < b] for k, (a, b) in spans.items()}
    tot = {k: stage_totals(v) for k, v in mine.items()}
    wall = t3 - t0
    gap = wall - busy_seconds(stages, t0, t3)
    claimed = sum(busy_seconds(v, t0, t3) for v in mine.values())
    unattributed = abs(wall - (claimed + gap)) / wall
    m.check(unattributed <= RECONCILE_TOL, f"{group}: {unattributed:.1%} of wall not attributed to a span")
    b_lo, b_hi = spans["B"]
    all_t = stage_totals(stages)
    vals = {
        "A.wall_s": spans["A"][1] - spans["A"][0],
        "A.task_cpu_s": tot["A"]["task_cpu_s"],
        "A.task_run_s": tot["A"]["task_run_s"],
        "A.gc_s": tot["A"]["gc_s"],
        "A.input_bytes": tot["A"]["input_bytes"],
        "A.tasks": tot["A"]["tasks"],
        "B.wall_s": b_hi - b_lo,
        "B.task_cpu_s": tot["B"]["task_cpu_s"],
        "B.shuffle_bytes": tot["B"]["shuffle_write_bytes"],
        "B.jobs": sum(1 for _j, ts, _s in jobs if ts is not None and b_lo <= ts < b_hi),
        "B2.wall_s": spans["B2"][1] - spans["B2"][0],
        "C.wall_s": spans["C"][1] - spans["C"][0],
        "C.task_cpu_s": tot["C"]["task_cpu_s"],
        "C.shuffle_bytes": tot["C"]["shuffle_write_bytes"],
        "C.output_bytes": tot["C"]["output_bytes"],
        "D.wall_s": spans["D"][1] - spans["D"][0],
        "sources.plan_s": spans["sources.plan"][1] - spans["sources.plan"][0],
        "pipeline.driver_gap_s": gap,
        "pipeline.unattributed_frac": unattributed,
        "spark.task_cpu_s": all_t["task_cpu_s"],
        "spark.task_run_s": all_t["task_run_s"],
        "spark.gc_s": all_t["gc_s"],
        "spark.core_util": all_t["task_run_s"] / (wall * cores),
        "spark.shuffle_write_bytes": all_t["shuffle_write_bytes"],
        "spark.input_bytes": all_t["input_bytes"],
        "spark.stages": all_t["stages"],
        "spark.tasks": all_t["tasks"],
        "spark.tasks_failed": all_t["tasks_failed"],
        "trace.wall_s": wall,
    }
    tracer.add("iteration", t0, t3, None, i)
    for name, (a, b) in own.items():
        tracer.add(name, a, b, "iteration", i)
    for name, (a, b) in pipe.items():
        tracer.add(name, a, b, "B" if name == "B2" else "pipeline.run", i)
    return vals


def _setup_corpus(m: Measured, spark, work: str, seed: int) -> tuple[str, pd.DataFrame]:
    t = time.time()
    inp = clips_inputs(spark, work, seed)
    m.notes["inputs_s"] = time.time() - t
    golden = pq.read_table(f"{inp}/golden.parquet").to_pandas()
    prime_page_cache(inp)
    os.sync()
    return inp, golden


# ---- fresh_pipeline ---------------------------------------------------------


def fresh_pipeline(spark, work: str, seed: int, seconds: float, trace: bool, tracer: Tracer) -> Measured:
    """Set-up loads the whole corpus into one table snapshot. Each
    iteration removes the output directory (untimed), then plans the
    snapshot and runs the first QC of the table, whose stage A takes the
    direct-read path. The first two iterations, the first of them cold,
    are the warm-up."""
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.sources.iceberg import IcebergishTable

    m = Measured()
    cores = spark.sparkContext.defaultParallelism
    n_clips = CLIPS_BASE + CLIPS_APPEND
    inp, golden = _setup_corpus(m, spark, work, seed)
    run = os.path.join(work, "run")
    tbl_dir, out_dir = f"{run}/table", f"{run}/out"
    tbl = IcebergishTable(tbl_dir, num_buckets=NUM_BUCKETS)
    t = time.time()
    tbl.append(spark.read.parquet(f"{inp}/base", f"{inp}/append").drop(*LABEL_COLS))
    m.notes["load_s"] = time.time() - t
    snap = tbl.current_snapshot_id()
    if trace:
        enable_profiler(spark)
    sc = spark.sparkContext

    def step(i: int, timed: bool) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)
        group = f"fresh_pipeline.{i}"
        with _job_group(sc, group, trace):
            t1 = time.time()
            clips = tbl.read(spark, snapshot_id=snap)
            buckets = tbl.bucket_ids(snap)
            t2 = time.time()
            res = run_pipeline(spark, clips, out_dir, input_snapshot=snap, all_buckets=buckets)
            t3 = time.time()
        m.attempted += 1
        _check_decisions(m, out_dir, golden)
        prof = m.profile(spark) if trace else {}
        if i == 0:
            m.notes["cold_s"] = t3 - t1
        if not timed:
            return
        m.walls.append(t3 - t1)
        m.add("pipeline_s", t3 - t2)
        m.add("clips_per_s", n_clips / (t3 - t1))
        m.add("state_bytes_per_clip", sum(_tree_files(out_dir).values()) / n_clips)
        if not trace:
            return
        own = {"sources.plan": (t1, t2), "pipeline.run": (t2, t3)}
        vals = _traced_layers(m, spark, tracer, group, i, t1, t3, own, res, cores)
        vals.update(prof)
        vals["sources.files_planned"] = sum(len(v) for v in tbl.snapshot(snap)["bucket_files"].values())
        vals["sources.append_files_added"] = 0
        vals["sources.append_bytes_written"] = 0
        m.layers.append(vals)

    # the cold first iteration and one warm one: iterations kept getting
    # faster up to the third (e.g. 13.7, 7.7, 6.6, 6.0 s in one run)
    _closed_loop(m, seconds, step, warmup=2)
    return m


# ---- incremental_append -----------------------------------------------------


def incremental_append(spark, work: str, seed: int, seconds: float, trace: bool, tracer: Tracer) -> Measured:
    """Set-up QCs the first CLIPS_BASE clips (a fresh run). Each iteration restores that state outside the
    timer, appends the last CLIPS_APPEND clips and QCs the new
    snapshot."""
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.sources.iceberg import IcebergishTable

    m = Measured()
    cores = spark.sparkContext.defaultParallelism
    inp, golden = _setup_corpus(m, spark, work, seed)
    run = os.path.join(work, "run")
    base_tbl, base_out = f"{run}/base_table", f"{run}/base_out"
    tbl_dir, out_dir = f"{run}/table", f"{run}/out"

    base = IcebergishTable(base_tbl, num_buckets=NUM_BUCKETS)
    t = time.time()
    base.append(spark.read.parquet(f"{inp}/base").drop(*LABEL_COLS))
    m.notes["load_s"] = time.time() - t
    snap = base.current_snapshot_id()
    if trace:
        enable_profiler(spark)
    t = time.time()
    run_pipeline(
        spark, base.read(spark, snapshot_id=snap), base_out,
        input_snapshot=snap, all_buckets=base.bucket_ids(snap),
    )
    m.notes["cold_s"] = time.time() - t
    if trace:
        m.profile(spark)
    base_files = {k: v for k, v in _tree_files(base_tbl).items() if "/data/" in k}
    base_out_bytes = sum(_tree_files(base_out).values())
    sc = spark.sparkContext

    def step(i: int, timed: bool) -> None:
        shutil.rmtree(tbl_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.copytree(base_tbl, tbl_dir)
        shutil.copytree(base_out, out_dir)
        os.sync()
        group = f"incremental_append.{i}"
        with _job_group(sc, group, trace):
            t0 = time.time()
            tbl = IcebergishTable(tbl_dir, num_buckets=NUM_BUCKETS)
            tbl.append(spark.read.parquet(f"{inp}/append").drop(*LABEL_COLS))
            t1 = time.time()
            new_snap = tbl.current_snapshot_id()
            clips = tbl.read(spark, snapshot_id=new_snap)
            buckets = tbl.bucket_ids(new_snap)
            t2 = time.time()
            res = run_pipeline(spark, clips, out_dir, input_snapshot=new_snap, all_buckets=buckets)
            t3 = time.time()
        m.attempted += 1
        _check_decisions(m, out_dir, golden)
        prof = m.profile(spark) if trace else {}
        if not timed:
            return
        m.walls.append(t3 - t0)
        m.add("append_s", t1 - t0)
        m.add("pipeline_s", t3 - t2)
        m.add("clips_per_s", CLIPS_APPEND / (t3 - t0))
        m.add("state_bytes_per_clip", (sum(_tree_files(out_dir).values()) - base_out_bytes) / CLIPS_APPEND)
        if not trace:
            return
        own = {"sources.append": (t0, t1), "sources.plan": (t1, t2), "pipeline.run": (t2, t3)}
        vals = _traced_layers(m, spark, tracer, group, i, t0, t3, own, res, cores)
        vals.update(prof)
        added = {k: v for k, v in _tree_files(tbl_dir).items() if "/data/" in k}
        new_files = [k for k in added if k.replace(tbl_dir, base_tbl, 1) not in base_files]
        vals["sources.files_planned"] = sum(len(v) for v in tbl.snapshot(new_snap)["bucket_files"].values())
        vals["sources.append_files_added"] = len(new_files)
        vals["sources.append_bytes_written"] = sum(added[k] for k in new_files)
        m.layers.append(vals)

    # the set-up's fresh run warmed the fresh path, not the incremental
    # one (its anti-join, JVM transport and drift): without this warm-up
    # a run's median wall rose from about 8 s to 9.4-10.5 s
    _closed_loop(m, seconds, step, warmup=1)
    return m


WORKLOADS = {
    "fresh_pipeline": fresh_pipeline,
    "incremental_append": incremental_append,
}

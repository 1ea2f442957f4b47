"""Trace collection for ``--trace 1`` runs, all from outside the program.

- Spans (name, start, end, parent, iteration) are kept in memory and
  written to ``<work>/spans.jsonl`` when the run ends.
- Spark stage metrics come from the live status store (it is filled even
  with the UI disabled), found through the job group the benchmark sets
  per iteration.
- Python leaf times come from Spark's built-in UDF ``perf`` profiler,
  switched on only in traced runs.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    iteration: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: str | None, iteration: int) -> None:
        self.spans.append(Span(name, start, end, parent, iteration))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class StageInfo:
    stage_id: int
    submit: float  # epoch seconds
    complete: float
    tasks: int
    tasks_failed: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_jobs(spark, group: str) -> list[tuple[int, float | None, list[int]]]:
    """(job id, submission time, stage ids) of every job in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(sc._jvm.java.util.ArrayList())):
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            out.append((j.jobId(), _opt_time(j.submissionTime()), [int(x) for x in _seq(j.stageIds())]))
    return out


def group_stages(spark, group: str) -> tuple[list, list[StageInfo]]:
    """(jobs as from ``group_jobs``, stages that ran) for one job group. Skipped stages
    (shuffle reuse) never got a submission time and are left out."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = group_jobs(spark, group)
    stages = []
    for sid in sorted({s for _j, _t, ss in jobs for s in ss}):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j: stage evicted or never submitted
            continue
        submit = _opt_time(st.submissionTime())
        if submit is None:
            continue
        complete = _opt_time(st.completionTime()) or time.time()
        stages.append(
            StageInfo(
                stage_id=sid,
                submit=submit,
                complete=complete,
                tasks=int(st.numCompleteTasks()) + int(st.numFailedTasks()),
                tasks_failed=int(st.numFailedTasks()),
                run_s=st.executorRunTime() / 1000.0,
                cpu_s=st.executorCpuTime() / 1e9,
                gc_s=st.jvmGcTime() / 1000.0,
                input_bytes=int(st.inputBytes()),
                output_bytes=int(st.outputBytes()),
                shuffle_write_bytes=int(st.shuffleWriteBytes()),
            )
        )
    return jobs, stages


def busy_seconds(stages: list[StageInfo], start: float, end: float) -> float:
    """Length of the union of stage run intervals clipped to [start, end]."""
    iv = sorted((max(s.submit, start), min(s.complete, end)) for s in stages)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stage_totals(stages: list[StageInfo]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "tasks_failed": sum(s.tasks_failed for s in stages),
        "task_run_s": sum(s.run_s for s in stages),
        "task_cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "input_bytes": sum(s.input_bytes for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
    }


# ---- UDF perf profiler -------------------------------------------------------

# metric -> (file name, function name) whose cumulative time it reports;
# the profiler keeps only the base name of each file
PROFILED_LEAVES = {
    "fn.decode_s": [("audio.py", "decode_arrow_slice")],
    "fn.vad_s": [("audio.py", "speech_ratio")],
    "fn.bandwidth_s": [("audio.py", "bandwidth_ratio")],
    "fn.langid_s": [("langid.py", "predict_batch")],
    "fn.ppl_s": [("lm.py", "perplexity_batch")],
    "fn.model_train_s": [("langid.py", "train_model"), ("lm.py", "train_lm")],
}
# Stage A's mapInArrow body: ``gen`` (direct read, which calls
# ``_profile_arrow`` per batch) or ``_profile_arrow`` itself (JVM path).
UDF_BODIES = (("profile.py", "gen"), ("profile.py", "_profile_arrow"))


def enable_profiler(spark) -> None:
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")


def take_profile(spark) -> dict[str, float]:
    """Sum the profiler's results since the last call, then clear them.

    Leaf metrics are cumulative times of the named functions.
    ``fn.udf_total_s`` is the cumulative time of stage A's mapInArrow
    body. ``fn.arrow_io_s`` is the self time of pyarrow code (its Python
    modules and native methods) plus that of the direct-read body, where
    pyarrow's Cython parquet reader lands: the profiler does not see
    Cython calls as functions of their own."""
    out = {k: 0.0 for k in PROFILED_LEAVES}
    out["fn.udf_total_s"] = 0.0
    out["fn.arrow_io_s"] = 0.0
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        body = 0.0
        for (fname, _line, func), (_cc, _nc, tt, ct, _callers) in stats.stats.items():
            key = (os.path.basename(fname), func)
            for metric, targets in PROFILED_LEAVES.items():
                if key in targets:
                    out[metric] += ct
            if key in UDF_BODIES:
                body = max(body, ct)
            if "pyarrow" in fname or "pyarrow" in func or key == UDF_BODIES[0]:
                out["fn.arrow_io_s"] += tt
        out["fn.udf_total_s"] += body
    spark.profile.clear(type="perf")
    return out

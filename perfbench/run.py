#!/usr/bin/env python3
"""Seeded, layered benchmark of the engine's clips QC pipeline.

    python3 perfbench/run.py --workload fresh_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is one JSON object
(correct, attempted, failed, metrics): the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
print every figure by name and unit. Inputs, Spark scratch space and
temporary files live under ``.perfbench_work/`` in the repository root.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Box-fit settings, passed through the engine's own env knobs: all cores
# of the machine, a driver heap well under physical RAM.
DRIVER_MEM = "3g"
E2E_UNITS = {"clips_per_s": "1/s", "state_bytes_per_clip": "bytes"}


def _set_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["BDQC_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this driver, the JVM and the JVM's descendants
    (the Python daemon and workers); shared pages count per process."""
    total_kb = 0
    for pid in {os.getpid(), jvm_pid} | _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _print_summary(name: str, values: list[float], unit: str) -> None:
    print(
        f"{name:<26} median {statistics.median(values):.6g} {unit}"
        f"  (max {max(values):.6g}, n={len(values)})"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "bdqc_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    _set_env()
    sys.path.insert(1, ROOT)
    from tracing import Tracer
    from workloads import ALL_LAYERS, WORKLOADS, layer_unit

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from pyspark import SparkContext

    from bdqc_spark.session import build_session

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)  # stale output dirs
    t = time.time()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    setup_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    tracer = Tracer()
    try:
        m = WORKLOADS[args.workload](spark, WORK, args.seed, args.seconds, bool(args.trace), tracer)
        rss_mb = _peak_rss_mb(gateway.proc.pid)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            gateway.proc.kill()
            gateway.proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if not m.walls:
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1

    print(f"workload {args.workload}  seed {args.seed}  cores {os.environ['SPARK_GRAFT_CPUS']}"
          f"  driver_mem {DRIVER_MEM}  trace {args.trace}")
    print(f"{'setup_s':<26} {setup_s:.6g} s")
    _print_summary("wall_s", m.walls, "s")
    print(f"{'wall_s samples':<26} " + " ".join(f"{w:.3f}" for w in m.walls))
    for name, values in sorted(m.extra.items()):
        _print_summary(name, values, E2E_UNITS.get(name, "s"))
    for name, value in sorted(m.notes.items()):
        print(f"{name:<26} {value:.6g} s")
    print(f"{'peak_rss_mb':<26} {rss_mb:.6g} MB")
    print(f"{'failed_frac':<26} {m.failed / max(m.attempted, 1):.6g}  ({m.failed}/{m.attempted})")

    if args.trace:
        tracer.write(os.path.join(WORK, "spans.jsonl"))
        metrics = {}
        for name in ALL_LAYERS:
            vals = [it[name] for it in m.layers if name in it]
            v = m.totals[name] if name in m.totals else float(statistics.median(vals)) if vals else 0.0
            metrics[name] = {"value": v, "unit": layer_unit(name)}
            print(f"{name:<44} {v:.6g} {layer_unit(name)}")
    else:
        metrics = {"wall_s": {"value": float(statistics.median(m.walls)), "unit": "s"}}
        for name in ("clips_per_s", "state_bytes_per_clip"):
            metrics[name] = {"value": float(statistics.median(m.extra[name])), "unit": E2E_UNITS[name]}
        metrics["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    print(json.dumps({
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Round-6 optimization harness (NOT the frozen bench.py).

Times individual headline queries with the noop sink (guide §1.4),
optionally repeats, and can dump .explain("formatted") plans to
plans/r06/. Used to isolate per-query cost during optimization;
official numbers still come from bench.py.

Usage:
  python bench_extra.py [--repeat N] [--plans DIR] [query ...]

Pipeline timing lives in perfbench/ (per-stage layers with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "qc_documents_keepdrop_approx",
    "agg_pricing_summary",
    "join_broadcast",
    "join_shuffle",
    "quantiles_mad",
    "topk_per_group",
    "window_running",
    "dedup_exact",
    "minhash_lsh_pairs",
    "similarity_topk",
    "scrub_documents",
    "doc_text_stats",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--plans", default=None, help="dump explain(formatted) to DIR")
    ap.add_argument("--suffix", default="", help="plan filename suffix (before/after)")
    args = ap.parse_args()

    from bdqc_spark.session import build_session

    spark = build_session(app_name="bdqc-bench-extra", master=f"local[{CPUS}]")
    import __spark_entry__ as entry

    qs = entry.queries()
    names = args.queries or HEADLINE
    out: dict[str, list[float]] = {}

    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)
        for _ in range(max(1, args.repeat)):
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            out.setdefault(name, []).append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    summary = {k: {"min": min(v), "all": v} for k, v in out.items()}
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()

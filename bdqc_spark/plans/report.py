"""Tiny HTML report sink (SURVEY.md §2.A A14 — bdqc --writeHTML).

The state tables ARE the report; this renders a human-readable
summary of a pipeline run (per-bucket counters + dropped-by-rule
totals) to one self-contained HTML file. Driver-side: the inputs are
KB-sized aggregates.
"""

from __future__ import annotations

import html
import time

from bdqc_spark.plans.pipeline import read_state


def write_html_report(out_dir: str, path: str) -> str:
    # Metrics are appended per attempt and recomputed per snapshot —
    # summing every record double-counts after a resume or an
    # incremental run. Take the LATEST record per partition_id,
    # ordered by (written_at, attempt): the attempt breaks ties of
    # timestamps landing in the same tick.
    latest: dict[int, dict] = {}
    for r in sorted(
        read_state(f"{out_dir}/metrics").to_pylist(),
        key=lambda r: (r["written_at"], r["attempt"]),
    ):
        latest[r["partition_id"]] = r
    metrics = [latest[k] for k in sorted(latest)]
    rows_seen = sum(r["rows_seen"] for r in metrics)
    rows_dropped = sum(r["rows_dropped"] for r in metrics)
    by_rule: dict[str, int] = {}
    for r in metrics:
        for k, v in r["dropped_by_rule"] or ():
            by_rule[k] = by_rule.get(k, 0) + v
    scrub_edits = sum(r["scrub_edits"] for r in metrics)

    def table(headers, rows):
        h = "".join(f"<th>{html.escape(str(x))}</th>" for x in headers)
        b = "".join(
            "<tr>" + "".join(f"<td>{html.escape(str(x))}</td>" for x in row) + "</tr>"
            for row in rows
        )
        return f"<table border=1 cellpadding=4><tr>{h}</tr>{b}</table>"

    # Model drift vs the previous snapshot (stage B2): show the
    # LATEST comparison's flagged rows, strongest first. Absent on
    # fresh runs (no previous snapshot to compare against).
    drift_section = ""
    drift = read_state(f"{out_dir}/drift")
    if drift is not None:
        rows = drift.to_pylist()
        latest_at = max(r["written_at"] for r in rows)
        compared = [r for r in rows if r["written_at"] == latest_at]
        top = sorted(
            (r for r in compared if r["drifted"]),
            key=lambda r: (r["metric"] is None, -(r["metric"] or 0.0)),
        )[:20]
        n_compared = len(compared)
        drift_section = f"""
<h2>Model drift vs previous snapshot</h2>
<p>{len(top)} flagged of {n_compared} compared (cohort, attribute) cells</p>
{table(['kind', 'codec', 'lang', 'attribute', 'n_old', 'n_new', 'metric'],
       [[r["kind"], r["codec"], r["lang_pred"], r["attribute"], r["n_old"], r["n_new"],
         f"{r['metric']:.3f}" if r["metric"] is not None else ""] for r in top])}"""

    doc = f"""<!doctype html><html><head><meta charset="utf-8">
<title>bdqc-spark QC report</title></head><body>
<h1>bdqc-spark QC report</h1>
<p>generated {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())} from {html.escape(out_dir)}</p>
<h2>Totals</h2>
{table(['rows_seen', 'rows_dropped', 'drop_rate', 'scrub_edits'],
       [[rows_seen, rows_dropped, f"{rows_dropped / max(rows_seen, 1):.4f}", scrub_edits]])}
<h2>Dropped by rule</h2>
{table(['rule', 'count'], sorted(by_rule.items(), key=lambda kv: -kv[1]))}
<h2>Per-partition</h2>
{table(['partition', 'rows_seen', 'rows_dropped', 'scrub_edits', 'wall_ms'],
       [[r["partition_id"], r["rows_seen"], r["rows_dropped"], r["scrub_edits"], r["wall_ms"]]
        for r in metrics])}
{drift_section}
</body></html>"""
    with open(path, "w") as f:
        f.write(doc)
    return path

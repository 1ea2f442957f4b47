"""V3/V4 grouped-UDF operators + A14 HTML report."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_exact_cohort_stats_matches_numpy(spark):
    from bdqc_spark.operators.grouped import exact_cohort_stats

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame(
        {"g": np.repeat(["a", "b"], 300), "x": rng.lognormal(1, 0.7, 600)}
    )
    got = exact_cohort_stats(spark.createDataFrame(pdf), ["g"], "x").toPandas().set_index("g")
    for g in ("a", "b"):
        xs = pdf[pdf.g == g]["x"].to_numpy()
        assert got.loc[g, "n"] == 300
        assert abs(got.loc[g, "median"] - np.median(xs)) < 1e-12
        assert abs(got.loc[g, "mad"] - np.median(np.abs(xs - np.median(xs)))) < 1e-12
        assert abs(got.loc[g, "p99"] - np.quantile(xs, 0.99)) < 1e-9


def test_mad_udaf_in_agg(spark):
    from bdqc_spark.operators.grouped import with_exact_mad

    rows = [("k", float(v)) for v in [1, 2, 3, 4, 100]]
    df = spark.createDataFrame(rows, "g string, x double")
    out = with_exact_mad(df, ["g"], "x").collect()[0]
    assert out["mad"] == 1.0  # median=3, |x-3| = [2,1,0,1,97] → median 1


def test_html_report(spark, tmp_path):
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.plans.report import write_html_report
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    root = str(tmp_path / "tbl")
    tbl = IcebergishTable(root, num_buckets=4)
    tbl.append(generate_clips_df(spark, 200, seed=3))
    out = str(tmp_path / "out")
    run_pipeline(spark, tbl.read(spark), out)
    path = write_html_report(out, str(tmp_path / "report.html"))
    doc = open(path).read()
    assert "bdqc-spark QC report" in doc
    assert "rows_seen" in doc and "Dropped by rule" in doc


def test_html_report_no_double_count_after_incremental(spark, tmp_path, spark_jobs):
    """ADVICE r1 (low): metrics are appended per attempt; after an
    incremental snapshot the report must total the LATEST record per
    partition, not the sum of every attempt. The report reads the
    KB-sized state tables on the driver: it submits no Spark job, and
    its totals and drift section equal what the decisions and drift
    tables hold."""
    import re

    import pyarrow.dataset as ds
    import pyarrow.compute as pc

    from bdqc_spark.plans.pipeline import read_state

    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.plans.report import write_html_report
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    root = str(tmp_path / "tbl")
    tbl = IcebergishTable(root, num_buckets=4)
    s_a = tbl.append(generate_clips_df(spark, 150, seed=5))
    out = str(tmp_path / "out")
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_a)
    s_b = tbl.append(generate_clips_df(spark, 50, seed=5, start=150))
    run_pipeline(spark, tbl.read(spark), out, input_snapshot=s_b)

    with spark_jobs() as jobs:
        doc = open(write_html_report(out, str(tmp_path / "r.html"))).read()
    assert jobs == []
    m = re.search(r"<h2>Totals</h2>.*?<tr><td>(\d+)</td>", doc, re.S)
    assert m, doc[:500]
    assert int(m.group(1)) == 200  # not 150 + 200 = 350

    dec = ds.dataset(f"{out}/decisions", format="parquet", partitioning="hive").to_table()
    seen = dec.num_rows
    dropped = seen - pc.sum(dec.column("keep")).as_py()
    edits = pc.sum(dec.column("n_scrub_edits")).as_py()
    totals = f"<tr><td>{seen}</td><td>{dropped}</td><td>{dropped / seen:.4f}</td><td>{edits}</td></tr>"
    assert totals in doc
    drift = read_state(f"{out}/drift").to_pylist()
    flagged = sum(bool(r["drifted"]) for r in drift)
    assert f"<p>{min(flagged, 20)} flagged of {len(drift)} compared" in doc


def test_run_pipeline_cli_html_report_flag(spark, tmp_path, run_cli):
    """--html-report renders the report in the same CLI invocation
    (the reference's --writeHTML entry point)."""
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.synth.clips import generate_clips_df

    table = str(tmp_path / "clips")
    IcebergishTable(table, num_buckets=4).append(generate_clips_df(spark, 200, seed=67))
    report = str(tmp_path / "report.html")
    out = run_cli(
        "--table", table,
        "--out", tmp_path / "out",
        "--master", "local[4]",
        "--html-report", report,
    )
    assert out["html_report"] == report
    html = open(report).read()
    assert "rows_seen" in html and "200" in html

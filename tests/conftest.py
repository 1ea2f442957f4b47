from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from bdqc_spark.session import build_session

    s = build_session(app_name="bdqc-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def run_cli(spark, monkeypatch, capsys):
    """Run ``run_pipeline.main(argv)`` in this process, on the session
    fixture's Spark (build_session's getOrCreate hands it back): no
    fresh JVM per CLI test. ``SparkSession.stop`` is disabled so the
    CLI's final stop leaves the session up, and the SQL confs the CLI
    sets (shuffle partitions) are put back afterwards. Asserts the
    exit code equals ``rc`` and returns the last JSON line printed on
    stdout (None if none)."""
    import json

    import pyspark.sql

    import run_pipeline

    monkeypatch.setattr(pyspark.sql.SparkSession, "stop", lambda self: None)

    def sql_confs():
        return {k: v for k, v in spark.sql("SET").collect() if k.startswith("spark.sql.")}

    def run(*argv, rc=0):
        confs = sql_confs()
        capsys.readouterr()
        try:
            code = run_pipeline.main([str(a) for a in argv])
        finally:
            for k, v in sql_confs().items():
                if k not in confs:
                    spark.conf.unset(k)
                elif confs[k] != v:
                    spark.conf.set(k, confs[k])
        out, err = capsys.readouterr()
        assert code == rc, err[-2000:]
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        return json.loads(lines[-1]) if lines else None

    return run


@pytest.fixture
def sorted_bucket_files():
    """``check(table_dir)`` → {bucket: [parquet files]} for a
    ``partitionBy("bucket")`` output directory, asserting that every
    file's rows are sorted by clip_id."""
    import glob
    import re

    import pyarrow.parquet as pq

    def check(table_dir):
        out = {}
        for f in sorted(glob.glob(f"{table_dir}/bucket=*/*.parquet")):
            ids = pq.read_table(f, columns=["clip_id"]).column(0).to_pylist()
            assert ids == sorted(ids), f"{f} is not sorted by clip_id"
            out.setdefault(int(re.search(r"bucket=(\d+)/", f).group(1)), []).append(f)
        return out

    return check


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` runs the block under a job group
    of its own; after the block, ``ids`` lists the Spark jobs it
    submitted, read from the status store once the listener bus has
    drained."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def jobs():
        group = f"spark_jobs-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return jobs

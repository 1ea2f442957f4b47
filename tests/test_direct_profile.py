"""r6 optimization guards: the direct worker-side profile read path
(plans/profile.py) must be value-identical to the JVM-scan path, pack
whole buckets into one task per core, its gate must refuse non-scan
inputs, and _par must only repartition unsplittable scans (guide
§2.5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bdqc_spark.plans.pipeline import run_pipeline
from bdqc_spark.plans.profile import (
    direct_scan_files,
    profile_clips,
    profile_clips_direct,
)
from bdqc_spark.sources.iceberg import IcebergishTable
from bdqc_spark.synth.clips import generate_clips_df


@pytest.fixture(scope="module")
def tbl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("direct_profile") / "clips")
    t = IcebergishTable(root, num_buckets=4)
    t.append(generate_clips_df(spark, 240, seed=31))
    return t


@pytest.fixture(scope="module")
def mid_bucket_clips(spark, tmp_path_factory):
    """Bucket-partitioned files that also carry `bucket` as a data
    column mid-schema (a writer that keeps partition columns), read
    by explicit file list: a plain scan that passes the direct gate
    with `bucket` mid-schema, while the direct path emits it last."""
    import glob

    root = str(tmp_path_factory.mktemp("direct_profile_mid"))
    df = IcebergishTable(root, num_buckets=4).with_bucket(generate_clips_df(spark, 60, seed=33))
    cols = [c for c in df.columns if c != "bucket"]
    df = df.select(*cols[:2], "bucket", *cols[2:])
    for b in range(4):
        df.where(F.col("bucket") == b).coalesce(1).write.parquet(f"{root}/bucket={b}")
    clips = spark.read.parquet(*sorted(glob.glob(f"{root}/bucket=*/*.parquet")))
    assert clips.columns[-1] != "bucket"
    return clips


@pytest.fixture(scope="module")
def packed(spark, tmp_path_factory):
    """8 buckets over two appends of uneven size (so buckets hold two
    files of different sizes) plus one empty (0-row) data file, read
    as a plain file-list scan that passes the direct gate."""
    import glob

    import pyarrow.parquet as pq

    t = IcebergishTable(str(tmp_path_factory.mktemp("direct_profile_packed")), num_buckets=8)
    t.append(generate_clips_df(spark, 200, seed=35))
    t.append(generate_clips_df(spark, 60, seed=35, start=200))
    clips = t.read(spark)
    some = sorted(glob.glob(f"{t.data_dir}/bucket=3/*.parquet"))[0]
    empty = f"{t.data_dir}/bucket=3/part-empty.parquet"
    pq.write_table(pq.ParquetFile(some).schema_arrow.empty_table(), empty)
    return (
        spark.read.option("basePath", t.data_dir)
        .schema(clips.schema)
        .parquet(*clips.inputFiles(), empty)
    )


def test_direct_profile_packs_whole_buckets(spark, packed, tmp_path, sorted_bucket_files):
    from collections import Counter

    files = direct_scan_files(packed, None)
    per_bucket = Counter(b for _, b in files)
    assert sorted(per_bucket) == list(range(8)) and max(per_bucket.values()) >= 2
    assert any(p.endswith("part-empty.parquet") for p, _ in files)

    prof = profile_clips_direct(spark, files, packed)
    assert prof.rdd.getNumPartitions() == min(8, spark.sparkContext.defaultParallelism)
    # every bucket's rows sit in exactly one partition
    placed = prof.select("bucket", F.spark_partition_id().alias("p")).distinct().collect()
    assert sorted(r.bucket for r in placed) == list(range(8))
    a = prof.orderBy("clip_id").collect()
    b = profile_clips(packed).orderBy("clip_id").collect()
    assert len(a) == len(b) == 260
    for ra, rb in zip(a, b):
        assert ra == rb

    # the fresh pipeline over the packed stage A: one clip_id-sorted
    # file per bucket in both partitioned outputs
    out = str(tmp_path / "out")
    run_pipeline(spark, packed, out, exact_models=True)
    for d in ("profiles", "decisions"):
        got = sorted_bucket_files(f"{out}/{d}")
        assert sorted(got) == list(range(8))
        assert all(len(fs) == 1 for fs in got.values()), got


def test_direct_scan_files_gate(spark, tbl):
    clips = tbl.read(spark)
    files = direct_scan_files(clips, None)
    assert files and len(files) == len(clips.inputFiles())
    assert all(isinstance(b, int) and 0 <= b < 4 for _, b in files)
    # bucket pruning prunes the file list
    sub = direct_scan_files(clips, [1, 2])
    assert {b for _, b in sub} == {1, 2}
    # any transformation on top of the scan disqualifies (bucket can
    # no longer be derived from the file path alone)
    assert direct_scan_files(clips.where(F.col("dur_ms") > 0), None) is None
    assert direct_scan_files(clips.withColumn("x", F.lit(1)), None) is None


def test_direct_profile_value_identical(spark, tbl, mid_bucket_clips):
    for clips, n in ((tbl.read(spark), 240), (mid_bucket_clips, 60)):
        files = direct_scan_files(clips, None)
        a = profile_clips_direct(spark, files, clips).orderBy("clip_id").collect()
        b = profile_clips(clips).orderBy("clip_id").collect()
        assert len(a) == len(b) == n
        for ra, rb in zip(a, b):
            assert ra == rb


def test_par_gate(spark, sf_dir_smoke=None):
    import __spark_entry__ as entry

    d = entry._t(spark, "/root/testdata/sf0.001", "documents")
    # single input file, 4-core test session -> repartitioned wide
    par = entry._par(d, "doc_id")
    assert par.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values unchanged
    assert par.count() == d.count()


def test_direct_profile_fills_evolved_columns_with_nulls(spark, tbl, tmp_path):
    """Files written before an append added a column pass the gate:
    the task fills the column they lack with nulls of its declared
    type, as the JVM scan surfaces it, so the values equal
    profile_clips over the evolved table."""
    import shutil

    root = str(tmp_path / "evolved")
    shutil.copytree(tbl.root, root)
    t = IcebergishTable(root, num_buckets=4)
    df = generate_clips_df(spark, 40, seed=32, start=1000).withColumn(
        "rating", F.lit(5)
    )
    t.append(df)  # append with a new column evolves the schema
    clips = t.read(spark)
    assert "rating" in clips.columns
    files = direct_scan_files(clips, None)
    assert files and len(files) == len(clips.inputFiles())
    a = profile_clips_direct(spark, files, clips).orderBy("clip_id").collect()
    b = profile_clips(clips).orderBy("clip_id").collect()
    assert len(a) == len(b) == 280
    assert sum(r.rating is None for r in a) == 240
    for ra, rb in zip(a, b):
        assert ra == rb

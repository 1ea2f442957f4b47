"""Copy-on-write UPDATE (sources/iceberg.py::update) + table-level
metadata strip (functions/audio_metadata.strip_table_metadata)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bdqc_spark.sources.iceberg import IcebergishTable
from bdqc_spark.synth.clips import generate_clips_df


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergishTable(str(tmp_path / "t"), num_buckets=4)
    t.append(generate_clips_df(spark, 200, seed=7))
    return t


def test_update_rewrites_only_matching_rows(spark, table):
    t = table
    s0 = t.current_snapshot_id()
    ids = sorted(r[0] for r in t.read(spark).select("clip_id").limit(3).collect())
    sid = t.update(
        spark,
        F.col("clip_id").isin(ids),
        {"transcript": F.lit("REDACTED")},
    )
    assert sid is not None
    cur = t.read(spark)
    assert cur.count() == 200  # cardinality preserved
    got = {
        r["clip_id"]: r["transcript"]
        for r in cur.where(F.col("clip_id").isin(ids)).collect()
    }
    assert set(got.values()) == {"REDACTED"}
    assert cur.where(F.col("transcript") == "REDACTED").count() == len(got)
    # time travel still sees the originals
    old = t.read(spark, snapshot_id=s0)
    assert old.where(F.col("transcript") == "REDACTED").count() == 0
    # manifest records the operation
    snap = t.snapshot()
    assert snap["operation"] == "update"
    assert snap["summary"]["updated_rows"] == len(got)
    assert snap["summary"]["total_rows"] == 200
    d = t.snapshot_diff(s0)
    assert d["row_delta"] == 0 and d["operations"] == ["update"]


def test_update_touches_only_affected_buckets(spark, table):
    t = table
    one = t.read(spark).select("clip_id").limit(1).collect()[0][0]
    before = t.snapshot()["bucket_files"]
    t.update(spark, F.col("clip_id") == one, {"transcript": F.lit("x")})
    after = t.snapshot()["bucket_files"]
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1  # a single key lives in a single bucket


def test_update_guards(spark, table):
    t = table
    assert t.update(spark, F.col("clip_id") == "nope", {"transcript": F.lit("x")}) is None
    with pytest.raises(ValueError, match="empty assignments"):
        t.update(spark, F.lit(True), {})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update(spark, F.lit(True), {"no_such_col": F.lit(1)})


def test_strip_table_metadata_end_to_end(spark, table):
    from bdqc_spark.functions.audio_metadata import (
        parse_audio_metadata,
        strip_table_metadata,
    )

    t = table
    # plant metadata on the wav/flac clips via update itself
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _tag(raw: pd.Series, codec: pd.Series) -> pd.Series:
        from bdqc_spark.functions.audio_metadata import (
            add_flac_comments,
            add_wav_info,
        )

        out = []
        for b, c in zip(raw, codec):
            b = bytes(b)
            if c == "wav":
                out.append(add_wav_info(b, {"artist": "Jane Doe"}))
            elif c == "flac":
                out.append(add_flac_comments(b, {"ARTIST": "Jane Doe"}))
            else:
                out.append(b)
        return pd.Series(out)

    planted_sid = t.update(
        spark,
        F.col("codec").isin("wav", "flac"),
        {"bytes": _tag(F.col("bytes"), F.col("codec"))},
    )
    assert planted_sid is not None
    n_container = t.read(spark).where(F.col("codec").isin("wav", "flac")).count()
    assert n_container > 0

    strip_sid = strip_table_metadata(spark, t)
    assert strip_sid is not None
    assert t.snapshot()["summary"]["updated_rows"] == n_container
    rows = (
        t.read(spark)
        .where(F.col("codec").isin("wav", "flac"))
        .select("clip_id", "bytes", "codec")
        .collect()
    )
    for r in rows:
        assert parse_audio_metadata(bytes(r["bytes"]))["tags"] == {}
    # second strip is a no-op
    assert strip_table_metadata(spark, t) is None
    # audio survives: decode parity vs the pre-plant originals
    from bdqc_spark.functions.audio import decode

    orig = {
        r["clip_id"]: bytes(r["bytes"])
        for r in t.read(spark, snapshot_id=planted_sid)
        .where(F.col("codec").isin("wav", "flac"))
        .select("clip_id", "bytes")
        .limit(5)
        .collect()
    }
    cur = {
        r["clip_id"]: (bytes(r["bytes"]), r["codec"])
        for r in rows
        if r["clip_id"] in orig
    }
    for cid, (b, codec) in cur.items():
        np.testing.assert_array_equal(
            decode(b, codec), decode(orig[cid], codec)
        )


def test_cli_strip_metadata(spark, tmp_path, run_cli):
    """run_pipeline --strip-metadata rewrites tagged containers before
    the QC run and reports the update snapshot."""
    from pyspark.sql.functions import pandas_udf

    from bdqc_spark.functions.audio_metadata import parse_audio_metadata

    table = str(tmp_path / "clips")
    t = IcebergishTable(table, num_buckets=4)
    t.append(generate_clips_df(spark, 150, seed=43))

    @pandas_udf("binary")
    def _tag(raw: pd.Series, codec: pd.Series) -> pd.Series:
        from bdqc_spark.functions.audio_metadata import add_wav_info

        return pd.Series(
            [
                add_wav_info(bytes(b), {"artist": "Jane"}) if c == "wav" else bytes(b)
                for b, c in zip(raw, codec)
            ]
        )

    t.update(spark, F.col("codec") == "wav",
             {"bytes": _tag(F.col("bytes"), F.col("codec"))})
    # the synth corpus plants corrupt-bytes anomalies: a "wav" row
    # whose bytes aren't parseable RIFF takes the tag blob but the
    # strip (rightly) won't claim to have cleaned it — expect exactly
    # the rows the profiler can actually see metadata in
    from bdqc_spark.functions.audio_metadata import profile_audio_metadata

    n_wav = (
        profile_audio_metadata(
            t.read(spark).where(F.col("codec") == "wav").select("clip_id", "bytes")
        )
        .where("has_metadata")
        .count()
    )
    assert n_wav > 0

    res = run_cli(
        "--table", table, "--out", tmp_path / "out",
        "--master", "local[4]", "--strip-metadata",
    )
    assert res["stripped"]["rows"] == n_wav
    assert res["stripped"]["snapshot"]
    for r in (
        t.read(spark).where(F.col("codec") == "wav").select("bytes").limit(5).collect()
    ):
        assert parse_audio_metadata(bytes(r["bytes"]))["tags"] == {}

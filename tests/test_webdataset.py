"""WebDataset-style tar shard source/sink (sources/webdataset.py)."""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from bdqc_spark.sources.webdataset import read_tar_shards, write_tar_shards

N = 120


@pytest.fixture(scope="module")
def clips(spark):
    from bdqc_spark.synth.clips import generate_clips_df

    return generate_clips_df(spark, N, seed=11).cache()


@pytest.fixture(scope="module")
def shard_dir(spark, clips, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wds"))
    stats = write_tar_shards(clips, out, n_shards=4).collect()
    assert sorted(r["shard"] for r in stats) == [0, 1, 2, 3]
    assert sum(r["n_members"] for r in stats) == N
    return out


def test_round_trip(spark, clips, shard_dir):
    back = read_tar_shards(spark, shard_dir)
    assert back.count() == N
    src = {
        r["clip_id"]: r
        for r in clips.select(
            "clip_id", "bytes", "transcript", "codec", "sr_hz", "dur_ms"
        ).collect()
    }
    for r in back.collect():
        s = src[r["clip_id"]]
        assert bytes(r["bytes"]) == bytes(s["bytes"])
        assert r["transcript"] == s["transcript"]
        assert r["payload_ext"] == s["codec"]
        meta = json.loads(r["meta"])
        assert meta["sr_hz"] == s["sr_hz"] and meta["dur_ms"] == s["dur_ms"]
        assert r["shard"].startswith("shard-") and r["shard"].endswith(".tar")


def test_deterministic_bytes(spark, clips, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_tar_shards(clips, a, n_shards=4).collect()
    write_tar_shards(clips, b, n_shards=4).collect()
    for name in sorted(os.listdir(a)):
        ha = hashlib.sha256(open(os.path.join(a, name), "rb").read()).hexdigest()
        hb = hashlib.sha256(open(os.path.join(b, name), "rb").read()).hexdigest()
        assert ha == hb, name


def test_want_bytes_false_prunes_payload(spark, shard_dir):
    back = read_tar_shards(spark, shard_dir, want_bytes=False)
    assert "bytes" not in back.columns
    assert back.count() == N
    assert back.filter(F.col("transcript").isNull()).count() == 0


def test_missing_sidecar_is_null(spark, tmp_path):
    d = tmp_path / "partial"
    d.mkdir()
    with tarfile.open(d / "shard-00000.tar", "w") as tf:
        for name, payload in [
            ("only-audio.pcm_s16le", b"\x00\x01" * 50),
            ("only-text.txt", "hello world".encode()),
        ]:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    rows = {r["clip_id"]: r for r in read_tar_shards(spark, str(d)).collect()}
    assert rows["only-audio"]["transcript"] is None
    assert bytes(rows["only-audio"]["bytes"]) == b"\x00\x01" * 50
    assert rows["only-text"]["bytes"] is None
    assert rows["only-text"]["transcript"] == "hello world"


def test_corrupt_shard_fail_and_skip(spark, clips, tmp_path):
    d = tmp_path / "corrupt"
    d.mkdir()
    write_tar_shards(clips, str(d), n_shards=2).collect()
    good = read_tar_shards(spark, str(d)).count()
    # truncate one shard mid-archive
    p = d / "shard-00001.tar"
    raw = p.read_bytes()
    p.write_bytes(raw[: len(raw) // 2 - 3])
    with pytest.raises(Exception, match="corrupt tar shard"):
        read_tar_shards(spark, str(d), on_error="fail").count()
    kept = read_tar_shards(spark, str(d), on_error="skip")
    n_kept = kept.count()
    assert 0 < n_kept < good
    assert kept.select("shard").distinct().count() == 1


def test_tar_ingest_equals_direct_table(spark, tmp_path):
    """Shard packaging is pipeline-invisible: QC decisions from a
    tar-ingested table match a directly-appended table exactly."""
    from bdqc_spark.plans.pipeline import run_pipeline
    from bdqc_spark.sources.iceberg import IcebergishTable
    from bdqc_spark.sources.webdataset import tar_to_clips
    from bdqc_spark.synth.clips import generate_clips_df

    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    clips = generate_clips_df(spark, 200, seed=9)
    shards = str(tmp_path / "shards")
    write_tar_shards(clips, shards, n_shards=3).collect()

    t_tar = IcebergishTable(str(tmp_path / "t_tar"), num_buckets=4)
    t_tar.append(tar_to_clips(read_tar_shards(spark, shards)))
    t_dir = IcebergishTable(str(tmp_path / "t_dir"), num_buckets=4)
    t_dir.append(clips.select(*cols))

    def _decisions(tbl, out):
        run_pipeline(spark, tbl.read(spark), out, all_buckets=tbl.bucket_ids())
        return {
            r.clip_id: (r.keep, r.scrubbed_transcript)
            for r in spark.read.parquet(f"{out}/decisions").collect()
        }

    da = _decisions(t_tar, str(tmp_path / "out_tar"))
    db = _decisions(t_dir, str(tmp_path / "out_dir"))
    assert len(da) == 200
    assert da == db


def test_cli_ingest_tar(spark, tmp_path, run_cli):
    """--ingest-tar creates the table from shards, then runs the
    pipeline over it (the shard-corpus onboarding path)."""
    from bdqc_spark.synth.clips import generate_clips_df

    shards = str(tmp_path / "shards")
    write_tar_shards(generate_clips_df(spark, 60, seed=13), shards, n_shards=2).collect()
    rec = run_cli(
        "--table", tmp_path / "tbl",
        "--out", tmp_path / "out",
        "--ingest-tar", shards,
        "--master", "local[4]",
    )
    assert rec["ingested"]["total_rows"] == 60
    assert rec["processed_buckets"]
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/out/decisions/*/*.parquet')"
    ).fetchone()[0]
    assert n == 60


def test_payloads_decode_through_audio_path(spark, shard_dir):
    """The read-back rows feed the existing decode path unchanged."""
    import numpy as np

    from bdqc_spark.functions.audio import CODECS, decode

    row = (
        read_tar_shards(spark, shard_dir)
        .filter(F.col("payload_ext").isin(*CODECS))
        .first()
    )
    meta = json.loads(row["meta"])
    pcm = decode(bytes(row["bytes"]), row["payload_ext"])
    want_n = int(round(meta["sr_hz"] * meta["dur_ms"] / 1000.0))
    assert isinstance(pcm, np.ndarray) and abs(pcm.shape[0] - want_n) <= 1

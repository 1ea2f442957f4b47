"""Seeded benchmark inputs, generated once per (seed, generator revision).

Everything here runs outside the timed region. The program under test
only ever receives the parquet files written here: the clips corpus made
by ``synth.clips.generate_clips_df`` (a base part and an appended part)
and, for the correctness checks, its single-node golden labels from
``synth.oracle.oracle_labels``. Both workloads read the same corpus.

Outputs are cached under ``<work>/cache/<key>`` where the key holds the
seed, the sizes and a hash of the generator sources, so editing a
generator regenerates its inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes from a 4-core probe (perfbench/README.md, "Sizes"): iteration
# wall is nearly flat from 3k to 10k clips (fixed per-job costs), and the
# A/B/B2/C/D shares at 3k stay within 8 points of those at 10k, while
# set-up (generation, table load, cold run) grows with the corpus.
CLIPS_BASE = 2500
CLIPS_APPEND = 500
NUM_BUCKETS = 16
LABEL_COLS = ["lang_true", "anomaly"]
# Cached corpora kept on disk (~0.2 GB each); older ones are deleted.
KEEP_CACHED = 2


def _source_rev(*paths: str) -> str:
    h = hashlib.sha1()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _cached(work: str, kind: str, key: dict, build) -> str:
    """Return the cache dir for ``key``, calling ``build(tmp_dir)`` once
    to fill it; the rename makes a half-built entry invisible."""
    tag = hashlib.sha1(json.dumps(key, sort_keys=True).encode()).hexdigest()[:12]
    root = os.path.join(work, "cache")
    d = os.path.join(root, f"{kind}-s{key['seed']}-{tag}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, d)
    entries = [os.path.join(root, e) for e in os.listdir(root)]
    for stale in (e for e in entries if e.endswith(".tmp")):  # left by a killed run
        shutil.rmtree(stale, ignore_errors=True)
    entries = sorted(
        (e for e in entries if os.path.exists(os.path.join(e, "_DONE"))),
        key=lambda e: os.path.getmtime(os.path.join(e, "_DONE")),
    )
    for old in entries[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def clips_inputs(spark, work: str, seed: int) -> str:
    """``base/`` and ``append/`` parquet (with label columns) plus
    ``golden.parquet``, the oracle's decisions over base + append."""
    import bdqc_spark.synth.clips as clips_mod
    import bdqc_spark.synth.oracle as oracle_mod

    key = {
        "seed": seed,
        "base": CLIPS_BASE,
        "append": CLIPS_APPEND,
        "rev": _source_rev(clips_mod.__file__, oracle_mod.__file__),
    }

    def build(d: str) -> None:
        gen = clips_mod.generate_clips_df
        gen(spark, CLIPS_BASE, seed=seed, include_labels=True).write.parquet(f"{d}/base")
        gen(spark, CLIPS_APPEND, seed=seed, include_labels=True, start=CLIPS_BASE).write.parquet(
            f"{d}/append"
        )
        corpus = pd.concat(
            [pq.read_table(f"{d}/{part}").to_pandas() for part in ("base", "append")],
            ignore_index=True,
        ).sort_values("clip_id", ignore_index=True)
        golden = oracle_mod.oracle_labels(corpus)[["clip_id", "keep", "scrubbed_transcript"]]
        pq.write_table(pa.Table.from_pandas(golden, preserve_index=False), f"{d}/golden.parquet")

    return _cached(work, "clips", key, build)


def prime_page_cache(root: str) -> int:
    """Read every file under ``root`` once; returns bytes read."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            with open(os.path.join(dirpath, fn), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total

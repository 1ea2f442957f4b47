"""Char n-gram perplexity scoring (SURVEY.md §2.B D2).

A single *global* character-trigram language model with add-k
smoothing, trained on the union of all language corpora (same
deterministic synthesis as langid). Perplexity per transcript =
exp(−mean trigram log-prob). Clean in-domain text scores low;
gibberish / corrupted transcripts score high — the quality-filter
signal the north rule asks for. Vectorization identical to langid
(shared hash + reduceat machinery).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

from bdqc_spark.functions.langid import (
    HASH_DIM,
    LANGS,
    _encode_series,
    _segment_sums,
    _trigram_buckets,
    synth_sentence,
)


@lru_cache(maxsize=1)
def train_lm(n_sentences: int = 800, seed: int = 4321, add_k: float = 0.5) -> np.ndarray:
    """(HASH_DIM,) float32 log-prob table over hashed trigrams."""
    counts = np.zeros(HASH_DIM, dtype=np.float64)
    rng = np.random.default_rng(seed)
    for lang in LANGS:
        chunks = [synth_sentence(rng, lang) for _ in range(n_sentences)]
        buf = np.frombuffer(" ".join(chunks).encode("utf-8"), dtype=np.uint8)
        np.add.at(counts, _trigram_buckets(buf), 1.0)
    total = counts.sum()
    return np.log((counts + add_k) / (total + add_k * HASH_DIM)).astype(np.float32)


def perplexity_batch(texts: "pd.Series", table: np.ndarray | None = None) -> np.ndarray:
    """Batch perplexity; strings with <3 bytes get +inf (no evidence)."""
    table = table if table is not None else train_lm()
    buf, offsets = _encode_series(texts)
    n = len(texts)
    if buf.shape[0] >= 3:
        seg_lp = _segment_sums(table[_trigram_buckets(buf)].astype(np.float64), offsets)
        n_tris = np.maximum(np.diff(offsets) - 2, 0).astype(np.float64)
    else:
        seg_lp = np.zeros(n)
        n_tris = np.zeros(n)
    with np.errstate(divide="ignore", invalid="ignore"):
        ppl = np.where(n_tris > 0, np.exp(-seg_lp / np.maximum(n_tris, 1.0)), np.inf)
    return ppl


def compression_ratio_batch(texts: "pd.Series", level: int = 6) -> np.ndarray:
    """DEFLATE compression ratio per text: len(zlib(utf8)) /
    len(utf8) — the cheap Kolmogorov-complexity proxy corpus
    pipelines use next to the n-gram repetition rules (boilerplate,
    templated spam and repeated spans compress far below clean prose;
    random bytes sit near or above 1.0 with the gzip header
    overhead). Deterministic (fixed level, no dictionary); empty or
    null text scores 0.0 — there is nothing to compress."""
    import zlib

    out = np.zeros(len(texts), dtype=np.float32)
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t:
            continue
        raw = t.encode("utf-8")
        out[i] = len(zlib.compress(raw, level)) / len(raw)
    return out

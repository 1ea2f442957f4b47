"""Language identification from scratch (SURVEY.md §2.B D1).

A fastText-style classifier distilled to its public core: hashed
character n-gram features × per-class log-probability table
(multinomial NB over char trigrams — the classic langid.py /
fastText-langid recipe). No external model files exist in this
sandbox, so the model is *trained deterministically at first use* on
corpora synthesized from the same per-language lexicons the clips
generator uses (bdqc_spark/synth). Everything is numpy; scoring is
fully vectorized across an Arrow batch (one concatenated byte
buffer, segment sums via np.add.reduceat — zero per-row Python).

Model size: HASH_DIM × n_langs float32 ≈ 1.3 MB → broadcast-friendly.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

LANGS = ("en", "es", "de", "fr", "zh")
UNKNOWN = "und"
HASH_DIM = 1 << 16

# Out-of-domain floor on ABSOLUTE evidence (mean best log-prob per
# trigram), not softmax margin: unseen trigrams score the smoothing
# floor log(k/(N+k·D)) ≈ -12.5, so genuinely out-of-lexicon text sits
# ≤ -10.9 while in-domain text sits ≥ -6.6 and even 50/50 two-language
# mixes ≥ -8.5 (measured, seed-0 calibration — tests pin all three
# bands). Text below the floor → `und`. A softmax floor would be the
# wrong tool: mixed-language rows have low relative confidence but
# high absolute evidence, and must keep their argmax prediction for
# the lang_conf_low deviation rule to score them.
OOD_MEAN_LP_FLOOR = -10.0

# Per-language word lexicons for deterministic corpus synthesis.
# (Common-word lists are public knowledge; zh is pinyin-romanized.)
LEXICONS: dict[str, tuple[str, ...]] = {
    "en": (
        "the and of to in is you that it he was for on are with as his they at be "
        "this have from or one had by word but not what all were we when your can "
        "said there use each which she how their time will way about many then them "
        "write would like these her long make thing see him two has look more day go"
    ).split(),
    "es": (
        "que de no la el es en un por con los para como las pero del se me una esta "
        "todo esto bien cuando muy sin sobre tambien hasta donde quien porque anos "
        "senor gracias tiempo vida hacer ahora siempre nunca mundo casa dia noche "
        "hombre mujer nino trabajo ciudad pais agua fuego tierra cielo corazon"
    ).split(),
    "de": (
        "der die und sie das ist ich nicht mit dass auf fur ein von den eine als "
        "auch wenn aber nach bei uber schon zuruck wahrend naturlich vielleicht "
        "zwischen moglich immer wieder heute morgen gestern zeit jahr mensch welt "
        "leben arbeit stadt land wasser feuer erde himmel herz haus kind frau mann"
    ).split(),
    "fr": (
        "le la les de et un une etre avoir que pour dans ce il qui ne sur se pas "
        "plus par avec tout faire son mettre autre mais nous comme vous leur bien "
        "ou tres apres savoir falloir voir quelque sans raison monde maintenant "
        "toujours jamais maison jour nuit homme femme enfant travail ville pays eau"
    ).split(),
    "zh": (
        "de shi le wo ni ta men zhe na you zai jiu bu hen hao ma ne ba dou hui shuo "
        "kan lai qu xiang zhong guo ren da xiao shang xia tian nian dui xie mei shen "
        "me dong xi nan bei jing cheng shan shui huo tu feng yu xue yun ming bai hei"
    ).split(),
}


def synth_sentence(rng: np.random.Generator, lang: str, n_words: int | None = None) -> str:
    """One deterministic sentence from a language's lexicon."""
    lex = LEXICONS[lang]
    if n_words is None:
        n_words = int(rng.integers(4, 18))
    words = [lex[int(j)] for j in rng.integers(0, len(lex), size=n_words)]
    return " ".join(words)


def _trigram_buckets(buf: np.ndarray) -> np.ndarray:
    """Hash every length-3 byte window of buf into [0, HASH_DIM)."""
    if buf.shape[0] < 3:
        return np.empty(0, dtype=np.int64)
    c0 = buf[:-2].astype(np.int64)
    c1 = buf[1:-1].astype(np.int64)
    c2 = buf[2:].astype(np.int64)
    return (c0 * 65599 + c1 * 31 + c2) % HASH_DIM


def _encode_series(texts: "pd.Series") -> tuple[np.ndarray, np.ndarray]:
    """Concatenate a batch of strings into one byte buffer + offsets."""
    bs = [(t if isinstance(t, str) else "").lower().encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    return buf, offsets


def _segment_sums(vals: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-string sums of per-trigram values over a batch buffer.

    ``vals`` holds one value (or row) per byte position 0..len-3 of
    the ``_encode_series`` buffer, which must hold a trigram; it is
    modified in place. Positions whose trigram crosses a string
    boundary count 0, and strings without a trigram sum to 0. Every
    string's sum runs over all of its own byte positions, its two
    boundary ones included: two zero rows give the batch's last string
    that same shape, and the sums stop at the last non-empty string
    (a start past the end cannot open a reduceat segment). A string's
    sum is thus the same float, rounding included, wherever it sits in
    whichever batch."""
    pos = np.arange(vals.shape[0])
    seg = np.searchsorted(offsets, pos, side="right") - 1
    vals[pos + 3 > offsets[seg + 1]] = 0.0
    padded = np.concatenate([vals, np.zeros((2, *vals.shape[1:]), vals.dtype)])
    m = int(np.flatnonzero(np.diff(offsets))[-1]) + 1
    out = np.zeros((len(offsets) - 1, *vals.shape[1:]), vals.dtype)
    out[:m] = np.add.reduceat(padded, offsets[:m], axis=0)
    out[np.diff(offsets) < 3] = 0.0
    return out


@lru_cache(maxsize=1)
def train_model(
    n_sentences: int = 800, seed: int = 1234, add_k: float = 0.5
) -> dict[str, np.ndarray]:
    """Deterministic training → {'logprob': (HASH_DIM, n_langs) f32,
    'prior': (n_langs,) f32}. ~100k trigrams/lang; <1s."""
    counts = np.zeros((HASH_DIM, len(LANGS)), dtype=np.float64)
    rng = np.random.default_rng(seed)
    for li, lang in enumerate(LANGS):
        chunks = [synth_sentence(rng, lang) for _ in range(n_sentences)]
        buf = np.frombuffer(" ".join(chunks).encode("utf-8"), dtype=np.uint8)
        b = _trigram_buckets(buf)
        np.add.at(counts[:, li], b, 1.0)
    totals = counts.sum(axis=0, keepdims=True)
    logprob = np.log((counts + add_k) / (totals + add_k * HASH_DIM)).astype(np.float32)
    return {"logprob": logprob, "prior": np.zeros(len(LANGS), dtype=np.float32)}


def predict_batch(
    texts: "pd.Series", model: dict[str, np.ndarray] | None = None
) -> pd.DataFrame:
    """Batch langid → DataFrame(pred:str, conf:double, ppl columns none).

    Fully vectorized: one hash pass over the concatenated buffer, one
    gather from the log-prob table, one reduceat per segment.
    """
    model = model or train_model()
    logprob = model["logprob"]
    buf, offsets = _encode_series(texts)
    n = len(texts)
    n_langs = logprob.shape[1]

    if buf.shape[0] >= 3:
        seg_scores = _segment_sums(logprob[_trigram_buckets(buf)], offsets)  # (n, n_langs)
        n_tris = np.maximum(np.diff(offsets) - 2, 0).astype(np.float64)
    else:
        seg_scores = np.zeros((n, n_langs), dtype=np.float64)
        n_tris = np.zeros(n, dtype=np.float64)

    mean_lp = seg_scores / np.maximum(n_tris, 1.0)[:, None]
    best = np.argmax(mean_lp, axis=1)
    # Softmax over mean log-probs (temperature 1 in trigram units).
    z = mean_lp - mean_lp.max(axis=1, keepdims=True)
    p = np.exp(z)
    conf = p[np.arange(n), best] / p.sum(axis=1)
    preds = np.array(LANGS, dtype=object)[best]
    no_evidence = (n_tris == 0) | (mean_lp[np.arange(n), best] < OOD_MEAN_LP_FLOOR)
    preds[no_evidence] = UNKNOWN
    conf = np.where(no_evidence, 0.0, conf)
    return pd.DataFrame({"pred": preds, "conf": conf})

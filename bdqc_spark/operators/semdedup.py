"""SemDeDup — semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540).

Pipeline shape (the paper's, re-expressed Spark-first):

1. **Cluster**: spherical k-means over L2-normalized embeddings.
   The quantizer is trained driver-side on ONE bounded,
   hash-ordered sample (exactly like the IVF coarse quantizer in
   operators/similarity.py — at 10^12 rows you train offline on a
   sample of this same shape); the centroid matrix is KBs and ships
   in the UDF closure.
2. **Assign**: one vectorized numpy matmul per Arrow batch maps each
   vector to its nearest centroid (cosine) — a pure map pass, no
   shuffle.
3. **Prune within cluster**: `applyInPandas` over
   ``groupBy(cluster)`` — members are ordered by similarity to their
   centroid (desc, id asc tie-break: the paper's "keep the example
   closest to the centroid" convention made fully deterministic) and
   greedily kept iff their max cosine to an already-kept member is
   below ``tau``. One shuffle on cluster id.

Scale notes (100 TB lens): the paper runs k ≈ 10-100k clusters so
E[cluster size] = n/k stays executor-sized — k is the knob that
bounds both the shuffle skew and the O(m²) in-cluster pass. ``cap``
is the explicit skew guard: members of a pathological cluster beyond
the cap are kept fail-open (``max_sim_kept`` null, ``capped`` true)
rather than blowing up one task; production would re-cluster such a
cell with a larger local k.

Centroid sample (an output change since round 5): the quantizer is
trained on the first ``sample_n`` rows by id hash among those whose
hash is 0 mod 64, falling back to the whole corpus when that subset
is smaller than ``sample_n``. On corpora larger than about
64 × ``sample_n`` the prefiltered sample is a different row set than
round 5's corpus-wide first ``sample_n`` by hash, so the same data and
seed give different centroids and therefore different cluster/keep
outputs. Smaller corpora take the fallback and are unchanged. The
sample stays deterministic.

No SQL oracle exists for k-means, so the registry entry is
rows-only; semantics are pytest-gated against a pure-numpy twin
(tests/test_semdedup.py) plus planted-duplicate recall.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _normalize(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def kmeans_spherical(
    sample: np.ndarray, k: int, iters: int = 10, seed: int = 7
) -> np.ndarray:
    """Deterministic spherical k-means (k-means++ init under a seeded
    rng, Lloyd iterations with re-normalized means). ``sample`` must
    already be L2-normalized, shape (n, dim). Returns (k', dim) with
    k' = min(k, n)."""
    n = len(sample)
    if n == 0:
        raise ValueError("kmeans_spherical: empty sample")
    rng = np.random.default_rng(seed)
    cents = [sample[int(rng.integers(n))]]
    d = np.maximum(1.0 - sample @ cents[0], 0.0)
    for _ in range(1, min(k, n)):
        tot = float(d.sum())
        p = d / tot if tot > 0 else np.full(n, 1.0 / n)
        cents.append(sample[int(rng.choice(n, p=p))])
        d = np.minimum(d, np.maximum(1.0 - sample @ cents[-1], 0.0))
    cents = np.asarray(cents, dtype=np.float64)
    for _ in range(iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for j in range(len(cents)):
            m = assign == j
            if m.any():
                c = sample[m].mean(axis=0)
                nn = np.linalg.norm(c)
                if nn > 0:
                    cents[j] = c / nn
    return cents


def greedy_prune(
    ids: np.ndarray, sim_centroid: np.ndarray, vecs: np.ndarray, tau: float
) -> tuple[np.ndarray, np.ndarray]:
    """Per-cluster greedy pass, shared verbatim by the Spark operator
    and the numpy twin in tests. Visit members by (sim_centroid desc,
    id asc); keep a member iff its max cosine to every already-kept
    member is < tau. Returns (keep mask, max_sim_kept) in input
    order; max_sim_kept is -1.0 for the first visited member."""
    order = np.lexsort((ids, -sim_centroid))
    keep = np.zeros(len(ids), dtype=bool)
    max_sim = np.full(len(ids), -1.0)
    kept: list[int] = []
    for i in order:
        if kept:
            max_sim[i] = float(np.max(vecs[kept] @ vecs[i]))
        if max_sim[i] < tau:
            keep[i] = True
            kept.append(i)
    return keep, max_sim


_OUT_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster", IntegerType()),
        StructField("sim_centroid", DoubleType()),
        StructField("max_sim_kept", DoubleType()),
        StructField("keep", BooleanType()),
        StructField("capped", BooleanType()),
    ]
)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    k: int = 8,
    tau: float = 0.95,
    kmeans_iters: int = 10,
    sample_n: int = 4096,
    cap: int = 65536,
    seed: int = 7,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Semantic dedup: returns one row per input vector with its
    cluster id, similarity to the cluster centroid, the max cosine to
    an already-kept cluster member at visit time, and the keep flag.

    ``centroids`` (shape (k, dim), rows L2-normalized) injects an
    offline-trained quantizer and skips the driver-side fit — the
    production path at 10^12 rows, and what the numpy-twin parity
    test uses."""
    if centroids is None:
        # Hash-threshold pre-filter before the deterministic
        # orderBy(hash)/limit (mirrors quality_clf.py, r5 VERDICT ask
        # #5): at corpus scale the TakeOrdered heap only ever sees
        # ~1/sample_mod of the rows instead of every row; when the
        # filtered set is smaller than sample_n (tiny corpus) fall
        # back to the unfiltered scan — still deterministic, and
        # cheap exactly when the corpus is small.
        sample_mod = 64

        def _take(d):
            return [
                np.asarray(r[0], dtype=np.float64)
                for r in d.select(emb_col)
                .orderBy(F.xxhash64(F.col(id_col)))
                .limit(sample_n)
                .collect()
            ]

        rows = _take(df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0))
        if len(rows) < sample_n:
            rows = _take(df)
        sample = np.asarray(rows)
        if sample.ndim != 2 or sample.shape[1] != dim:
            raise ValueError(
                f"semdedup: expected {dim}-dim vectors, got shape {sample.shape}"
            )
        centroids = kmeans_spherical(_normalize(sample), k, kmeans_iters, seed)
    cents = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    cent_t = cents.T.copy()  # (dim, k') — KB-sized closure literal

    assign_t = StructType(
        [StructField("cluster", IntegerType()), StructField("sim_centroid", DoubleType())]
    )

    @F.pandas_udf(assign_t)
    def _assign(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cluster": pd.Series(dtype="int32"),
                                 "sim_centroid": pd.Series(dtype="float64")})
        m = _normalize(np.asarray([np.asarray(v, dtype=np.float64) for v in emb]))
        sims = m @ cent_t
        cl = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype(np.int32), "sim_centroid": sims[np.arange(len(cl)), cl]}
        )

    assigned = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(emb_col).alias("_emb"),
        _assign(F.col(emb_col)).alias("_a"),
    ).select("vec_id", "_emb", F.col("_a.cluster").alias("cluster"),
             F.col("_a.sim_centroid").alias("sim_centroid"))

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        sims = pdf["sim_centroid"].to_numpy()
        vecs = _normalize(np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_emb"]]))
        order = np.lexsort((ids, -sims))
        head, tail = order[:cap], order[cap:]
        keep = np.ones(len(ids), dtype=bool)
        max_sim = np.full(len(ids), np.nan)
        capped = np.zeros(len(ids), dtype=bool)
        k_mask, k_sim = greedy_prune(ids[head], sims[head], vecs[head], tau)
        keep[head] = k_mask
        max_sim[head] = k_sim
        capped[tail] = True  # fail-open beyond the skew cap
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy(),
                "sim_centroid": sims,
                # object column so beyond-cap rows become real SQL
                # nulls (a float NaN would survive Arrow as NaN)
                "max_sim_kept": pd.Series(
                    [None if c else float(s) for s, c in zip(max_sim, capped)],
                    dtype=object,
                ),
                "keep": keep,
                "capped": capped,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(_prune, _OUT_SCHEMA)

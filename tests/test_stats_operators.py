"""Ring-1 Spark tests: robust stats vs exact numpy, salted join
equality, type inference, dedup/similarity operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_robust_z_matches_oracle_formula(spark):
    """operators.stats.robust_z (the one z that decide and explain
    score with) and its scalar twin robust_z_scalar (model drift)
    against the single-node oracle's numpy formula (synth/oracle.py),
    NULL ↔ NaN, on every branch of the definition."""
    from bdqc_spark.operators.stats import robust_z, robust_z_scalar

    rows = [
        (13.0, 10.0, 2.0),  # mad > 0: scaled distance
        (10.0, 10.0, 0.0),  # mad = 0, x == med: 0
        (11.0, 10.0, 0.0),  # mad = 0, x != med: +inf
        (None, 10.0, 2.0),  # null x: no evidence
        (13.0, None, 2.0),  # null med: no evidence
        (None, 10.0, 0.0),  # null x, degenerate spread: +inf, as NaN == med is false
        (10.0, 10.0, None),  # unmodeled spread: the mad = 0 branch
    ]
    df = spark.createDataFrame(rows, "x double, med double, mad double")
    got = (
        df.select(robust_z(F.col("x"), F.col("med"), F.col("mad")).alias("z"))
        .toPandas()["z"]
        .to_numpy()
    )
    pdf = pd.DataFrame(rows, columns=["x", "med", "mad"]).astype(float)
    v, med, mad = pdf["x"].to_numpy(), pdf["med"].to_numpy(), pdf["mad"].to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        want = np.where(
            mad > 0,
            np.abs(v - med) / (1.4826 * mad),
            np.where(v == med, 0.0, np.inf),
        )
    np.testing.assert_array_equal(got, want)
    assert got[0] == 3.0 / (1.4826 * 2.0) and got[1] == 0.0 and np.isinf(got[2])
    assert np.isnan(got[3]) and np.isnan(got[4])
    # the driver-side twin (model drift) on the same rows, None ↔ NaN
    scalar = np.array([robust_z_scalar(*r) for r in rows], dtype=float)
    np.testing.assert_array_equal(scalar, want)


def test_salted_join_equals_plain_join(spark):
    from bdqc_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(i, "k" + str(i % 3), float(i)) for i in range(300)], "id long, k string, v double"
    )
    dim = spark.createDataFrame([("k0", 1), ("k1", 2), ("k2", 3)], "k string, w int")
    a = salted_join(fact, dim, ["k"], num_salts=4).orderBy("id").collect()
    b = fact.join(dim, "k").orderBy("id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salted_join_spreads_hot_key_with_constant_payload(spark):
    """r3 ADVICE/VERDICT #4: a hot key whose non-key columns are all
    CONSTANT must still fan out across >= K/2 salts (the old salt
    hashed only the first payload column, so |distinct payload| = 1
    pinned the whole hot key to one reducer)."""
    from bdqc_spark.operators import joins as J

    K = 16
    fact = (
        spark.range(0, 20000, 1, 16)
        .selectExpr("'hot' AS k", "'same' AS payload", "42 AS v")
    )
    dim = spark.createDataFrame([("hot", 1)], "k string, w int")
    salted = fact.withColumn(
        "_s",
        # reproduce the operator's salt expression via its internals
        J.F.pmod(
            J.F.xxhash64(J.F.spark_partition_id(), "k", "payload", "v"),
            J.F.lit(K),
        ).cast("int"),
    )
    n_salts = salted.select("_s").distinct().count()
    assert n_salts >= K / 2, n_salts
    # and the join is still exactly the plain join
    assert J.salted_join(fact, dim, ["k"], num_salts=K).count() == 20000


def test_infer_column_types(spark):
    from bdqc_spark.operators.stats import infer_column_types

    pdf = pd.DataFrame(
        {
            "i": [str(k) for k in range(100)],
            "f": [f"{k}.5" for k in range(100)],
            "cat": ["x", "y"] * 50,
            "txt": [f"some free text number {k} with words" for k in range(100)],
        }
    )
    prof = infer_column_types(spark.createDataFrame(pdf)).toPandas().set_index("column")
    assert prof.loc["i", "inferred"] == "int"
    assert prof.loc["f", "inferred"] == "real"
    assert prof.loc["cat", "inferred"] == "categorical"
    assert prof.loc["txt", "inferred"] == "text"


def test_minhash_lsh_finds_near_dupes(spark):
    from bdqc_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (1, base),
        (2, base + " again"),  # near-dup of 1
        (3, "completely different content about spark query engines and parquet files"),
        (4, base.replace("quick", "rapid")),  # near-dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=0.4).collect()
    }
    assert (1, 2) in pairs and (1, 4) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_docs_collide(spark):
    from bdqc_spark.operators.dedup import simhash_fingerprints

    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in simhash_fingerprints(df, "doc_id", "text").collect()}
    assert out[1] == out[2] != out[3]


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Multi-table LSH must reach ≥0.9 recall@3 vs brute force on the
    embeddings fixture (r1 single-table recall was the weak baseline)."""
    from bdqc_spark.operators.similarity import ann_lsh_topk, brute_force_topk

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = brute_force_topk(df, "vec_id", "embedding", k=3, query_filter="vec_id < 20").toPandas()
    approx = ann_lsh_topk(
        df, "vec_id", "embedding", k=3, dim=64, query_filter="vec_id < 20"
    ).toPandas()
    e = {(r.q_id, r.c_id) for r in exact.itertuples()}
    a = {(r.q_id, r.c_id) for r in approx.itertuples()}
    assert len(a & e) / len(e) >= 0.9, f"recall {len(a & e) / len(e):.3f}"
    assert all(q != c for q, c in a)


def test_ann_more_tables_not_worse(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    from bdqc_spark.operators.similarity import ann_lsh_topk, brute_force_topk

    e = {
        (r.q_id, r.c_id)
        for r in brute_force_topk(df, "vec_id", "embedding", k=5, query_filter="vec_id < 5")
        .toPandas()
        .itertuples()
    }

    def recall(n_tables):
        a = {
            (r.q_id, r.c_id)
            for r in ann_lsh_topk(
                df, "vec_id", "embedding", k=5, dim=16, n_planes=4, n_tables=n_tables,
                query_filter="vec_id < 5",
            )
            .toPandas()
            .itertuples()
        }
        return len(a & e) / len(e)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.5


def test_connected_components_min_label(spark):
    from bdqc_spark.operators.dedup import connected_components

    # two clusters {1,2,3,9} (chain) and {5,7}, plus pair (10,11)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.canonical_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5, 10: 10, 11: 10}


def test_minhash_lsh_degenerate_corpus_bounded(spark):
    """VERDICT r1: a pathological corpus (thousands of identical docs)
    must not make any LSH bucket quadratic. With the bucket cap the
    job finishes quickly and every doc still lands in SOME pair, so
    connected components can stitch the full duplicate cluster."""
    import time

    from bdqc_spark.operators.dedup import connected_components, minhash_lsh_pairs

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated verbatim many times over").alias("text"),
    )
    t0 = time.time()
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, max_bucket_size=200
    ).cache()
    n_pairs = pairs.count()
    wall = time.time() - t0
    # uncapped this would be C(10000,2) ≈ 5e7 candidate pairs per band;
    # capped it is ≤ bands · (n/max) · C(max,2) = 4·50·19900 ≈ 4.0e6
    assert 0 < n_pairs <= 4_000_000, n_pairs
    assert wall < 120, f"degenerate corpus took {wall:.0f}s"
    # every doc appears in the pair graph, and the cluster resolves to
    # one canonical id (sub-bucket splits don't fragment the cluster)
    comp = connected_components(pairs, "id_a", "id_b")
    assert comp.count() == n
    assert comp.select("canonical_id").distinct().count() == 1


def test_ivf_topk_recall_and_exact_degradation(spark):
    from bdqc_spark.operators.similarity import brute_force_topk, ivf_topk

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    e = {
        (r.q_id, r.c_id)
        for r in brute_force_topk(df, "vec_id", "embedding", k=3, query_filter="vec_id < 20")
        .toPandas()
        .itertuples()
    }
    # probed search: bounded candidates, useful recall even on this
    # structureless fixture (random unit vectors)
    a = {
        (r.q_id, r.c_id)
        for r in ivf_topk(
            df, "vec_id", "embedding", k=3, dim=64, n_centroids=16, n_probe=6,
            query_filter="vec_id < 20",
        )
        .toPandas()
        .itertuples()
    }
    assert len(a & e) / len(e) >= 0.55, f"recall {len(a & e) / len(e):.3f}"
    # n_probe == n_centroids degrades to exact brute force
    full = {
        (r.q_id, r.c_id)
        for r in ivf_topk(
            df, "vec_id", "embedding", k=3, dim=64, n_centroids=16, n_probe=16,
            query_filter="vec_id < 20",
        )
        .toPandas()
        .itertuples()
    }
    assert full == e


def test_connected_components_long_chain(spark):
    """A 200-node path graph needs pointer doubling: one-hop min
    propagation would take 200 rounds, doubling takes ~8."""
    from bdqc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)], "id_a long, id_b long")
    got = connected_components(pairs, max_iter=15).toPandas()
    assert len(got) == 201
    assert set(got.canonical_id) == {0}


def test_simhash_neighbors_exact_vs_bruteforce(spark):
    """The 4×16-bit block join is EXACT for Hamming distance ≤ 3
    (pigeonhole: ≤3 differing bits leave ≥1 of 4 blocks identical):
    the blocked pairs must equal the brute-force Hamming pairs over
    the real documents fixture — no misses, no false positives."""
    import numpy as np

    from bdqc_spark.operators.dedup import simhash_fingerprints, simhash_neighbors

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = simhash_fingerprints(df, "doc_id", "text").collect()
    ids = np.array([r.doc_id for r in fps])
    # simhash comes back as a (possibly negative) Spark long; build
    # int64 first and reinterpret the bits — constructing uint64
    # straight from negative Python ints is a numpy DeprecationWarning
    # headed for a hard error
    hs = np.array([r.simhash for r in fps], dtype=np.int64).view(np.uint64)
    x = hs[:, None] ^ hs[None, :]
    dist = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        dist += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    iu = np.triu_indices(len(ids), k=1)
    close = dist[iu] <= 3
    expected = {
        (min(a, b), max(a, b), int(d))
        for a, b, d in zip(ids[iu[0]][close], ids[iu[1]][close], dist[iu][close])
    }
    assert expected, "fixture has no near-dup simhash pairs — test would be vacuous"
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neighbors(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert got == expected


def test_simhash_neighbors_feed_connected_components(spark):
    """The pairs schema plugs straight into cluster resolution."""
    from bdqc_spark.operators.dedup import connected_components, simhash_neighbors

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # identical → dist 0
        (3, "alpha beta gamma delta epsilon zetaa"),  # near twin
        (4, "totally different content on another topic entirely now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_neighbors(df, "doc_id", "text", max_hamming=3)
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs.collect()}
    comp = {r.id: r.canonical_id for r in connected_components(pairs).collect()}
    assert comp.get(1) == comp.get(2) == 1
    assert 4 not in comp


def test_pq_codebooks_reduce_quantization_error():
    import numpy as np

    from bdqc_spark.operators.similarity import train_pq_codebooks

    rng = np.random.default_rng(4)
    x = rng.normal(size=(600, 16))
    books = train_pq_codebooks(x, m_subspaces=4, n_codes=16, seed=1)
    assert books.shape == (4, 16, 4)

    def recon_err(b):
        err = 0.0
        for m in range(4):
            sub = x[:, m * 4 : (m + 1) * 4]
            d2 = ((sub[:, None, :] - b[m][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).sum()
        return err

    trained = recon_err(books)
    raw = train_pq_codebooks(x, m_subspaces=4, n_codes=16, kmeans_iters=0, seed=1)
    assert trained < 0.8 * recon_err(raw)  # k-means actually helps
    import pytest as _p

    with _p.raises(ValueError, match="divisible"):
        train_pq_codebooks(x, m_subspaces=5)


def test_pq_topk_recall_vs_bruteforce_l2(spark):
    """PQ/ADC top-10 by L2 must overlap the exact L2 top-10 heavily on
    clustered data (the regime PQ is built for); ADC distances must
    rank the true nearest cluster first."""
    import numpy as np
    import pandas as pd

    from bdqc_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(9)
    centers = rng.normal(scale=5.0, size=(8, 32))
    vecs = np.concatenate(
        [c + rng.normal(scale=0.3, size=(25, 32)) for c in centers]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    out = pq_topk(
        df, "vec_id", "embedding", k=10, dim=32, m_subspaces=8, n_codes=64,
        sample_size=200, n_queries=12,
    ).toPandas()
    assert set(out.groupby("q_id").size()) == {10}
    overlaps, r_at_10 = [], []
    for q_id, grp in out.groupby("q_id"):
        d2 = ((vecs - vecs[q_id][None, :]) ** 2).sum(axis=1)
        d2[q_id] = np.inf
        exact10 = set(np.argsort(d2)[:10])
        overlaps.append(len(set(grp.c_id) & exact10) / 10)
        # the standard PQ metric (Jégou et al. §5): recall@R = is the
        # TRUE nearest neighbor inside the approx top-10? (within-
        # cluster fine ranking is what quantization legitimately
        # blurs; finding the neighbor's neighborhood is the job)
        r_at_10.append(int(np.argmin(d2)) in set(grp.c_id))
    assert np.mean(r_at_10) >= 0.9, r_at_10
    assert np.mean(overlaps) >= 0.6, overlaps


def test_ivf_pq_recall_on_clustered_data(spark):
    """IVF-PQ composition: cell pruning + ADC scoring must still find
    the true nearest neighbor's neighborhood (recall@10 for the true
    NN ≥ 0.8 on clustered data with n_probe=4/16), and each query's
    candidate set must exclude unprobed cells (strictly fewer
    candidates than the corpus — the pruning actually prunes)."""
    import numpy as np
    import pandas as pd

    from bdqc_spark.operators.similarity import ivf_pq_topk

    rng = np.random.default_rng(17)
    centers = rng.normal(scale=5.0, size=(8, 32))
    vecs = np.concatenate([c + rng.normal(scale=0.3, size=(30, 32)) for c in centers])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    out = ivf_pq_topk(
        df, "vec_id", "embedding", k=10, dim=32,
        n_centroids=16, n_probe=4, m_subspaces=8, n_codes=32,
        sample_size=240, n_queries=10,
    ).toPandas()
    assert (out.groupby("q_id").size() <= 10).all()
    nvec = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    hits = []
    for q_id, grp in out.groupby("q_id"):
        d2 = ((nvec - nvec[q_id][None, :]) ** 2).sum(axis=1)
        d2[q_id] = np.inf
        hits.append(int(np.argmin(d2)) in set(grp.c_id))
    assert np.mean(hits) >= 0.8, hits

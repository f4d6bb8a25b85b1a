"""PQ ANN and distributed k-means gates: recall of the pruned PQ
config vs brute force, exact-mode equivalence, code-shape invariants,
both-assignment-paths agreement, Lloyd's convergence/determinism, and
numpy-reference parity for kmeans_fit."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tcdb_spark.operators.clustering import _assign_l2, kmeans_assign, kmeans_fit
from tcdb_spark.operators.similarity import pq_build, pq_encode, pq_search

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _recall_at_5(spark, sf, ann_fn):
    from tcdb_spark.plans import QUERIES

    exact, approx = {}, {}
    for r in QUERIES["sim_topk_cosine"](spark, sf).collect():
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in ann_fn(spark, sf).collect():
        approx.setdefault(r["q_id"], set()).add(r["vec_id"])
    return sum(len(exact[q] & approx.get(q, set())) for q in exact) / (5 * len(exact))


def test_pq_exact_mode_equals_brute_force(spark):
    """shortlist >= corpus must reproduce brute-force top-k exactly —
    the degeneracy the driver oracle hashes, pinned Spark-vs-Spark here
    so a regression is attributable without DuckDB in the loop."""
    from tcdb_spark.plans import QUERIES

    brute = {
        (r["q_id"], r["vec_id"], r["cosine"], r["rank_in_group"])
        for r in QUERIES["sim_topk_cosine"](spark, SF).collect()
    }
    pq = {
        (r["q_id"], r["vec_id"], r["cosine"], r["rank_in_group"])
        for r in QUERIES["sim_ann_pq"](spark, SF).collect()
    }
    assert pq == brute


def test_pq_pruned_recall(spark):
    """8x16 codebooks + shortlist 48 of 500: ADC ranking must put most
    of the true top-5 in the shortlist. The dial is the shortlist size;
    this gate is what moving it trades against."""
    from tcdb_spark.plans.queries_sim import sim_ann_pq_pruned

    recall = _recall_at_5(spark, SF, sim_ann_pq_pruned)
    assert recall >= 0.7, f"PQ recall@5 regressed: {recall}"


def test_pq_pruned_recall_sf01(spark):
    from tcdb_spark.plans.queries_sim import sim_ann_pq_pruned

    recall = _recall_at_5(spark, SF01, sim_ann_pq_pruned)
    assert recall >= 0.8, f"PQ recall@5 regressed: {recall}"


def test_pq_codes_shape_and_determinism(spark):
    """Every vector gets m codes in [0, ksub); re-encoding against the
    frozen codebooks reproduces them (incremental-maintenance twin)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    encoded, codebooks = pq_build(e, m=8, ksub=16, seed=42)
    assert len(codebooks) == 8 and all(len(cb) <= 16 for cb in codebooks)
    rows = encoded.select("vec_id", "codes").collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    again = {r["vec_id"]: r["codes"] for r in pq_encode(base, codebooks).collect()}
    assert {r["vec_id"]: r["codes"] for r in rows} == again


def test_pq_search_refuses_unbounded_query_side(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    encoded, codebooks = pq_build(e, m=8, ksub=16, seed=42)
    q = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    try:
        pq_search(encoded, codebooks, q, query_cap=10)
        raise AssertionError("expected ValueError for over-cap query side")
    except ValueError as exc:
        assert "query_cap" in str(exc)


def test_kmeans_assign_paths_agree(spark):
    """The fold-order attestation path and the Arrow matmul production
    path must assign every vector to the same cluster (tie rule: both
    take the first minimum)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [
        r["emb"]
        for r in e.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        .where(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .collect()
    ]
    hof = {r["vec_id"]: r["cluster"] for r in kmeans_assign(e, cents).collect()}
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    mat = {
        r["vec_id"]: r["cluster"]
        for r in _assign_l2(base, np.asarray(cents)).collect()
    }
    assert hof == mat
    # dist2 agrees numerically too (different accumulation: fold vs BLAS)
    hd = {r["vec_id"]: r["dist2"] for r in kmeans_assign(e, cents).collect()}
    md = {r["vec_id"]: r["dist2"] for r in _assign_l2(base, np.asarray(cents)).collect()}
    assert all(abs(hd[k] - md[k]) < 1e-6 * max(1.0, abs(hd[k])) for k in hd)


def test_kmeans_fit_converges_and_is_deterministic(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    c1, assigned, hist1 = kmeans_fit(e, k=4, iters=12)
    c2, _, hist2 = kmeans_fit(e, k=4, iters=12)
    # Lloyd's inertia is monotone non-increasing
    assert all(b <= a + 1e-6 for a, b in zip(hist1, hist1[1:])), hist1
    # deterministic init + deterministic assignment => identical history
    assert hist1 == hist2
    assert np.allclose(np.asarray(c1), np.asarray(c2))
    # every vector assigned, k clusters non-empty on this corpus
    by_cluster = assigned.groupBy("cluster").count().collect()
    assert sum(r["count"] for r in by_cluster) == e.count()
    assert len(by_cluster) == 4


def test_kmeans_fit_matches_numpy_lloyd(spark):
    """Same init (first-k by id), same update rule, same tie rule —
    the distributed fit must track a numpy reference on the collected
    corpus to float tolerance, iteration for iteration."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = sorted(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    X = np.asarray([r["emb"] for r in rows], dtype="float64")
    k, iters = 4, 6
    centers = X[:k].copy()
    hist_ref = []
    for _ in range(iters):
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(2)
        lab = d2.argmin(1)
        hist_ref.append(float(d2[np.arange(len(X)), lab].sum()))
        for j in range(k):
            if (lab == j).any():
                centers[j] = X[lab == j].mean(0)
    c_fit, _, hist = kmeans_fit(e, k=k, iters=iters, tol=0.0)
    assert np.allclose(np.asarray(c_fit), centers, atol=1e-8)
    assert np.allclose(np.asarray(hist[: len(hist_ref)]), hist_ref, rtol=1e-9)


def test_kmeans_fit_refuses_k_over_corpus(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id bigint, embedding array<double>"
    )
    try:
        kmeans_fit(df, k=5)
        raise AssertionError("expected ValueError for k > corpus")
    except ValueError as exc:
        assert "exceeds corpus size" in str(exc)


def test_gopher_rules_edge_cases(spark):
    """Empty/whitespace docs are filtered before the ratios (no div by
    zero); a symbol-heavy doc fails rule_symbol_ratio; a short doc fails
    rule_word_count; flags stay independently attributable."""
    import tempfile

    from tcdb_spark.plans import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "   ", "en", "s", 3),
            (2, "the quick brown fox " * 10 + "jumps over a lazy dog", "en", "s", 0),
            (3, "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!", "en", "s", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        out = {r["doc_id"]: r.asDict() for r in QUERIES["quality_gopher_rules"](spark, td).collect()}
    assert 1 not in out  # whitespace-only filtered, no NaN ratios
    assert out[2]["rule_word_count"] and out[2]["rule_stopwords"]
    assert not out[2]["rule_repetition"]  # 10x repeated 4-gram
    assert not out[3]["rule_alpha_words"] and not out[3]["rule_symbol_ratio"]
    assert not out[3]["passes"]


def test_char_entropy_known_values(spark):
    """Hand-computable fixtures: single repeated char -> entropy 0,
    top_char_frac 1; 'ab ab' -> 4 chars, 2 distinct, entropy 1.0."""
    import tempfile

    from tcdb_spark.plans import QUERIES

    docs = spark.createDataFrame(
        [(1, "aaaa", "en", "s", 4), (2, "ab ab", "en", "s", 5)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        out = {r["doc_id"]: r.asDict() for r in QUERIES["text_char_entropy"](spark, td).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["top_char_frac"] == 1.0
    assert out[1]["n_distinct_chars"] == 1
    assert out[2]["n_chars_nospace"] == 4 and out[2]["entropy"] == 1.0
    assert out[2]["top_char_frac"] == 0.5


def test_pq_search_matches_bruteforce_ranks(spark):
    """At shortlist >= corpus pq_search returns the brute-force top-k
    exactly; at the pruned shortlist every survivor is exactly
    re-ranked — its cosine is the pair's true cosine and ranks run
    1..k in descending-cosine order."""
    from tcdb_spark.plans import QUERIES

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    encoded, codebooks = pq_build(e, m=8, ksub=16, seed=42)
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    brute = {
        (r["q_id"], r["vec_id"]): (r["rank_in_group"], r["cosine"])
        for r in QUERIES["sim_topk_cosine"](spark, SF).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["e"])
        for r in e.select("vec_id", F.col("embedding").cast("array<double>").alias("e")).collect()
    }
    for sl in (48, 1 << 30):
        got = {
            (r["q_id"], r["vec_id"]): (r["rank_in_group"], r["cosine"])
            for r in pq_search(encoded, codebooks, q, k=5, shortlist=sl).collect()
        }
        if sl == 1 << 30:
            assert got == brute
        for qid in range(5):
            ranked = sorted((rk, c, v) for (qq, v), (rk, c) in got.items() if qq == qid)
            assert [rk for rk, _, _ in ranked] == [1, 2, 3, 4, 5]
            assert all(a[1] >= b[1] for a, b in zip(ranked, ranked[1:]))
            for _, c, v in ranked:
                qv, cv = vecs[qid], vecs[v]
                true = qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))
                assert abs(c - true) <= 2e-6


def test_ivfpq_exact_mode_equals_brute_force(spark):
    from tcdb_spark.plans import QUERIES

    brute = {
        tuple(r) for r in QUERIES["sim_topk_cosine"](spark, SF).collect()
    }
    got = {tuple(r) for r in QUERIES["sim_ann_ivfpq"](spark, SF).collect()}
    assert got == brute


def test_ivfpq_full_dials_match_bruteforce_ranks(spark):
    """At nprobe = k_centroids and a full shortlist the IVF-PQ search
    returns brute force's rank sets at the second test SF too."""
    from tcdb_spark.plans import QUERIES
    from tcdb_spark.plans.queries_sim import _ivfpq_lane

    brute = {
        (r["q_id"], r["vec_id"]): r["rank_in_group"]
        for r in QUERIES["sim_topk_cosine"](spark, SF01).collect()
    }
    got = {
        (r["q_id"], r["vec_id"]): r["rank_in_group"]
        for r in _ivfpq_lane(spark, SF01, 16, 1 << 30).collect()
    }
    assert got == brute


def test_ivfpq_pruned_recall(spark):
    from tcdb_spark.plans.queries_sim import sim_ann_ivfpq_pruned

    recall = _recall_at_5(spark, SF, sim_ann_ivfpq_pruned)
    assert recall >= 0.7, f"IVF-PQ recall@5 regressed: {recall}"


def test_ivfpq_pruned_recall_sf01(spark):
    from tcdb_spark.plans.queries_sim import sim_ann_ivfpq_pruned

    recall = _recall_at_5(spark, SF01, sim_ann_ivfpq_pruned)
    assert recall >= 0.8, f"IVF-PQ recall@5 regressed: {recall}"


def test_ivfpq_persisted_index_prunes_partitions_and_matches(spark, tmp_path):
    """Warehouse-persisted IVF-PQ (partitioned by bucket, flattened
    codebook side tables): search equals the in-memory search,
    and the index scan carries a bucket partition filter — unprobed
    cells prune at the directory level before any row is read."""
    from tcdb_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_persist,
        ivfpq_search,
        ivfpq_search_persisted,
    )
    from tcdb_spark.sources.warehouse import Warehouse

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    wh = Warehouse(spark, str(tmp_path / "whpq"))
    ivfpq_persist(wh, "emb_ivfpq", e, k_centroids=8, m=8, ksub=16, seed=42)

    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    got = ivfpq_search_persisted(wh, "emb_ivfpq", q, k=5, nprobe=3, shortlist=48)
    rows = {(r.q_id, r.vec_id, r.rank_in_group) for r in got.collect()}

    encoded, cents, cbs = ivfpq_build(e, k_centroids=8, m=8, ksub=16, seed=42)
    ref = ivfpq_search(encoded, cents, cbs, q, k=5, nprobe=3, shortlist=48)
    assert rows == {(r.q_id, r.vec_id, r.rank_in_group) for r in ref.collect()}

    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters" in plan
        and "bucket" in plan.split("PartitionFilters")[1][:200]
    ), plan[:1500]

"""Unit tests for duplicated-span detection (operators/spans.py) and
Misra-Gries heavy hitters (operators/sketch.py): planted spans with
known boundaries, interval-merge semantics, and the sketch superset
guarantee under adversarial partitioning."""

from pyspark.sql import functions as F

from tcdb_spark.operators.sketch import heavy_hitters_exact, misra_gries_partials
from tcdb_spark.operators.spans import duplicated_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tokens")
    )


def _toks(words):
    return " ".join(words)


def test_planted_span_found_with_exact_boundaries(spark):
    shared = [f"s{i}" for i in range(12)]  # 12-token shared passage
    d = _docs(
        spark,
        [
            (1, _toks(["a", "b"] + shared + ["c", "d"])),
            (2, _toks(["x"] * 5 + shared + ["y"] * 5)),
            (3, _toks(["u"] * 30)),
        ],
    )
    spans = duplicated_spans(d, w=10).collect()
    # doc 1 owns the passage (min doc_id); only doc 2 gets a span
    assert [(r.doc_id, r.span_start, r.span_end, r.span_len) for r in spans] == [
        (2, 6, 17, 12)
    ]


def test_overlapping_and_adjacent_intervals_merge(spark):
    # doc 2 repeats the owner's 10-token run twice back-to-back:
    # windows cover [1,10] and [11,20]; adjacency must merge to one span
    run = [f"r{i}" for i in range(10)]
    d = _docs(
        spark,
        [
            (1, _toks(run)),
            (2, _toks(run + run)),
        ],
    )
    spans = duplicated_spans(d, w=10).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == [(2, 1, 20)]


def test_no_cross_doc_duplicates_no_spans(spark):
    d = _docs(
        spark,
        [(1, _toks([f"a{i}" for i in range(20)])), (2, _toks([f"b{i}" for i in range(20)]))],
    )
    assert duplicated_spans(d, w=10).count() == 0


def test_short_docs_skipped(spark):
    d = _docs(spark, [(1, "a b c"), (2, "a b c")])
    assert duplicated_spans(d, w=10).count() == 0


def test_mg_partials_bounded_and_superset(spark):
    # 1 heavy token (30%) in a sea of unique tokens, forced through many
    # tiny partitions: every partition summary stays <= capacity and the
    # union still contains the heavy token (mergeable-summary guarantee)
    rows = [("hot",)] * 3000 + [(f"u{i}",) for i in range(7000)]
    df = spark.createDataFrame(rows, "token string").repartition(16)
    partials = misra_gries_partials(df, "token", capacity=10)
    per_part = partials.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert all(r["count"] <= 10 for r in per_part)
    assert partials.where(F.col("token") == "hot").count() >= 1


def test_heavy_hitters_exact_counts(spark):
    rows = [("hot",)] * 500 + [("warm",)] * 100 + [(f"u{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "token string").repartition(8)
    # k=5 -> threshold N/5 = 200: only "hot" qualifies, with its exact count
    out = {r.token: r.cnt for r in heavy_hitters_exact(df, "token", k=5).collect()}
    assert out == {"hot": 500}
    # k=11 -> threshold ~90.9: "warm" (100) now qualifies too
    out = {r.token: r.cnt for r in heavy_hitters_exact(df, "token", k=11).collect()}
    assert out == {"hot": 500, "warm": 100}


def test_incremental_spans_equal_one_shot(spark):
    """Batch-by-batch incremental span dedup == one-shot over the whole
    corpus (monotone doc_ids), and the index grows append-only."""
    from tcdb_spark.operators.spans import (
        incremental_duplicated_spans,
        span_index,
    )

    shared = [f"s{i}" for i in range(15)]
    other = [f"o{i}" for i in range(12)]
    batch1 = _docs(
        spark,
        [
            (1, _toks(["a"] * 3 + shared + ["b"] * 3)),
            (2, _toks([f"x{i}" for i in range(25)])),  # unique content
            (3, _toks(["c"] * 2 + shared + ["d"] * 4)),  # dup of 1 in-batch
        ],
    )
    batch2 = _docs(
        spark,
        [
            (10, _toks(["e"] * 5 + shared + ["f"] * 2)),  # dup vs corpus
            (11, _toks(other + ["g"] * 8)),
            (12, _toks(["h"] * 4 + other + ["i"] * 2)),  # dup of 11 in-batch
        ],
    )
    spans1 = duplicated_spans(batch1, w=10)
    idx = span_index(batch1, w=10)
    spans2, idx2, fresh = incremental_duplicated_spans(idx, batch2, w=10)

    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans1.unionByName(spans2).collect()
    }
    oneshot = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(batch1.unionByName(batch2), w=10).collect()
    }
    assert got == oneshot and len(got) == 3

    # index is append-only: every batch-1 hash keeps its original owner
    base = {r.h: r.owner_doc for r in idx.collect()}
    after = {r.h: r.owner_doc for r in idx2.collect()}
    assert set(base) <= set(after)
    assert all(after[h] == o for h, o in base.items())
    # the delta is exactly the newly-seen hashes
    assert {r.h for r in fresh.collect()} == set(after) - set(base)


def test_gram_matrix_matches_numpy(spark):
    import numpy as np

    from tcdb_spark.operators.similarity import gram_matrix

    rng = np.random.RandomState(7)
    X = rng.randn(300, 8)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)], "vec_id long, emb array<double>"
    ).repartition(5)
    S, n, mean = gram_matrix(df, "emb")
    assert n == 300
    assert np.allclose(S, X.T @ X)
    assert np.allclose(mean, X.mean(axis=0))


def test_pca_project_matches_numpy_reference(spark):
    """Distributed PCA == driver-side numpy PCA on the same data: the
    projection (up to the deterministic sign fix) and explained-variance
    ratios agree, and components capture descending variance."""
    import numpy as np

    from tcdb_spark.operators.similarity import pca_project

    rng = np.random.RandomState(11)
    # anisotropic cloud: three dominant directions
    X = rng.randn(400, 6) * np.array([10.0, 5.0, 2.0, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)], "vec_id long, emb array<double>"
    ).repartition(4)
    out, evr = pca_project(df, k=3, col="emb")
    P = np.array(
        [r["pca"] for r in out.orderBy("vec_id").select("pca").collect()]
    )

    C = X - X.mean(axis=0)
    cov = C.T @ C / len(X)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    comps = vecs[:, order].T
    for i in range(3):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ref = C @ comps.T
    assert np.allclose(P, ref, atol=1e-8)
    assert evr[0] > evr[1] > evr[2] > 0
    # the dominant axes carry ~all the variance of this construction
    assert sum(evr) > 0.97
    # per-component projected variance is the eigenvalue (descending)
    assert np.allclose(P.var(axis=0), vals[order], rtol=1e-6)


def test_ivf_persisted_index_prunes_partitions_and_matches(spark, tmp_path):
    """Warehouse-persisted IVF (partitioned by bucket): search results
    equal the in-memory index search, and the index scan carries a
    bucket-partition filter so unprobed cells are pruned at the
    directory level."""
    import numpy as np

    from tcdb_spark.operators.similarity import (
        ivf_build,
        ivf_persist,
        ivf_search,
        ivf_search_persisted,
    )
    from tcdb_spark.sources.warehouse import Warehouse

    rng = np.random.RandomState(3)
    X = rng.randn(400, 16)
    emb = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    wh = Warehouse(spark, str(tmp_path / "whi"))
    ivf_persist(wh, "emb_ivf", emb, k_centroids=8, seed=42)

    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    got = ivf_search_persisted(wh, "emb_ivf", q, k=5, nprobe=3)
    rows = {(r.q_id, r.vec_id, r.rank_in_group) for r in got.collect()}

    indexed, cents = ivf_build(emb, k_centroids=8, seed=42)
    ref = ivf_search(indexed, cents, q, k=5, nprobe=3)
    assert rows == {(r.q_id, r.vec_id, r.rank_in_group) for r in ref.collect()}

    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:200], plan[:1500]


def test_hist_quantile_error_bound_and_merge(spark):
    """Histogram quantile must sit within one bin width of the exact
    percentile, and partials must merge by SUM (shard-invariance)."""
    from pyspark.sql import functions as F

    from tcdb_spark.operators.sketch import hist_partials, hist_quantile
    from tcdb_spark.plans.catalog import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", "documents")["documents"]
    lo, hi, bins = 0.0, 640.0, 64
    width = (hi - lo) / bins

    parts = hist_partials(d, "n_chars", ["source"], lo, hi, bins)
    est = {
        (r["source"], r["q"]): r["est"]
        for r in hist_quantile(parts, ["source"], [0.5, 0.9], lo, hi, bins).collect()
    }
    # the sketch targets the DISCRETE rank ceil(q*n) (interpolated
    # percentile() can sit a whole order-statistic gap away in a sparse
    # tail); the ceil(q*n)-th value lies in the hit bin, so the bound
    # vs that order stat is one bin width
    import math

    by_src: dict[str, list[int]] = {}
    for r in d.select("source", "n_chars").collect():
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    for src, vals in by_src.items():
        vals.sort()
        for q in (0.5, 0.9):
            v = vals[math.ceil(q * len(vals)) - 1]
            assert abs(est[(src, q)] - v) <= width

    # shard-merge: partials from two halves, summed, give identical estimates
    h1 = hist_partials(d.where(F.col("doc_id") % 2 == 0), "n_chars", ["source"], lo, hi, bins)
    h2 = hist_partials(d.where(F.col("doc_id") % 2 == 1), "n_chars", ["source"], lo, hi, bins)
    merged = (
        h1.unionByName(h2)
        .groupBy("source", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    est2 = {
        (r["source"], r["q"]): r["est"]
        for r in hist_quantile(merged, ["source"], [0.5, 0.9], lo, hi, bins).collect()
    }
    assert est == est2


def test_semantic_dedup_matches_all_pairs_reference(spark):
    """SemDeDup must find the identical pair set as the brute-force
    all-pairs join at both test SFs — recall 1.0 on this corpus — with
    every cosine equal to the Spark ``aggregate(zip_with)`` fold over
    the stored norms, bit for bit, and every planted clone pair found."""
    from tcdb_spark.operators.similarity import _dot, ivf_build, semantic_dedup_pairs
    from tcdb_spark.plans.catalog import load_tables
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load_tables(spark, sf, "embeddings")["embeddings"]
        base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        # plant exact near-dups: scaled clones (cosine 1.0 with their source)
        clones = base.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("emb", lambda x: x * 2.0).alias("emb"),
        )
        universe = base.unionByName(clones)
        got = {
            (r["vec_a"], r["vec_b"]): r["cos"]
            for r in semantic_dedup_pairs(
                universe, tau=0.99, k_centroids=8, seed=42, probe=2
            ).collect()
        }
        normed, _ = ivf_build(
            universe.select("vec_id", F.col("emb").alias("embedding")), k_centroids=1
        )
        a, b = normed.alias("a"), normed.alias("b")
        ref = {
            (r["vec_a"], r["vec_b"]): r["cos"]
            for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                (_dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
            )
            .where(F.col("cos") >= 0.99)
            .collect()
        }
        assert set(got) == set(ref), sf
        assert len(got) >= 10  # every planted clone pair found
        assert {(i, i + 1_000_000) for i in range(10)} <= set(got)
        for k in got:
            assert got[k] == ref[k], (sf, k)

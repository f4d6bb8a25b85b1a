"""Similarity-search extension operators over ``embeddings``
(SURVEY.md §2.12; generalizes the nearest-storm argmin join,
tcdb/etl/process_storms.py:43-56).

Brute-force exact top-k is the correctness baseline (oracle-checked).

Attestation layout: each approximate operator has ONE search function
(operators/similarity.py) run under two sets of dials.  The registered
lane is its exact-mode degeneracy (all buckets probed, or a shortlist
>= corpus), checked against a DuckDB hash-match oracle: the result
equals brute force while exercising the identical bucket -> candidate
block -> re-rank machinery.  The `*_pruned` module function is the
production configuration of the same code — only its dials differ — and
its recall@5 is gated in pytest (tests/test_scale_ops.py,
tests/test_training_ops.py, tests/test_clustering.py) and its cost is
tracked in bench.py.  The pruning heuristic is the ONLY thing the exact
mode does not cover — exactly what the recall gates measure.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.operators.similarity import _dot, _norm
from tcdb_spark.plans.catalog import load_tables, register

K = 5
N_QUERIES = 5
DIM = 64  # testdata embeddings are 64-dim float vectors (TESTDATA.md)


# Shared brute-force oracle: exact top-K cosine for the first N_QUERIES
# vectors. sim_topk_cosine computes it directly; the exact-mode ANN
# degeneracies (sim_ann_lsh all-buckets, sim_ann_ivf nprobe=k_centroids)
# must hash-match the very same rows.
_BRUTE_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), pairs AS (
        SELECT q.q_id, b.vec_id,
               list_dot_product(q.q_emb, b.emb)
                 / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                    * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM base b CROSS JOIN q
        WHERE b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank_in_group
    FROM pairs
    QUALIFY rank_in_group <= {K}
    """


@register("sim_topk_cosine", oracle=_BRUTE_ORACLE)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for the first
    ``N_QUERIES`` vectors: broadcast the query set, one scan over the
    base table, per-query window top-k. At 100 TB the base side stays
    partition-parallel; only k rows per query shuffle to the window."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", _norm(F.col("emb")))
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cos"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank_in_group", F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_group") <= K)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank_in_group")
    )


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes from md5 — no RNG, so the
    bucketing reproduces across engines, sessions and retries. ``table``
    seeds independent plane sets for multi-table LSH."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"lsh:{table}:{j}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket_ann(
    emb: DataFrame,
    queries: DataFrame,
    dim: int = DIM,
    n_planes: int = 6,
    n_tables: int = 12,
    n_flip: int = 3,
    k: int = K,
    exact: bool = False,
) -> DataFrame:
    """Multi-table sign-LSH approximate NN with margin-guided multi-probe.

    The OR-amplified construction: ``n_tables`` independent plane sets of
    ``n_planes`` each; a vector lands in one bucket per table, and a
    query probes its own bucket per table PLUS the buckets reached by
    flipping the ``n_flip`` lowest-|margin| bits (singly, and the two
    smallest together) — multi-probe LSH (Lv et al., VLDB'07). A true
    neighbor is found if ANY table agrees: recall = 1-(1-p_table)^L,
    which is what makes weakly-correlated neighbors (this corpus: top-5
    cosine ≈ 0.26-0.40, per-bit agreement ≈ 0.6) reachable at all.
    Candidates are unioned across tables, deduped, exactly re-ranked.

    ``exact=True`` probes EVERY one of the 2^n_planes buckets per table
    (use with n_tables=1): the candidate set degenerates to the whole
    corpus, so the output equals brute force — the driver-attestable
    mode that hash-matches the DuckDB oracle while running the same
    bucket -> candidate-join -> dedup -> re-rank plan. The pruned mode's
    recall is gated separately (tests/test_scale_ops.py).

    Scale: the base table is hashed in ONE scan into an L-row-per-vector
    index (the classic L× LSH index cost); the query side is a tiny
    broadcast multiplied by L × probes. ``n_planes`` should grow with
    log2(n) to hold per-bucket occupancy constant — the default is sized
    for the test corpus (n=500 -> 64 buckets/table) and gated at
    recall@5 >= 0.8 vs exact (tests/test_scale_ops.py).

    The n_tables×n_planes plane projections are ONE numpy matmul per
    Arrow batch (a vectorized Pandas UDF): computing them as per-row
    HOF folds is 64×72 interpreted lambda evaluations per vector and
    measured 7× slower end-to-end. Both sides use the same UDF, so
    base and query bucketing are bit-identical.
    """
    from pyspark.sql.functions import pandas_udf

    # (dim, n_tables*n_planes): column t*n_planes+j = plane j of table t
    plane_mat = np.array(
        [row for t in range(n_tables) for row in _hyperplanes(dim, n_planes, table=t)]
    ).T

    @pandas_udf("array<double>")
    def _all_dots(emb_s: pd.Series) -> pd.Series:
        X = np.vstack(emb_s.to_numpy())
        return pd.Series((X @ plane_mat).tolist())

    # Server-parsed SQL strings for the fixed-form pieces (DEVNOTES
    # #43, round 8): the Column-object construction of the
    # bucket/probe expressions measured 0.39 s of py4j round-trips
    # PER LANE BUILD.  Every stringified op is integer (bucket fold,
    # bit flips) or the AST-identical float fold (dot/norm — same
    # textual operator order as the Column chain it replaces), so the
    # results are value-exact.
    dots_sql = f"slice(__all_dots, (tbl * {n_planes}) + 1, {n_planes})"

    def bucket_sql(dots: str) -> str:
        return (
            f"aggregate({dots}, 0, "
            "(acc, d) -> (acc * 2) + (CASE WHEN d >= 0 THEN 1 ELSE 0 END))"
        )

    base = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        .withColumn("nrm", _norm(F.col("emb")))  # once per vector, not per pair
        .withColumn("__all_dots", _all_dots(F.col("emb")))
        .selectExpr(
            "vec_id", "emb", "nrm", "__all_dots",
            f"explode(sequence(0, {n_tables - 1})) AS tbl",
        )
        .selectExpr("vec_id", "emb", "nrm", "tbl", f"{bucket_sql(dots_sql)} AS bucket")
    )

    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).withColumn("q_nrm", _norm(F.col("q_emb")))

    if exact:
        # all-buckets probe: per table every bucket id is a probe, so the
        # bucket equi-join below degenerates to the full candidate set
        q = q.selectExpr(
            "q_id", "q_emb", "q_nrm",
            f"explode(sequence(0, {n_tables - 1})) AS tbl",
        ).selectExpr(
            "*", f"explode(sequence(0, {2 ** n_planes - 1})) AS bucket"
        )
    else:
        # planes ordered by |margin| ascending: the bits most likely to
        # differ for a true near neighbor (array_sort on (|dot|, idx)
        # structs); bit j of the fold is worth 2^(n_planes-1-j), XOR
        # flips it — probes are the home bucket, the n_flip single
        # flips, and the double flip of the two most marginal planes
        bv = f"array({', '.join(str(1 << (n_planes - 1 - j)) for j in range(n_planes))})"
        order_sql = (
            f"transform(array_sort(zip_with(__dots, sequence(0, {n_planes - 1}), "
            "(d, i) -> struct(abs(d) AS m, i AS idx))), s -> s.idx)"
        )
        probes_sql = ["__b0"] + [
            f"(__b0 ^ get({bv}, __order[{i}]))" for i in range(n_flip)
        ]
        if n_flip >= 2:  # double-flip of the two most marginal planes
            probes_sql.append(
                f"((__b0 ^ get({bv}, __order[0])) ^ get({bv}, __order[1]))"
            )
        q = (
            q.withColumn("__all_dots", _all_dots(F.col("q_emb")))
            .selectExpr(
                "q_id", "q_emb", "q_nrm", "__all_dots",
                f"explode(sequence(0, {n_tables - 1})) AS tbl",
            )
            .selectExpr("q_id", "q_emb", "q_nrm", "tbl", f"{dots_sql} AS __dots")
            .selectExpr(
                "q_id", "q_emb", "q_nrm", "tbl",
                f"{bucket_sql('__dots')} AS __b0",
                f"{order_sql} AS __order",
            )
            .selectExpr(
                "q_id", "q_emb", "q_nrm", "tbl",
                f"explode(array_distinct(array({', '.join(probes_sql)}))) AS bucket",
            )
        )

    pairs = (
        base.join(F.broadcast(q), on=["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cos"
            ),
        )
        # the same pair surfaces from every agreeing table: dedup scalars
        # (cheap shuffle of (ids, cos) — embeddings do not ride along).
        # groupBy+min instead of dropDuplicates: cos is bit-identical
        # across the duplicates (same expression, same inputs), and min
        # is order-free where dropDuplicates' internal first() is
        # partition-order-dependent under retry (determinism lint)
        .groupBy("q_id", "vec_id")
        .agg(F.min("cos").alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank_in_group", F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_group") <= k)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank_in_group")
    )


def sim_ann_lsh_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production multi-probe LSH configuration (12 tables, 6 planes,
    3 margin-guided flips) — recall@5 >= 0.8 gated vs exact in
    tests/test_scale_ops.py and timed in bench.py. Not in the catalog:
    approximate output cannot hash-match a SQL oracle; the catalog's
    ``sim_ann_lsh`` is the exact-mode degeneracy of the same machinery."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return lsh_bucket_ann(e, q)


@register("sim_ann_lsh", oracle=_BRUTE_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable exact mode of the LSH lane: ONE table, ALL
    2^n_planes buckets probed — the candidate set is the entire corpus,
    so the result provably equals brute force and hash-matches the
    shared DuckDB oracle, while executing the identical plan shape as
    production multi-probe (bucketing UDF -> probe broadcast -> bucket
    equi-join -> pair dedup -> exact re-rank window). The pruning
    heuristic itself — the only part exact mode cannot attest — is
    recall@5-gated over ``sim_ann_lsh_pruned``."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return lsh_bucket_ann(e, q, n_tables=1, exact=True)


def sim_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF configuration: spherical k-means coarse
    quantizer (fixed seed, driver-trained on a bounded sample), probe
    the 8 nearest of 16 buckets per query, block exact cosine top-k
    inside (operators/similarity.ivf_search — embeddings never ride the
    pair join). nprobe is the recall/cost dial: 8/16 halves the scan vs
    exhaustive; recall@5 gated in tests/test_scale_ops.py."""
    from tcdb_spark.operators.similarity import ivf_build, ivf_search

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    indexed, centroids = ivf_build(e, k_centroids=16, seed=42)
    q = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_emb"))
    )
    return ivf_search(indexed, centroids, q, k=K, nprobe=8)


@register("sim_ann_ivf", oracle=_BRUTE_ORACLE)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable exact mode of the IVF lane: nprobe = k_centroids
    probes EVERY coarse cell, so the bucket equi-join covers the whole
    corpus and the exact re-rank returns brute-force top-k — hash-matched
    against the shared DuckDB oracle. Same quantizer-train -> bucket ->
    probe-join -> re-rank plan as production; only the probe pruning is
    skipped, and that is recall@5-gated over ``sim_ann_ivf_pruned``."""
    from tcdb_spark.operators.similarity import ivf_build, ivf_search

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    indexed, centroids = ivf_build(e, k_centroids=16, seed=42)
    q = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_emb"))
    )
    return ivf_search(indexed, centroids, q, k=K, nprobe=16)


# ---------------------------------------------------------------------------
# PCA attestation: eigendecomposition is not SQL-expressible, so the
# catalog checks two SQL-expressible INVARIANTS that pin the distributed
# machinery per-row / per-component, while exact numpy equivalence
# (projection values, explained variance = eigenvalues, descending order)
# is gated in tests/test_spans_sketch.py::test_pca_project_matches_numpy_reference.
# ---------------------------------------------------------------------------

_PCA_MEANS = ", ".join(f"avg(emb[{i}]) AS m{i}" for i in range(1, DIM + 1))
_PCA_SQ = " + ".join(f"(emb[{i}] - m{i}) * (emb[{i}] - m{i})" for i in range(1, DIM + 1))
_PCA_NORM_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), m AS (
        SELECT {_PCA_MEANS} FROM base
    )
    SELECT vec_id, round({_PCA_SQ}, 6) AS pca_sq_norm
    FROM base CROSS JOIN m
    """


@register("embedding_pca", oracle=_PCA_NORM_ORACLE)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding table: partial Gram matrices
    per Arrow batch (32 KiB per partition regardless of rows), driver
    eigendecomposition of the d x d covariance, projection as a literal
    k x d matrix of codegen dot products (operators/similarity.py
    pca_project) — the whitening/dim-reduction pass that precedes ANN
    and embedding dedup at scale.

    Driver attestation (per-row, any SF): with k = d the projection is
    an orthonormal ROTATION of the centered data, so each row's
    ||PCA(x)||^2 must equal ||x - mean||^2 — which DuckDB computes
    independently from per-dimension averages. Any defect in the Gram
    accumulation, mean centering, eigenbasis, or the codegen projection
    folds breaks the match. Eigen-ordering/variance/per-value checks
    live in pytest (numpy equivalence)."""
    from tcdb_spark.operators.similarity import pca_project

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    out, _evr = pca_project(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb")),
        k=DIM,
        col="emb",
    )
    sq = _dot(F.col("pca"), F.col("pca"))
    return out.select("vec_id", F.round(sq, 6).alias("pca_sq_norm"))


_PCA_K = 8
_PCA_PAIRS = [(i, j) for i in range(_PCA_K) for j in range(i + 1, _PCA_K)]
_PCA_DECOR_ORACLE = (
    "SELECT CAST(ci AS INTEGER) AS ci, CAST(cj AS INTEGER) AS cj, "
    "CAST(cov AS DOUBLE) AS cov FROM (VALUES "
    + ", ".join(f"({i}, {j}, 0.0)" for i, j in _PCA_PAIRS)
    + ") AS t(ci, cj, cov)"
)


@register("embedding_pca_decorrelation", oracle=_PCA_DECOR_ORACLE)
def embedding_pca_decorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The defining property of PCA, driver-attested: projected
    components are pairwise DECORRELATED (the eigenbasis diagonalizes
    the sample covariance), so covar_pop(c_i, c_j) over the projected
    corpus is 0 for every i < j — at any scale factor. The oracle is the
    literal zero matrix's upper triangle; a wrong eigenbasis, a
    mis-centered projection, or a Gram-accumulation bug all surface as
    nonzero covariances. abs() canonicalizes -0.0 from rounding."""
    from tcdb_spark.operators.similarity import pca_project

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    out, _evr = pca_project(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb")),
        k=_PCA_K,
        col="emb",
    )
    comps = out.select(*[F.col("pca")[i].alias(f"c{i}") for i in range(_PCA_K)])
    row = comps.agg(
        *[
            F.abs(F.round(F.covar_pop(f"c{i}", f"c{j}"), 6)).alias(f"cov_{i}_{j}")
            for i, j in _PCA_PAIRS
        ]
    )
    stack = ", ".join(f"{i}, {j}, cov_{i}_{j}" for i, j in _PCA_PAIRS)
    return row.selectExpr(f"stack({len(_PCA_PAIRS)}, {stack}) AS (ci, cj, cov)")


_HNM_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), pairs AS (
        SELECT q.vec_id AS q_id, b.vec_id,
               list_dot_product(q.emb, b.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM base q JOIN base b
          ON b.label <> q.label AND b.vec_id <> q.vec_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank_in_group
    FROM pairs
    QUALIFY rank_in_group <= {K}
    """


def hard_negative_mining_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production configuration of the hard-negative k-NN join: left
    multi-probes its 6 nearest of 16 IVF cells, so the pair space is
    ~6/16 of the cross product and shrinks further as k_centroids grows
    at scale; scoring runs the same block path as the exact lane
    (embeddings never ride the pair join). recall@5 >= 0.7
    vs the brute-force label-constrained join is gated in
    tests/test_training_ops.py."""
    from tcdb_spark.operators.similarity import knn_join

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    left = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    return knn_join(
        left,
        emb,
        k=K,
        k_centroids=16,
        nprobe=6,
        mismatch_cols=("q_label", "label"),
    ).select("q_id", "vec_id", "cosine", "rank_in_group")


@register("hard_negative_mining", oracle=_HNM_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN JOIN constrained to label mismatch — hard
    negative mining for contrastive training (`operators/similarity.py
    knn_join`): every embedding gets its 5 nearest OTHER-label vectors
    by cosine. Both sides are the full corpus; they meet only inside
    shared IVF cells. The quality upgrade over the ring-sampled
    `negative_pair_sample`: nearest wrong-class examples, not random
    ones.

    Driver attestation: this catalog entry runs the exact-mode
    degeneracy — nprobe = k_centroids, so every (query, candidate) pair
    meets in some cell and the result equals the brute-force
    label-constrained top-k that the DuckDB oracle computes over the
    full cross product. The production pruned configuration
    (``hard_negative_mining_pruned``, nprobe=6) is recall@5-gated in
    pytest.

    Scoring is ivf_search's block path: fold-order cosines
    (sequential-over-dims accumulation, the doubles of an
    ``aggregate(zip_with)`` fold) and the SQL ``<>`` filter's null-drop
    semantics in the mask, vectorized in numpy — an interpreted
    per-pair lambda fold measured 23.7 s at sf0.1, this ~1 s."""
    from tcdb_spark.operators.similarity import knn_join

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    left = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    return knn_join(
        left,
        emb,
        k=K,
        k_centroids=16,
        nprobe=16,
        mismatch_cols=("q_label", "label"),
    ).select("q_id", "vec_id", "cosine", "rank_in_group")


@register(
    "label_centroid_cosine",
    oracle="""
    WITH dims AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (SELECT label, i, avg(x) AS c FROM dims GROUP BY 1, 2),
    dots AS (SELECT a.label AS label_a, b.label AS label_b,
                    sum(a.c * b.c) AS dot
             FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
             GROUP BY 1, 2),
    nrm AS (SELECT label, sqrt(sum(c * c)) AS n FROM cent GROUP BY label)
    SELECT d.label_a, d.label_b,
           round(d.dot / (na.n * nb.n), 6) AS cos
    FROM dots d
    JOIN nrm na ON na.label = d.label_a
    JOIN nrm nb ON nb.label = d.label_b
    """,
)
def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the dataset-level geometry diagnostic (which classes/domains/
    clusters collide?) run before trusting labels for hard-negative
    mining or stratified splits.

    Scale shape: the embedding matrix collapses FIRST (posexplode ->
    per-(label, dim) mean, a map-side-partial aggregate whose output is
    k x d rows — independent of corpus size), and only the k centroids
    meet in the pairwise join, keyed on the dimension index so each dot
    product is an equi-join partial sum, k^2 x d intermediate rows with
    k = #labels.  No vector ever rides a cross join; a million-doc
    corpus with 10 domains costs the same pairwise stage as this test
    set.  Cross-engine: float32 inputs promote to double in both
    engines before the mean; round(6) absorbs unordered-sum ULP."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    dims = emb.select("label", F.posexplode("embedding").alias("i", "x"))
    cent = (
        dims.groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .persist()
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    nrm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n"))
    return (
        dots.join(nrm.select(F.col("label").alias("label_a"), F.col("n").alias("na")), "label_a")
        .join(nrm.select(F.col("label").alias("label_b"), F.col("n").alias("nb")), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization — the memory-scale ANN path (operators/similarity.py
# pq_build/pq_encode/pq_search). Same attestation layout as LSH/IVF: the
# registered lane runs the full ADC machinery in its exact-mode degeneracy
# (shortlist >= corpus, so the exact re-rank provably returns brute force
# and hash-matches _BRUTE_ORACLE); the pruned production configuration is
# recall@5-gated in tests/test_clustering.py.
# ---------------------------------------------------------------------------


def _pq_lane(spark: SparkSession, sf_dir: str, shortlist: int) -> DataFrame:
    from tcdb_spark.operators.similarity import pq_build, pq_search

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    encoded, codebooks = pq_build(e, m=8, ksub=16, seed=42)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    return pq_search(encoded, codebooks, q, k=K, shortlist=shortlist)


def sim_ann_pq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ configuration: 8 subspaces × 16 codes (8
    codes/vector vs 64 float64 components — 64× smaller in the scan),
    ADC shortlist of 48 by approximate cosine via the Arrow gather
    (pq_search — measured 77 s -> ~2 s at 2M rows vs a lambda-fold
    lookup), exact re-rank on the survivors only. The shortlist size is
    the recall/cost dial; recall@5 is gated in
    tests/test_clustering.py."""
    return _pq_lane(spark, sf_dir, shortlist=48)


@register("sim_ann_pq", oracle=_BRUTE_ORACLE)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable exact mode of the PQ lane: the ADC tables are
    built, every candidate is scored by code lookups, and the shortlist
    window runs — but shortlist >= corpus, so the exact re-rank covers
    every row and provably returns brute-force top-k, hash-matched
    against the shared DuckDB oracle. Only the shortlist pruning is
    skipped, and that is recall@5-gated over ``sim_ann_pq_pruned``."""
    return _pq_lane(spark, sf_dir, shortlist=(1 << 31) - 1)


def _ivfpq_lane(spark: SparkSession, sf_dir: str, nprobe: int, shortlist: int) -> DataFrame:
    from tcdb_spark.operators.similarity import ivfpq_build, ivfpq_search

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    encoded, centroids, codebooks = ivfpq_build(e, k_centroids=16, m=8, ksub=16, seed=42)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    return ivfpq_search(
        encoded, centroids, codebooks, q, k=K, nprobe=nprobe, shortlist=shortlist
    )


def sim_ann_ivfpq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF-PQ configuration (the billion-scale index
    shape): probe 8 of 16 coarse cells, ADC-gather the cells' 8-code
    rows, exact-rerank a 48-deep shortlist — both pruning dials live
    (cell pruning x code compression). recall@5 gated in
    tests/test_clustering.py."""
    return _ivfpq_lane(spark, sf_dir, nprobe=8, shortlist=48)


@register("sim_ann_ivfpq", oracle=_BRUTE_ORACLE)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable exact mode of the composed IVF-PQ lane:
    nprobe = k_centroids probes every cell AND shortlist >= corpus
    reranks every member exactly, so the result provably equals brute
    force while the full two-level machinery executes (cell probe ->
    bucket block -> ADC code scoring -> block shortlist -> exact
    rerank). Both prunings are recall@5-gated over
    ``sim_ann_ivfpq_pruned``."""
    return _ivfpq_lane(spark, sf_dir, nprobe=16, shortlist=(1 << 31) - 1)

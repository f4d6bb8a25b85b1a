"""Similarity-search operators: IVF (inverted-file) approximate
nearest-neighbor — the trained-quantizer counterpart of the LSH-bucketed
path (plans/queries_sim.lsh_bucket_ann), per SURVEY.md §2.12 sim-topk —
plus product quantization (PQ), the IVF-PQ composition and SemDeDup.

Index = spherical k-means coarse quantizer (driver-trained on a bounded
deterministic sample, fixed seed) assigning every vector to a centroid
bucket via one Arrow matmul per batch; search probes the ``nprobe``
nearest buckets per query and runs exact cosine top-k inside.  At
100 TB the index table is partitioned by bucket so a probe touches only
nprobe/k_centroids of the data; recall tunes with nprobe.

One search function per index family — ``ivf_search``, ``pq_search``,
``ivfpq_search``, ``semantic_dedup_pairs`` — each in block shape
(embeddings never ride a pair join) and each scoring with the same
numpy kernel (``_fold_dot``/``_cos``): dots accumulate one dimension at
a time, so every cosine is the double the Spark ``aggregate(zip_with)``
fold gives, and the exact modes hash-match the DuckDB oracles.  Every
probe is ``_nearest_cells``, the metric ``_assign_bucket`` buckets
with.  A pair with a zero-norm side scores NULL and ranks after every
number (the oracles' ``x / 0`` semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.session import local_frame


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the dot-product fold over two ``array<double>``
    expressions: ``((0.0 + a_0 b_0) + a_1 b_1) + ...``, left to right,
    the accumulation order of DuckDB's ``list_dot_product``.  For
    ``selectExpr`` sites, which parse it server-side in one py4j call."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )


def _dot(a, b):
    """Column form of :func:`_dot_sql` — the same fold, the same doubles."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    """``||a||`` as a column.  Precompute it once per row on each side of
    a similarity join, so a candidate pair costs one fold (the dot)."""
    return F.sqrt(_dot(a, a))


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _fold_dot(A, B):
    """Dot products accumulated one dimension at a time — per pair
    ``((0.0 + a_0 b_0) + a_1 b_1) + ...``, the float sequence of the
    ``_dot`` left fold, vectorized over pairs.  ``A`` and ``B`` broadcast
    over their leading axes: ``Q[:, None]`` with ``B[None]`` scores a
    whole block, two row-aligned arrays score gathered pairs, and
    ``np.sqrt(_fold_dot(X, X))`` is ``_norm``'s sequential norm."""
    out = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for i in range(A.shape[-1]):
        out += A[..., i] * B[..., i]
    return out


def _cos(D, qn, cn):
    """``D / (qn * cn)`` with NaN where either norm is zero; NaN leaves
    the Arrow UDF boundary as NULL, like SQL ``x / 0``.  Query norms
    are ``sqrt(_fold_dot(Q, Q))``, candidate norms the index's stored
    ``nrm`` column."""
    zero = (qn == 0) | (cn == 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(zero, np.nan, D / (qn * cn))


def _rank_key(cos, drop):
    """Ascending sort key of the shared search order: cosine
    descending, NULL (NaN) after every number; ``drop`` pairs get NaN
    and never qualify."""
    return np.where(drop, np.nan, np.where(np.isnan(cos), np.inf, -cos))


def _top_k_mask(key, kk):
    """Mask of each row's ``kk`` smallest keys, ties to the lower
    column, NaN never.  With columns in ascending candidate-id order
    that is the (key, vec_id) order of the final window, so a block
    never drops a tie the window would keep (argpartition alone breaks
    ties arbitrarily — an all-NULL row is one big tie)."""
    ok = ~np.isnan(key)
    if kk >= key.shape[1]:
        return ok
    t = np.partition(key, kk - 1, axis=1)[:, kk - 1 : kk]  # NaN sorts last
    below = (key < t) | np.isnan(t)
    tie = key == t
    room = kk - below.sum(1, keepdims=True)
    return ok & (below | (tie & (np.cumsum(tie, axis=1) <= room)))


def _nearest_cells(X, centroids, nprobe: int):
    """Each row's ``nprobe`` nearest coarse cells — the one probe every
    IVF family and ``_assign_bucket`` share: rows L2-normalized (zero
    rows stay zero), raw centroids, distance ``||c||^2 - 2 xn.c`` (the
    constant ``||xn||^2`` dropped), ties to the lower cell id."""
    C = np.asarray(centroids, dtype="float64")
    nrm = np.linalg.norm(X, axis=1)
    Xn = X / np.where(nrm == 0, 1.0, nrm)[:, None]
    d = (C * C).sum(1)[None, :] - 2.0 * (Xn @ C.T)
    return np.argsort(d, axis=1, kind="stable")[:, :nprobe]


def _probe_cells(col, centroids, nprobe: int):
    """Column form of :func:`_nearest_cells`: an ``array<int>`` of each
    row's probed cells, one Arrow matmul per batch."""
    from pyspark.sql.functions import pandas_udf

    npr = min(nprobe, len(centroids))

    @pandas_udf("array<int>")
    def probes(e: pd.Series) -> pd.Series:
        cells = _nearest_cells(np.stack(e.to_numpy()), centroids, npr)
        return pd.Series(list(cells.astype("int32")))

    return probes(col)


def _window_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k over block survivors (q_id, vec_id, cos):
    DESC puts NULL last, ties to the smaller vec_id."""
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank_in_group", F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_group") <= k)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank_in_group")
    )


def _lloyd_kmeans(X, k: int, seed: int, iters: int = 25, n_init: int | None = None):
    """Driver-side spherical k-means on a bounded sample: ``n_init``
    k-means++ seeded Lloyd runs (seeds derived deterministically from
    ``seed``), keep the lowest-inertia quantizer.  Deterministic for a
    fixed (X order, seed, BLAS build); distances use the matmul
    identity ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x·c so the working set
    is n×k floats, never n×k×d; assignment runs in float32 (2× the
    memory bandwidth, and quantizer cell boundaries don't need double
    precision), iterations stop at label convergence, and the restart
    count adapts to the problem size — multiple restarts matter for
    tiny samples where a bad k-means++ draw can cost recall, while a
    50k-point sample almost surely seeds well once."""
    n = X.shape[0]
    k = min(k, n)
    if n_init is None:
        n_init = 4 if n * k <= 2_000_000 else 1
    Xf = np.ascontiguousarray(X, dtype="float32")
    x2 = (Xf * Xf).sum(1)

    def one_run(s):
        rng = np.random.RandomState(s)
        centers = np.empty((k, Xf.shape[1]), dtype="float32")
        centers[0] = Xf[rng.randint(n)]
        d2 = ((Xf - centers[0]) ** 2).sum(1, dtype="float64")
        for j in range(1, k):  # k-means++ seeding
            tot = d2.sum()
            probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
            centers[j] = Xf[rng.choice(n, p=probs)]
            d2 = np.minimum(d2, ((Xf - centers[j]) ** 2).sum(1, dtype="float64"))
        prev = None
        for _ in range(iters):
            c2 = (centers * centers).sum(1)
            lab = (c2[None, :] - 2.0 * (Xf @ centers.T)).argmin(1)
            if prev is not None and (lab == prev).all():
                break  # converged: the next update is a no-op
            prev = lab
            # vectorized per-cluster means: d bincount passes (C-speed)
            # instead of k boolean masks (the Python loop dominated the
            # build at 50k x 256)
            cnt = np.bincount(lab, minlength=k).astype("float32")
            sums = np.empty_like(centers)
            for j in range(Xf.shape[1]):
                sums[:, j] = np.bincount(lab, weights=Xf[:, j], minlength=k)
            nz = cnt > 0  # empty cluster keeps its old center
            centers[nz] = sums[nz] / cnt[nz, None]
        c2 = (centers * centers).sum(1)
        inertia = (x2[:, None] + c2[None, :] - 2.0 * (Xf @ centers.T)).min(1).sum()
        return inertia, centers

    best = min((one_run(seed + 1000 * r) for r in range(n_init)), key=lambda t: t[0])
    return best[1].astype("float64")


def ivf_build(
    emb: DataFrame,
    k_centroids: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
    _sample_pdf=None,
    extra_cols: list[str] | None = None,
):
    """Train the coarse quantizer and bucket every vector.

    Vectors are L2-normalized before k-means (spherical quantization):
    the search ranks by cosine, and on the unit sphere euclidean order
    IS cosine order (||a-b||^2 = 2 - 2cos), so buckets line up with the
    metric being searched. Raw embeddings are kept for exact re-ranking.

    The quantizer trains DRIVER-SIDE on a deterministic bounded sample
    (id-hash modulus, never more than ``train_cap`` vectors sorted by
    vec_id — partitioning cannot change the result), then every vector
    is assigned distributedly.  That is the production IVF lifecycle at
    100 TB — train on a sample once, assign each batch with the frozen
    centroids (``ivf_assign``) — and it replaces the pyspark.ml KMeans
    fit whose ~20 distributed iterations cost seconds of job scheduling
    to cluster what is at most a few-MB sample.

    Returns (indexed_df with ``bucket`` column, centroids list[list[float]]).
    """
    import numpy as np

    # extra_cols ride the assignment projection into the index (see
    # _assign_bucket passthrough); the training sample stays the bare
    # (vec_id, emb) projection so its derivation — and therefore the
    # trained centroids — is byte-identical with or without extras.
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # _sample_pdf: a caller that trains a SECOND quantizer level from
    # the same deterministic sample (ivfpq_build) passes the collected
    # frame in so the corpus-scan sampling job runs once, not once per
    # level — identical result by construction (same derivation, same
    # cap, deterministic sample).
    pdf = _sample_pdf if _sample_pdf is not None else _bounded_train_sample(base, train_cap)
    X = np.stack(pdf["emb"].to_numpy())
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(nrm == 0, 1.0, nrm)
    centers = _lloyd_kmeans(X, k_centroids, seed)
    centroids = [c.tolist() for c in centers]
    # ||emb|| stored in the index: cosine at search time is then one
    # dot per candidate, not three folds
    if extra_cols:
        base = emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            *extra_cols,
        )
    return _assign_bucket(base, centroids), centroids


def ivf_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    mismatch_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Probe the nprobe nearest centroid buckets per query, exact cosine
    top-k inside.  ``queries``: (q_id, q_emb array<double>).

    Scoring runs per (probing queries x bucket candidates) block inside
    a cogrouped applyInPandas, and only the k survivors per (query,
    bucket) leave Python — the embeddings never ride the pair join, so
    the shuffled volume is |queries| x nprobe x k scalar rows, not
    |pairs| x dim doubles.  Each candidate lives in exactly one bucket,
    so cross-probe results are disjoint and the global per-query top-k
    window runs over at most nprobe*k rows per query.

    Cosines are ``_fold_dot(q, c) / (||q|| * nrm)`` with the sequential
    query norm and the index's stored ``nrm``: the doubles of the
    ``aggregate(zip_with)`` fold, so nprobe = k_centroids hash-matches
    the brute-force oracle.  Self-pairs (vec_id == q_id) are masked;
    ``mismatch_cols=(q_col, cand_col)`` also masks pairs whose two
    columns are equal or NULL on either side — the SQL ``cand <> q``
    filter (label-mismatch hard-negative mining).
    """
    q_mis = [mismatch_cols[0]] if mismatch_cols else []
    c_mis = [mismatch_cols[1]] if mismatch_cols else []
    probe = queries.select(
        "q_id", "q_emb", *q_mis,
        F.explode(_probe_cells(F.col("q_emb"), centroids, nprobe)).alias("bucket"),
    )
    cand = indexed.select("vec_id", "emb", "nrm", "bucket", *c_mis)

    qt = dict(queries.dtypes)["q_id"]
    ct = dict(indexed.dtypes)["vec_id"]
    out_schema = f"q_id {qt}, vec_id {ct}, cos double"
    empty = pd.DataFrame({"q_id": [], "vec_id": [], "cos": []})

    def score(qdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if qdf.empty or cdf.empty:
            return empty
        cdf = cdf.sort_values("vec_id")  # column order = tie order
        Q = np.stack(qdf["q_emb"].to_numpy())
        B = np.stack(cdf["emb"].to_numpy())
        qn = np.sqrt(_fold_dot(Q, Q))
        cn = cdf["nrm"].to_numpy()
        cos = _cos(_fold_dot(Q[:, None], B[None]), qn[:, None], cn[None, :])
        qid = qdf["q_id"].to_numpy()
        cid = cdf["vec_id"].to_numpy()
        drop = qid[:, None] == cid[None, :]
        if mismatch_cols:
            ql = qdf[mismatch_cols[0]].to_numpy()
            cl = cdf[mismatch_cols[1]].to_numpy()
            drop |= (ql[:, None] == cl[None, :]) | pd.isna(ql)[:, None] | pd.isna(cl)[None, :]
        qi, ci = np.nonzero(_top_k_mask(_rank_key(cos, drop), k))
        return pd.DataFrame({"q_id": qid[qi], "vec_id": cid[ci], "cos": cos[qi, ci]})

    scored = (
        probe.groupBy("bucket")
        .cogroup(cand.groupBy("bucket"))
        .applyInPandas(lambda lp, rp: score(lp, rp), schema=out_schema)
    )
    return _window_top_k(scored, k)


def ivf_assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Incremental index maintenance: bucket NEW vectors against the
    EXISTING centroids — no retrain, no shuffle (the centroids ride the
    UDF closure; assignment is one Arrow matmul per batch).  The
    standard IVF lifecycle at 100 TB: train the quantizer once on a
    sample, assign every arriving batch with this, re-train only on
    measured drift (bucket-occupancy skew).  Output schema matches
    ivf_build's index, so the new rows union/MERGE straight into it."""
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return _assign_bucket(base, centroids)


def _assign_bucket(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Shared frozen-centroid assignment over a (vec_id, emb) frame.

    One Arrow-batched matmul assigns a whole batch (same pattern as the
    LSH plane projections): k×d distances per row as per-row HOF folds
    are k*d interpreted lambda evaluations each — measured seconds at
    only 2000×16×64 — where ``X @ C.T`` is one BLAS call.  The bucket
    is the first cell :func:`_nearest_cells` probes, so every search
    probes a vector's own bucket first; ties break to the smaller id."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("nrm double, bucket int")
    def assign(e: pd.Series) -> pd.DataFrame:
        X = np.stack(e.to_numpy())
        b = _nearest_cells(X, centroids, 1)[:, 0]
        return pd.DataFrame({"nrm": np.linalg.norm(X, axis=1), "bucket": b.astype("int32")})

    # asNondeterministic: the UDF IS deterministic per row, but a
    # downstream filter on ``bucket`` (ivfpq_search's probed-
    # cell pruning) gets pushed below this projection and the optimizer
    # then evaluates the UDF TWICE per row — once under the pushed
    # filter, once in the surviving projection (two ArrowEvalPython
    # nodes in the round-8 before-plan, guide §4.4).  Marking it
    # non-deterministic forbids the duplication; the filter runs once,
    # above a single assignment pass.  Results are unchanged — the
    # flag only restricts optimizer reordering.
    assign = assign.asNondeterministic()

    # passthrough columns (e.g. a label for mismatch-constrained k-NN)
    # ride the assignment projection — the alternative is a corpus-wide
    # equi-join back onto the index to re-attach them (a third scan +
    # shuffle join of the corpus with itself in the round-8 knn plan)
    extra = [c for c in base.columns if c not in ("vec_id", "emb")]
    return base.withColumn("__a", assign(F.col("emb"))).select(
        "vec_id", "emb", *extra,
        F.col("__a.nrm").alias("nrm"), F.col("__a.bucket").alias("bucket"),
    )


def embedding_quantize_int8(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[DataFrame, list[tuple[float, float]]]:
    """Scalar int8 quantization of an embedding column: per-dimension
    [min, max] over the corpus (one tiny aggregate) maps each component
    onto 256 levels stored as ``array<tinyint>`` — 8x smaller than
    float64 in memory and ~4x on parquet, which at a 100 TB embedding
    corpus is the difference between an index that fits the cluster and
    one that doesn't. Returns (quantized frame, per-dim ranges); ranges
    are the codebook — persist them next to the table.

    Quantize/dequantize are pure zip_with column expressions (no UDF);
    recall impact is gated in tests (dequantized top-k vs float top-k).
    """
    dims = (
        emb.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    ranges = [(r["mn"], r["mx"]) for r in dims]
    mins = F.array(*[F.lit(mn) for mn, _ in ranges])
    spans = F.array(*[F.lit((mx - mn) if mx > mn else 1.0) for mn, mx in ranges])
    shifted = F.zip_with(F.col(vec_col).cast("array<double>"), mins, lambda x, mn: x - mn)
    q = F.zip_with(
        shifted,
        spans,
        lambda d, s: (F.round(d / s * 255.0, 0) - 128).cast("tinyint"),
    )
    return emb.withColumn("q_embedding", q).drop(vec_col), ranges


def embedding_dequantize(
    qemb: DataFrame, ranges: list[tuple[float, float]], out_col: str = "embedding"
) -> DataFrame:
    """Inverse map back to ``array<double>`` (codebook as literals):
    value = min + (q + 128) / 255 * span. Max reconstruction error is
    span / 510 per component."""
    mins = F.array(*[F.lit(mn) for mn, _ in ranges])
    spans = F.array(*[F.lit((mx - mn) if mx > mn else 1.0) for mn, mx in ranges])
    # zip_with pairs two arrays, so chain: q -> scaled span, then + min
    scaled = F.zip_with(
        F.col("q_embedding"), spans, lambda q, s: (q.cast("double") + 128.0) / 255.0 * s
    )
    deq = F.zip_with(scaled, mins, lambda u, mn: u + mn)
    return qemb.withColumn(out_col, deq)


def gram_matrix(emb: DataFrame, col: str = "emb"):
    """Distributed d x d Gram/second-moment accumulation: one numpy
    ``X.T @ X`` per Arrow batch inside mapInPandas (C-speed, no Python
    row loop), partial matrices summed with one tiny shuffle (each
    partial is d*d doubles + a count — for d=64 that is 32 KiB per
    partition regardless of row count).  Returns (S, n, mean) on the
    driver.  This is the mergeable-summary shape again: the full pass
    over 100 TB of vectors reduces to partitions x 32 KiB."""
    import numpy as np
    import pandas as pd

    probe = emb.select(F.size(col).alias("d")).first()
    d = probe["d"]

    def partials(batches):
        S = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            X = np.stack(pdf["__v"].to_numpy())
            S += X.T @ X
            s += X.sum(axis=0)
            n += len(X)
        if n:
            yield pd.DataFrame(
                {"S": [S.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    parts = (
        emb.select(F.col(col).cast("array<double>").alias("__v"))
        .mapInPandas(partials, "S array<double>, s array<double>, n long")
        .collect()
    )
    S = sum(np.array(r["S"]).reshape(d, d) for r in parts)
    s = sum(np.array(r["s"]) for r in parts)
    n = sum(r["n"] for r in parts)
    return S, n, s / n


def pca_project(emb: DataFrame, k: int, col: str = "emb", out_col: str = "pca"):
    """Distributed PCA: covariance from the Gram pass (one scan),
    eigendecomposition of the tiny d x d matrix on the driver (numpy,
    deterministic sign fix), projection pushed back as a pure column
    expression — a k x d literal matrix of dot products in codegen, no
    Python in the projection path.  Returns (df with ``out_col``,
    explained_variance_ratio list).  Standard embedding whitening
    before ANN/dedup; components are descending-eigenvalue ordered."""
    import numpy as np

    S, n, mean = gram_matrix(emb, col)
    cov = S / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T                   # k x d
    # deterministic orientation: largest-|coord| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    evr = (vals[order] / vals.sum()).tolist()
    d = comps.shape[1]
    centered = F.transform(
        F.col(col).cast("array<double>"),
        lambda x, i: x - F.element_at(F.array(*[F.lit(float(m)) for m in mean]), i + 1),
    )
    proj = F.array(*[
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(v)) for v in comps[i]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for i in range(comps.shape[0])
    ])
    return emb.withColumn(out_col, proj), evr


def ivf_persist(
    warehouse, table: str, emb: DataFrame, k_centroids: int = 16, seed: int = 42
) -> int:
    """Persist the IVF index as a warehouse table PARTITIONED BY bucket
    (one directory per coarse cell) plus a tiny ``<table>__centroids``
    side table.  The payoff at 100 TB: a probe reads nprobe/k_centroids
    of the index as *directory-level partition pruning* — the unprobed
    cells are never even listed, let alone scanned (PartitionFilters in
    the executed plan, pinned in tests).  Versioned like any warehouse
    table, so index rebuilds are atomic pointer swaps and searches are
    reproducible against a pinned version."""
    indexed, centroids = ivf_build(emb, k_centroids=k_centroids, seed=seed)
    v = warehouse.write(table, indexed, partition_by=["bucket"])
    cent_rows = [(i, c) for i, c in enumerate(centroids)]
    cent_df = local_frame(
        indexed.sparkSession, cent_rows, "bucket int, centroid array<double>"
    )
    warehouse.write(f"{table}__centroids", cent_df)
    return v


def ivf_search_persisted(
    warehouse,
    table: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    max_queries: int = 10_000,
) -> DataFrame:
    """Search the persisted index: centroids load driver-side (tiny),
    the union of every query's nprobe nearest buckets becomes a static
    ``bucket IN (...)`` predicate — so the index scan prunes to the
    probed partitions before any row is read — and the pruned index
    flows through the same exact-rerank ivf_search.  The prefilter and
    the search probe with the same :func:`_nearest_cells`, so the
    prefilter never drops a cell the search probes.

    CONTRACT: this is the POINT-LOOKUP path — the query set is collected
    to the driver (that is what enables the static partition-pruning
    predicate). It refuses more than ``max_queries`` rows instead of
    OOMing the driver; bulk both-sides-large search belongs to
    :func:`knn_join`, which keeps both sides distributed and meets them
    inside shared IVF cells."""
    cent_rows = warehouse.read(f"{table}__centroids").collect()
    centroids = [
        c["centroid"] for c in sorted(cent_rows, key=lambda r: r["bucket"])
    ]
    q_local = queries.select("q_id", "q_emb").limit(max_queries + 1).collect()
    if len(q_local) > max_queries:
        raise ValueError(
            f"ivf_search_persisted collects the query side driver-side and got "
            f"more than max_queries={max_queries} rows; use knn_join for bulk "
            "(both-sides-large) nearest-neighbor search, or raise max_queries "
            "if the driver can hold the query set"
        )
    probed: list[int] = []
    if q_local:
        Q = np.array([r["q_emb"] for r in q_local], dtype="float64")
        probed = np.unique(_nearest_cells(Q, centroids, nprobe)).tolist()
    index = warehouse.read(table).where(F.col("bucket").isin(probed))
    return ivf_search(index, centroids, queries, k=k, nprobe=nprobe)


def semantic_dedup_pairs(
    emb: DataFrame,
    tau: float = 0.99,
    k_centroids: int = 8,
    seed: int = 42,
    probe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a spherical
    KMeans quantizer, generate candidate pairs ONLY within a cluster
    cell, verify each candidate with the exact cosine, keep pairs with
    cos >= tau.

    Why this survives 100 TB where all-pairs cannot: the pair space is
    bounded per cell at (n/k)^2 instead of n^2 — k grows with the corpus
    (SemDeDup uses ~n/10k clusters) so per-cell work stays constant and
    cells are embarrassingly parallel. Precision is exactly 1.0 by
    construction (every emitted pair passed the exact cosine); the only
    approximation is recall — a pair split across cells is missed. Each
    vector is therefore assigned to its ``probe`` nearest centroids
    (multi-assignment), which makes boundary splits exponentially
    unlikely for genuinely-near pairs: vectors at cosine >= 0.99 have
    near-identical centroid distances, so their probe sets overlap.

    Each cell scores ALL its pairs as one block inside applyInPandas
    (``_fold_dot(X, X)`` over stored norms — the fold's doubles) and
    emits only the >= tau survivors, so the embeddings never ride a
    pair join.  Per-cell working memory is (cell x dim) + (cell x cell)
    floats.  Multi-probe assignment duplicates boundary pairs into up
    to probe^2 shared cells; an order-free min-cos groupBy dedupes them
    (cos is bit-identical across the copies).  A zero-norm vector pairs
    with nothing (NULL cosine).

    ``emb``: (vec_id, emb array<double>). Returns (vec_a, vec_b, cos)
    with vec_a < vec_b, distinct pairs.
    """
    indexed, centroids = ivf_build(
        emb.select("vec_id", F.col("emb").alias("embedding")),
        k_centroids=k_centroids,
        seed=seed,
    )
    assigned = indexed.select(
        "vec_id", "emb", "nrm",
        F.explode(_probe_cells(F.col("emb"), centroids, probe)).alias("bucket"),
    )

    it = dict(emb.select("vec_id", "emb").dtypes)["vec_id"]
    out_schema = f"vec_a {it}, vec_b {it}, cos double"
    empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["emb"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        M = _cos(_fold_dot(X[:, None], X[None]), nrm[:, None], nrm[None, :])
        ia, ib = np.triu_indices(len(ids), k=1)  # sorted ids -> vec_a < vec_b
        keep = M[ia, ib] >= tau  # NaN (zero norm) never passes
        return pd.DataFrame(
            {"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]], "cos": M[ia, ib][keep]}
        )

    return (
        assigned.groupBy("bucket")
        .applyInPandas(lambda pdf: cell(pdf), schema=out_schema)
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cos").alias("cos"))
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    k_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    mismatch_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN: every row of ``left`` (q_id, q_emb) gets
    its k nearest ``right`` rows (vec_id, emb[, extra cols]) by cosine
    — both sides large.  The exact formulation is a cross join
    (|L|x|R| pairs — the first casualty at 100 TB); here both sides
    meet only inside shared IVF cells: right is bucketed once by the
    coarse quantizer, left probes its ``nprobe`` nearest cells, and the
    equi-join on bucket bounds the pair space to ~nprobe/k_centroids of
    the cross product, tunable recall-vs-cost.  With a label-mismatch
    constraint (``mismatch_cols=(q_col, cand_col)``) this is
    hard-negative mining for contrastive training (the quality upgrade
    over the ring-sampled ``negative_pairs``: nearest WRONG-class
    examples, not random ones).  Recall-gated in tests against the
    brute-force join.

    Scoring is :func:`ivf_search`'s block path: embeddings never ride
    the pair join, and every cosine is the fold's double, so
    nprobe = k_centroids equals the exact label-constrained top-k.
    """
    # non-embedding payload columns (e.g. the mismatch label) ride the
    # assignment projection into the index instead of a corpus-wide
    # equi-join back onto it — one scan and one shuffle join fewer
    # (round 8: the rejoin was a third full scan of `right` in the plan)
    extra = [c for c in right.columns if c not in {"vec_id", "embedding"}]
    indexed, centroids = ivf_build(
        right, k_centroids=k_centroids, seed=seed, extra_cols=extra or None
    )
    return ivf_search(
        indexed, centroids, left, k=k, nprobe=nprobe, mismatch_cols=mismatch_cols
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    q_col: str = "q_id",
    id_col: str = "vec_id",
    rel_col: str = "cos",
    emb_col: str = "emb",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick k candidates per query maximizing
    ``lam * relevance - (1 - lam) * max-cosine-to-already-picked`` —
    the standard diversification pass after a retrieval top-n, so the
    final k results are not n near-duplicates of each other.

    Input is one row per (query, candidate) with the retrieval score in
    ``rel_col`` and the candidate embedding in ``emb_col`` (i.e. the
    output of ``sim_topk``/``ivf_search`` joined back to embeddings).
    Scale shape: per-query pools are bounded by the upstream top-n
    (~10^2), so each group is one local n x n matmul plus an O(n*k)
    greedy loop inside ``applyInPandas`` over ``q_col`` —
    embarrassingly parallel across queries, no pairwise shuffle, and
    only k rows per query leave Python.  Ties break to the lowest
    candidate id (candidates are processed id-sorted and argmax takes
    the first maximum), so the result is deterministic under any
    partitioning.  Returns ``(q_col, id_col, mmr_rank)``.
    """
    qt = dict(candidates.dtypes)[q_col]
    it = dict(candidates.dtypes)[id_col]
    out_schema = f"{q_col} {qt}, {id_col} {it}, mmr_rank int"

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        rel = pdf[rel_col].to_numpy().astype("float64")[order]
        B = np.stack(pdf[emb_col].to_numpy())[order].astype("float64")
        nrm = np.linalg.norm(B, axis=1)
        Bn = B / np.where(nrm == 0, 1.0, nrm)[:, None]
        S = Bn @ Bn.T
        n = len(ids)
        sel: list[int] = []
        avail = np.ones(n, dtype=bool)
        kk = min(k, n)
        for _ in range(kk):
            pen = S[:, sel].max(axis=1) if sel else np.zeros(n)
            sc = lam * rel - (1.0 - lam) * pen
            sc[~avail] = -np.inf
            i = int(np.argmax(sc))  # first max -> lowest id on ties
            sel.append(i)
            avail[i] = False
        return pd.DataFrame(
            {
                q_col: np.repeat(pdf[q_col].iloc[0], kk),
                id_col: ids[sel],
                "mmr_rank": np.arange(1, kk + 1, dtype="int32"),
            }
        )

    return candidates.groupBy(q_col).applyInPandas(pick, schema=out_schema)


def mmr_reference(
    q: list[float], cands: dict, k: int, lam: float = 0.5
) -> list:
    """Pure-Python MMR (test oracle): same greedy argmax with the
    lowest-id tiebreak, relevance = cosine(q, cand)."""
    ids = sorted(cands)
    B = np.array([cands[i] for i in ids], dtype="float64")
    Bn = B / np.linalg.norm(B, axis=1)[:, None]
    qv = np.asarray(q, dtype="float64")
    qn = qv / np.linalg.norm(qv)
    rel = Bn @ qn
    S = Bn @ Bn.T
    sel: list[int] = []
    avail = list(range(len(ids)))
    for _ in range(min(k, len(ids))):
        scored = []
        for i in avail:
            pen = max(S[i][j] for j in sel) if sel else 0.0
            scored.append((lam * rel[i] - (1 - lam) * pen, ids[i], i))
        scored.sort(key=lambda t: (-t[0], t[1]))
        sel.append(scored[0][2])
        avail.remove(scored[0][2])
    return [ids[i] for i in sel]


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN path.
# ---------------------------------------------------------------------------


def _bounded_train_sample(base: DataFrame, train_cap: int):
    """Deterministic bounded training sample (shared by the IVF and PQ
    quantizer builds): a ``limit(cap+1)`` probe avoids a full count at
    100 TB; over cap, double an id-hash modulus and re-probe —
    log2(n/cap) early-stopping probes replace the full scan, and the
    result is invariant to partitioning. Rows come back sorted by
    vec_id so the driver-side k-means sees a pinned order."""
    pdf = base.limit(train_cap + 1).toPandas()
    if len(pdf) > train_cap:
        m = 2
        while True:
            cand = base.where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) == 0)
            pdf = cand.limit(train_cap + 1).toPandas()
            if len(pdf) <= train_cap:
                break
            m *= 2
    return pdf.sort_values("vec_id")


def pq_build(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
):
    """Train a product quantizer and encode every vector.

    The d-dim space splits into ``m`` orthogonal subspaces of d/m dims;
    each gets its own ``ksub``-centroid k-means codebook (driver-trained
    on the bounded deterministic sample, like the IVF coarse quantizer).
    A vector is stored as ``m`` small codes — at m=8, ksub=256 that is
    8 bytes instead of 512 (float64×64), the difference between an
    embedding index that fits executor memory at 100 TB and one that
    doesn't. Codebooks quantize the RAW subvectors (ADC approximates the
    raw inner product); exact norms ride along for the cosine
    denominator and for the exact re-rank.

    Returns (encoded df: vec_id, emb, nrm, codes array<int>; codebooks
    list[m][ksub][d/m]).
    """
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    pdf = _bounded_train_sample(base, train_cap)
    X = np.stack(pdf["emb"].to_numpy())
    d = X.shape[1]
    if d % m:
        raise ValueError(f"pq_build: dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    codebooks = []
    for s in range(m):
        sub = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        centers = _lloyd_kmeans(sub, ksub, seed + 7919 * s)
        codebooks.append([c.tolist() for c in centers])
    return pq_encode(base, codebooks), codebooks


def pq_encode(base: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode (vec_id, emb, ...) rows against FROZEN codebooks — the
    incremental-maintenance twin of ``ivf_assign``: new batches encode
    without retraining. One Arrow matmul per subspace per batch; ties
    break to the smaller code id (np.argmin first-minimum). Extra input
    columns (e.g. an IVF ``bucket``) pass through untouched."""
    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    n_sub = len(Cs)
    dsub = Cs[0].shape[1]
    c2s = [(C * C).sum(1) for C in Cs]

    @pandas_udf("nrm double, codes array<int>")
    def enc(e: pd.Series) -> pd.DataFrame:
        X = np.stack(e.to_numpy())
        nrm = np.linalg.norm(X, axis=1)
        codes = np.empty((len(X), n_sub), dtype="int32")
        for s in range(n_sub):
            sub = X[:, s * dsub : (s + 1) * dsub]
            codes[:, s] = (c2s[s][None, :] - 2.0 * (sub @ Cs[s].T)).argmin(1)
        return pd.DataFrame({"nrm": nrm, "codes": list(codes)})

    passthrough = [c for c in base.columns if c not in ("nrm", "codes")]
    return base.withColumn("__e", enc(F.col("emb"))).select(
        *passthrough,
        F.col("__e.nrm").alias("nrm"),
        F.col("__e.codes").alias("codes"),
    )


def _adc_rerank(Q, qids, qn, ADC, pdf, shortlist):
    """Score one block of PQ-coded candidates against the queries whose
    rows are given: ``approx[q, b] = sum_s ADC[q, s, codes[b, s]]`` as
    one fancy-indexed gather (no per-row lambdas), the block-local
    top-``shortlist`` by approximate cosine (self-pairs masked), then
    the exact fold-order cosine for those survivors only.  Returns the
    survivors as (q_id, vec_id, cos) — per-block shortlists are a
    superset of the global one, so the final window's top-k is at
    least as good as a global shortlist's."""
    pdf = pdf.sort_values("vec_id")  # column order = tie order
    codes = np.stack(pdf["codes"].to_numpy())  # B x m
    nrm = pdf["nrm"].to_numpy()
    cid = pdf["vec_id"].to_numpy()
    m, ksub = ADC.shape[1], ADC.shape[2]
    idx = np.arange(m)[None, :] * ksub + codes  # flattened (s * ksub + code)
    approx = _cos(ADC.reshape(len(Q), -1)[:, idx].sum(2), qn[:, None], nrm[None, :])
    drop = qids[:, None] == cid[None, :]
    qi, bi = np.nonzero(_top_k_mask(_rank_key(approx, drop), shortlist))
    X = np.stack(pdf["emb"].to_numpy())
    exact = _cos(_fold_dot(Q[qi], X[bi]), qn[qi], nrm[bi])
    return pd.DataFrame({"q_id": qids[qi], "vec_id": cid[bi], "cos": exact})


def _adc_queries(queries: DataFrame, codebooks, query_cap: int):
    """Collect the bounded query side (sorted by q_id) and build its
    ADC tables: (q_ids, Q, sequential norms, n_q x m x ksub tables of
    dot(query subvector, codebook entry))."""
    q_local = queries.select("q_id", "q_emb").limit(query_cap + 1).collect()
    if len(q_local) > query_cap:
        raise ValueError(
            f"PQ search builds per-query ADC tables driver-side and got more "
            f"than query_cap={query_cap} rows; use knn_join for bulk search "
            "or raise query_cap if the driver can hold the query set"
        )
    q_local.sort(key=lambda r: r["q_id"])
    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    dsub = Cs[0].shape[1]
    Q = np.array([r["q_emb"] for r in q_local], dtype="float64").reshape(-1, len(Cs) * dsub)
    ADC = np.stack(
        [Q[:, s * dsub : (s + 1) * dsub] @ C.T for s, C in enumerate(Cs)], axis=1
    )
    qids = np.asarray([r["q_id"] for r in q_local], dtype="int64")
    return qids, Q, np.sqrt(_fold_dot(Q, Q)), ADC


def pq_search(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 64,
    query_cap: int = 10_000,
) -> DataFrame:
    """ADC (asymmetric distance computation) search: per query, the dot
    products between its subvectors and every codebook entry form an
    m×ksub lookup table; a candidate's approximate inner product is then
    ``m`` table lookups instead of ``d`` multiplies.  One mapInPandas
    pass scores every batch against ALL queries (:func:`_adc_rerank`),
    exact-reranks each batch's top-``shortlist`` with the fold-order
    kernel, and a final per-query window takes global top-k — so
    shortlist >= corpus degenerates to brute force, the attestation
    mode.  The gather is one C pass where a zip_with/aggregate lookup
    fold is ~80M interpreted lambda evaluations at 2M x 64 (77 s
    against ~2 s measured).

    CONTRACT: the query side is collected driver-side to build the ADC
    tables (bounded by ``query_cap``, refuses instead of OOMing) — the
    point-lookup path, same contract as ivf_search_persisted; bulk
    search belongs to knn_join.
    """
    qids, Q, qn, ADC = _adc_queries(queries, codebooks, query_cap)
    ct = dict(encoded.dtypes)["vec_id"]

    def score(batches):
        for pdf in batches:
            if len(Q) and not pdf.empty:
                yield _adc_rerank(Q, qids, qn, ADC, pdf, shortlist)

    scored = encoded.select("vec_id", "emb", "nrm", "codes").mapInPandas(
        score, schema=f"q_id bigint, vec_id {ct}, cos double"
    )
    return _window_top_k(scored, k)


# ---------------------------------------------------------------------------
# IVF-PQ composition — coarse cells prune WHICH rows are scanned, PQ
# codes make the scan itself cheap: the standard billion-scale ANN
# index layout (FAISS IndexIVFPQ), here as the composition of the two
# operators above.
# ---------------------------------------------------------------------------


def ivfpq_build(
    emb: DataFrame,
    k_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
):
    """Build both index levels from ONE bounded training sample: the
    spherical IVF coarse quantizer buckets every vector (partition /
    file-skip key at 100 TB), and per-subspace PQ codebooks encode it
    (8 codes a row in the scan). Returns (encoded index frame:
    vec_id, emb, bucket, nrm, codes; centroids; codebooks)."""
    # ONE sampling job feeds both quantizer levels (round 8): ivf_build
    # and the PQ codebook train used to each run their own
    # _bounded_train_sample over the corpus — same derivation, same
    # cap, deterministic, so sharing the collected frame is provably
    # identical and halves the build's scan jobs.
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    pdf = _bounded_train_sample(base, train_cap)
    indexed, centroids = ivf_build(
        emb, k_centroids=k_centroids, seed=seed, train_cap=train_cap, _sample_pdf=pdf
    )
    X = np.stack(pdf["emb"].to_numpy())
    d = X.shape[1]
    if d % m:
        raise ValueError(f"ivfpq_build: dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    codebooks = []
    for s in range(m):
        sub = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        codebooks.append([c.tolist() for c in _lloyd_kmeans(sub, ksub, seed + 7919 * s)])
    encoded = pq_encode(indexed.drop("nrm"), codebooks)
    return encoded, centroids, codebooks


def ivfpq_search(
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    shortlist: int = 64,
    query_cap: int = 10_000,
) -> DataFrame:
    """IVF-PQ search — ZERO-shuffle scan shape: the probed bucket set
    becomes a static ``bucket IN (...)`` predicate (with the index
    partitioned by bucket — ivf_persist's layout — that prunes at the
    directory level to nprobe/k_centroids of the data), and scoring is
    one mapInPandas pass whose closure holds the bucket -> probing-
    queries map.  Each batch groups its rows by bucket, ADC-gathers
    every (cell-rows x probing-queries) block, and exact-reranks the
    block-local top-``shortlist`` with the fold-order kernel
    (:func:`_adc_rerank`); only those rows reach the final window.
    With nprobe = k_centroids AND shortlist >= corpus this provably
    equals brute force — the degeneracy the catalog oracle hashes.

    A first cut cogrouped probe rows with index cells by bucket — that
    SHUFFLES the whole encoded index (2M rows: 9.3 s, barely beating
    the unpruned PQ scan at 11.2 s); this shape measures ~2 s because
    cell pruning cuts compute without moving any index row."""
    qids, Q, qn, ADC = _adc_queries(queries, codebooks, query_cap)
    probing: dict[int, list[int]] = {}
    for qi, cells in enumerate(_nearest_cells(Q, centroids, nprobe)):
        for b in cells:
            probing.setdefault(int(b), []).append(qi)
    probing = {b: np.asarray(qs) for b, qs in probing.items()}

    cand = encoded.select("vec_id", "emb", "nrm", "codes", "bucket").where(
        F.col("bucket").isin(sorted(probing))
    )
    ct = dict(encoded.dtypes)["vec_id"]

    def score(batches):
        for pdf in batches:
            for b, cell in pdf.groupby("bucket"):
                qs = probing.get(int(b))
                if qs is not None:
                    yield _adc_rerank(Q[qs], qids[qs], qn[qs], ADC[qs], cell, shortlist)

    scored = cand.mapInPandas(score, schema=f"q_id bigint, vec_id {ct}, cos double")
    return _window_top_k(scored, k)


def ivfpq_persist(
    warehouse,
    table: str,
    emb: DataFrame,
    k_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
) -> int:
    """Persist the composed IVF-PQ index: the encoded frame PARTITIONED
    BY bucket (one directory per coarse cell — a probe lists only
    nprobe/k_centroids of the index) plus two tiny side tables,
    ``<table>__centroids`` and ``<table>__codebooks`` (flattened
    (subspace, code, centroid) rows — nested list-of-list columns stay
    out of storage schemas for the same serializer reasons as the
    cogroup hazard). Versioned like any warehouse table: rebuilds are
    atomic pointer swaps, searches reproduce against a pinned version,
    and new batches append via pq_encode against the frozen side
    tables."""
    encoded, centroids, codebooks = ivfpq_build(
        emb, k_centroids=k_centroids, m=m, ksub=ksub, seed=seed
    )
    v = warehouse.write(table, encoded, partition_by=["bucket"])
    spark = encoded.sparkSession
    warehouse.write(
        f"{table}__centroids",
        local_frame(
            spark,
            [(i, c) for i, c in enumerate(centroids)],
            "bucket int, centroid array<double>",
        ),
    )
    warehouse.write(
        f"{table}__codebooks",
        local_frame(
            spark,
            [
                (s, j, list(code))
                for s, cb in enumerate(codebooks)
                for j, code in enumerate(cb)
            ],
            "subspace int, code int, centroid array<double>",
        ),
    )
    return v


def ivfpq_search_persisted(
    warehouse,
    table: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    shortlist: int = 64,
    query_cap: int = 10_000,
) -> DataFrame:
    """Search the persisted IVF-PQ index: both side tables load
    driver-side (k_centroids + m*ksub tiny rows), the probed-cell union
    becomes a static ``bucket IN (...)`` predicate — directory-level
    partition pruning before any row is read — and the pruned scan
    flows through the zero-shuffle :func:`ivfpq_search`."""
    cent_rows = warehouse.read(f"{table}__centroids").collect()
    centroids = [
        c["centroid"] for c in sorted(cent_rows, key=lambda r: r["bucket"])
    ]
    cb_rows = warehouse.read(f"{table}__codebooks").collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in cb_rows:
        by_sub.setdefault(r["subspace"], {})[r["code"]] = r["centroid"]
    codebooks = [
        [by_sub[s][j] for j in sorted(by_sub[s])] for s in sorted(by_sub)
    ]
    encoded = warehouse.read(table)
    # ivfpq_search derives the probed set and applies its own bucket IN
    # filter over this frame — partition pruning composes with the
    # warehouse's file-stats skipping.
    return ivfpq_search(
        encoded, centroids, codebooks, queries,
        k=k, nprobe=nprobe, shortlist=shortlist, query_cap=query_cap,
    )

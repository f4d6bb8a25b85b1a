"""Distributed k-means over an embedding column (Lloyd's algorithm) —
the corpus-clustering primitive a training-data pipeline uses for
topic/domain bucketing, cluster-balanced sampling, and semantic-dedup
blocking (generalizes the quantizer builds in operators/similarity.py,
which train driver-side on a SAMPLE: this one runs the full-data
iterations for when the sample isn't representative).

Execution shape per iteration, sized for 100 TB:
- **assignment** (the only row-scale step) is one Arrow-batched matmul
  per batch against the broadcast k×d centroid array — no shuffle, no
  per-row Python;
- **update** is a single groupBy(cluster) with d per-dimension avg
  aggregates — map-side partial aggregation reduces each partition to
  at most k×d floats before the one k-row shuffle;
- the driver holds only the k×d centroid matrix and the per-iteration
  inertia scalar; the data itself is re-scanned per iteration (at scale
  callers cache/checkpoint the projected 2-column frame once).

``kmeans_assign`` is the frozen-centroid attestation path: pure
column-expression folds whose float order matches the DuckDB oracle's
``list_dot_product`` identity, hash-matched in the catalog
(plans/queries_clustering.py). ``_assign_l2`` is the production matmul
twin; their agreement is pinned in tests/test_clustering.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcdb_spark.operators.similarity import _dot_sql


def kmeans_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest frozen centroid (squared L2,
    ties to the smaller centroid id) as pure column expressions.

    The distance uses the expanded identity
    ``d2 = x·x - 2 x·c + c·c`` with sequential left-to-right folds —
    the exact accumulation order DuckDB's ``list_dot_product`` uses, so
    the catalog oracle hash-matches bit-for-bit. Returns
    (id_col, cluster int, dist2 double).

    The whole argmin builds as ONE server-parsed expression string
    (round 8): the Column form shipped k×d literal cells one py4j call
    each (~290 gateway calls per build at k=4, d=64).  Value-exact —
    ``repr`` round-trips every double and the ``D`` suffix pins the
    literal type, so the parsed AST matches the Column form it
    replaced (bit-equality A/B + oracle re-attested)."""
    base = emb.select(id_col, F.col(vec_col).cast("array<double>").alias("emb"))

    x2 = _dot_sql("emb", "emb")
    structs = []
    for j, c in enumerate(centroids):
        carr = "array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")"
        c2 = float(np.dot(c, c))  # constant per centroid — fold it driver-side
        structs.append(
            f"named_struct('d2', {x2} - 2.0D * {_dot_sql('emb', carr)} + {c2!r}D, "
            f"'c_id', {j})"
        )
    best = f"element_at(array_sort(array({', '.join(structs)})), 1)"
    return base.selectExpr(
        id_col,
        f"CAST({best}.c_id AS INT) AS cluster",
        f"{best}.d2 AS dist2",
    )


def _assign_l2(base: DataFrame, centers: np.ndarray) -> DataFrame:
    """Production assignment: one BLAS matmul per Arrow batch against
    the broadcast centroid matrix (same pattern as similarity.py's
    ``_assign_bucket``, but plain L2 — no normalization). Ties break to
    the smaller cluster id (np.argmin first minimum), matching
    ``kmeans_assign``. Returns (vec_id..., emb, cluster, dist2)."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centers, dtype="float64")
    c2 = (C * C).sum(1)

    @pandas_udf("cluster int, dist2 double")
    def assign(e: pd.Series) -> pd.DataFrame:
        X = np.stack(e.to_numpy())
        x2 = (X * X).sum(1)
        d2 = x2[:, None] + c2[None, :] - 2.0 * (X @ C.T)
        lab = d2.argmin(1)
        return pd.DataFrame(
            {"cluster": lab.astype("int32"), "dist2": d2[np.arange(len(X)), lab]}
        )

    return base.withColumn("__a", assign(F.col("emb"))).select(
        *base.columns,
        F.col("__a.cluster").alias("cluster"),
        F.col("__a.dist2").alias("dist2"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 4,
    iters: int = 20,
    tol: float = 1e-9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Full-data distributed Lloyd's: init from the k smallest-id
    vectors (deterministic and data-derived — no RNG, reproduces across
    engines/retries; callers wanting k-means++ quality can pass the
    sample-trained ``similarity._lloyd_kmeans`` centers through
    ``kmeans_assign`` instead), iterate assign → per-dimension mean
    until the max centroid shift drops below ``tol``.

    Empty clusters keep their previous center (the same rule as the
    driver-side trainer). Returns ``(centroids list[k][d], assigned
    DataFrame(id, emb, cluster, dist2), inertia_history list[float])``
    — the history is free (sum(dist2) rides the same k-row update
    aggregate) and is the convergence evidence tests pin (monotone
    non-increasing).
    """
    base = emb.select(id_col, F.col(vec_col).cast("array<double>").alias("emb"))
    first = base.orderBy(id_col).limit(k).collect()  # TakeOrdered — no full sort
    if len(first) < k:
        raise ValueError(f"kmeans_fit: k={k} exceeds corpus size {len(first)}")
    centers = np.stack([np.asarray(r["emb"], dtype="float64") for r in first])
    d = centers.shape[1]
    history: list[float] = []
    for _ in range(iters):
        assigned = _assign_l2(base, centers)
        upd = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dist2").alias("sse"),
                *[F.avg(F.col("emb").getItem(i)).alias(f"m{i}") for i in range(d)],
            )
            .collect()
        )
        history.append(float(sum(r["sse"] for r in upd)))
        new = centers.copy()
        for r in upd:
            new[r["cluster"]] = [r[f"m{i}"] for i in range(d)]
        shift = float(np.abs(new - centers).max())
        centers = new
        if shift <= tol:
            break
    return [c.tolist() for c in centers], _assign_l2(base, centers), history

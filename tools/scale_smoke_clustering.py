"""Round-7 (session 2) scale smokes: distributed k-means and PQ ANN at
corpus scales where the testdata fixtures (500 vectors) say nothing.

1. kmeans_fit at 2M x 64-dim synthetic vectors with PLANTED structure
   (k well-separated centers + noise): per-iteration wall must be flat
   (assignment = one matmul per Arrow batch, update = one map-side-
   combined aggregate shuffling k x d floats), the fit must recover the
   planted centers (each fitted centroid within noise-sigma of a
   distinct true center), and inertia must drop monotonically.

2. pq_build/pq_encode at the same 2M rows: encode throughput (rows/s)
   and the ADC search wall for a 5-query top-5 against the full corpus
   with shortlist=64 — the pruned production shape (pq_search, the
   Arrow-gather scorer; a column-expression lookup fold measured 77 s
   on the same corpus — ~80M interpreted lambda evaluations — which is
   why the search gathers in numpy). Recall sanity: the
   planted same-cluster structure must put cosine > 0.9 at rank 1.

The vectors are hash-derived (no RNG) so the smoke reproduces exactly:
component j of row i = ((xxhash64(i*97+j) % 2001) - 1000) / 1000, then
row i's center offset is center[i % k] * 10.

Usage: python tools/scale_smoke_clustering.py [n_rows]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

D = 64
K = 8


def synth(spark, n: int):
    """Deterministic planted-cluster corpus: 8 well-separated centers
    (one-hot blocks scaled to 10), hash-noise in [-1, 1] per component."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(F.col("id").alias("vec_id"))
    comps = []
    for j in range(D):
        noise = (
            (F.xxhash64(F.col("vec_id") * 97 + j) % 2001 + 2001) % 2001 - 1000
        ).cast("double") / 1000.0
        # center c occupies components [8c, 8c+8) at +10
        center = F.when(
            (F.col("vec_id") % K) == (j // (D // K)), F.lit(10.0)
        ).otherwise(F.lit(0.0))
        comps.append(center + noise)
    return base.select("vec_id", F.array(*comps).alias("embedding"))


def kmeans_smoke(spark, n: int) -> None:
    import numpy as np

    from tcdb_spark.operators.clustering import kmeans_fit

    emb = synth(spark, n).persist()
    emb.count()  # materialize outside the timer
    t0 = time.monotonic()
    centers, assigned, hist = kmeans_fit(emb, k=K, iters=6)
    wall = time.monotonic() - t0
    assert all(b <= a + 1e-6 for a, b in zip(hist, hist[1:])), hist
    # each fitted centroid must sit within noise-sigma of a DISTINCT
    # planted center (block of 8 comps at ~10.0)
    C = np.asarray(centers)
    true = np.zeros((K, D))
    for c in range(K):
        true[c, c * (D // K) : (c + 1) * (D // K)] = 10.0
    used = set()
    for c in range(K):
        d = np.abs(C - true[c]).max(1)
        j = int(d.argmin())
        assert d[j] < 1.0, f"center {c} unrecovered: {d[j]}"
        assert j not in used, "two true centers mapped to one fitted centroid"
        used.add(j)
    sizes = [r["count"] for r in assigned.groupBy("cluster").count().collect()]
    print(
        f"kmeans_fit n={n}: {len(hist)} iters in {wall:.1f}s "
        f"({wall/len(hist):.2f}s/iter), centers recovered 8/8, "
        f"sizes min={min(sizes)} max={max(sizes)}, inertia {hist[0]:.3g}->{hist[-1]:.3g}"
    )
    emb.unpersist()


def pq_smoke(spark, n: int) -> None:
    from pyspark.sql import functions as F

    from tcdb_spark.operators.similarity import pq_build, pq_search

    emb = synth(spark, n).persist()
    emb.count()
    t0 = time.monotonic()
    encoded, codebooks = pq_build(emb, m=8, ksub=16, seed=42)
    encoded = encoded.persist()
    n_enc = encoded.count()  # forces the full encode
    t_enc = time.monotonic() - t0
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    t0 = time.monotonic()
    res = pq_search(encoded, codebooks, q, k=5, shortlist=64)
    rows = res.collect()
    t_search = time.monotonic() - t0
    # query vectors ARE corpus rows: self-match is excluded, but the
    # planted same-cluster structure must dominate rank 1 similarity
    top1 = {r["q_id"]: r for r in rows if r["rank_in_group"] == 1}
    assert len(top1) == 5
    assert all(r["cosine"] > 0.9 for r in top1.values()), top1
    print(
        f"pq n={n_enc}: build+encode {t_enc:.1f}s ({n_enc/t_enc:,.0f} rows/s), "
        f"ADC search 5 queries x top-5 (shortlist 64) {t_search:.1f}s, "
        f"top-1 cosine min {min(r['cosine'] for r in top1.values()):.4f}"
    )
    encoded.unpersist()
    emb.unpersist()


def ivfpq_smoke(spark, n: int) -> None:
    from pyspark.sql import functions as F

    from tcdb_spark.operators.similarity import ivfpq_build, ivfpq_search

    emb = synth(spark, n).persist()
    emb.count()
    t0 = time.monotonic()
    encoded, centroids, codebooks = ivfpq_build(emb, k_centroids=16, m=8, ksub=16)
    encoded = encoded.persist()
    n_enc = encoded.count()
    t_build = time.monotonic() - t0
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    t0 = time.monotonic()
    rows = ivfpq_search(
        encoded, centroids, codebooks, q, k=5, nprobe=4, shortlist=64
    ).collect()
    t_search = time.monotonic() - t0
    top1 = {r["q_id"]: r for r in rows if r["rank_in_group"] == 1}
    assert len(top1) == 5
    assert all(r["cosine"] > 0.9 for r in top1.values()), top1
    print(
        f"ivfpq n={n_enc}: build {t_build:.1f}s, search nprobe=4/16 {t_search:.1f}s "
        f"(cells prune 3/4 of the scan), top-1 cosine min "
        f"{min(r['cosine'] for r in top1.values()):.4f}"
    )
    encoded.unpersist()
    emb.unpersist()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    from tcdb_spark.session import get_spark

    spark = get_spark("scale-smoke-clustering")
    kmeans_smoke(spark, n)
    pq_smoke(spark, n)
    ivfpq_smoke(spark, n)


if __name__ == "__main__":
    main()

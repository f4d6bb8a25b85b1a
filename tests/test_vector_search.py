"""One search function per vector-index family: the shared fold-order
kernel, zero-norm semantics and the shared nearest-cell probe.

- The kernel (``_fold_dot``/``_cos``) must give, bit for bit, the
  doubles of a sequential left fold — the float sequence of Spark's
  ``aggregate(zip_with)`` dot that the exact-mode oracles hash.
- A pair with a zero-norm side scores NULL and ranks after every
  number, ties by vec_id — what the DuckDB oracles give (``x / 0`` is
  NULL there, and DESC orders NULL last).  Pinned on a small in-test
  corpus with an all-zero query and an all-zero candidate, through
  every registered exact-mode vector lane against its own oracle.
- The persisted IVF prefilter and the search probe with the same
  metric, so the prefilter never drops a probed cell.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tcdb_spark.operators.similarity import _cos, _fold_dot, _nearest_cells

SF = "/root/testdata/sf0.001"

ZERO_Q, ZERO_C, DUP_A, DUP_B, TIE_SRC = 0, 7, 9, 10, 3


def _fold(xs, ys):
    s = 0.0
    for a, b in zip(xs, ys):
        s += a * b
    return s


def test_fold_kernel_is_bit_equal_to_sequential_fold(spark):
    """Kernel cosines on 300 real (query, candidate) pairs equal the
    pure-Python sequential fold bit for bit, in both the block form and
    the gathered-pair form, and equal Spark's own fold expression."""
    from tcdb_spark.operators.similarity import _dot, _norm
    from tcdb_spark.plans.catalog import load_tables

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    rows = (
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .where(F.col("vec_id") < 65)
        .orderBy("vec_id")
        .collect()
    )
    Q = np.array([r["emb"] for r in rows[:5]])
    B = np.array([r["emb"] for r in rows[5:]])
    assert Q.shape[0] * B.shape[0] == 300

    qn = np.sqrt(_fold_dot(Q, Q))
    cn = np.array([math.sqrt(_fold(b, b)) for b in B.tolist()])
    block = _cos(_fold_dot(Q[:, None], B[None]), qn[:, None], cn[None, :])
    qi, bi = np.divmod(np.arange(300), B.shape[0])
    pairs = _cos(_fold_dot(Q[qi], B[bi]), qn[qi], cn[bi])

    for i, q in enumerate(Q.tolist()):
        assert qn[i] == math.sqrt(_fold(q, q))
        for j, b in enumerate(B.tolist()):
            want = _fold(q, b) / (math.sqrt(_fold(q, q)) * cn[j])
            assert block[i, j] == want, (i, j, block[i, j].hex(), want.hex())
    assert np.array_equal(pairs, block.ravel())

    # Spark's own fold over the same pairs, stored norms as given
    qdf = spark.createDataFrame([(i, q) for i, q in enumerate(Q.tolist())], "i int, q array<double>")
    bdf = spark.createDataFrame(
        [(j, b, float(cn[j])) for j, b in enumerate(B.tolist())], "j int, b array<double>, cn double"
    )
    got = {
        (r["i"], r["j"]): r["cos"]
        for r in qdf.crossJoin(bdf)
        .select("i", "j", (_dot(F.col("q"), F.col("b")) / (_norm(F.col("q")) * F.col("cn"))).alias("cos"))
        .collect()
    }
    assert all(got[(i, j)] == block[i, j] for i in range(5) for j in range(B.shape[0]))


def test_zero_vector_is_a_zero_row_after_normalisation():
    """The shared probe treats a zero row as the zero direction (every
    cell at distance ||c||^2) and breaks ties to the lower cell id."""
    C = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
    X = np.array([[0.0, 0.0], [2.0, 0.1], [0.0, -3.0]])
    cells = _nearest_cells(X, C, 2)
    assert cells.tolist() == [[0, 1], [0, 1], [0, 2]]


@pytest.fixture(scope="module")
def nasty_dir(tmp_path_factory):
    """40 small-integer 8-dim vectors (every dot is an exact integer, so
    Spark and DuckDB agree on every double) with an all-zero query, an
    all-zero candidate, a bit-identical pair and its scaled copy
    (cosine-1 ties), a NULL label, and a label-1 class so small that a
    label-0 query's mismatch candidates include the zero candidate."""
    rng = np.random.RandomState(11)
    X = rng.randint(-4, 5, size=(40, 8)).astype("float64")
    X[(X == 0).all(1), 0] = 1.0
    X[ZERO_Q] = 0.0
    X[ZERO_C] = 0.0
    X[DUP_A] = X[TIE_SRC]
    X[DUP_B] = 2.0 * X[TIE_SRC]
    labels = [0] * 40
    for i in (ZERO_C, 20, 21):
        labels[i] = 1
    labels[5] = None
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(40, dtype="int64"),
            "label": pd.array(labels, dtype="Int32"),
            "embedding": [row.tolist() for row in X],
        }
    )
    out = tmp_path_factory.mktemp("nasty_vectors")
    pdf.to_parquet(out / "embeddings.parquet", index=False)
    return str(out)


@pytest.mark.parametrize(
    "lane",
    ["sim_ann_ivf", "hard_negative_mining", "sim_ann_pq", "sim_ann_ivfpq", "semantic_dedup"],
)
def test_zero_norm_lanes_match_duckdb_oracle(spark, nasty_dir, lane):
    """Every exact-mode vector lane — ivf_search with and without
    mismatch_cols, pq_search, ivfpq_search, semantic_dedup_pairs —
    returns its DuckDB oracle's rows on the zero-norm corpus: NULL
    cosines, ranked after every number, ties by vec_id."""
    import duckdb

    from tcdb_spark.plans import QUERIES
    from tcdb_spark.plans import ORACLES

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{nasty_dir}/embeddings.parquet'")
    want = sorted(con.execute(ORACLES[lane]).fetchall(), key=repr)
    got = sorted((tuple(r) for r in QUERIES[lane](spark, nasty_dir).collect()), key=repr)
    assert got == want

    if lane == "semantic_dedup":
        assert {(TIE_SRC, DUP_A), (TIE_SRC, DUP_B), (DUP_A, DUP_B)} <= {r[:2] for r in got}
        assert not any(ZERO_Q in r[:2] or ZERO_C in r[:2] for r in got)
        return
    by_q: dict[int, list] = {}
    for q, v, cos, rank in sorted(got, key=lambda r: (r[0], r[3])):
        by_q.setdefault(q, []).append((v, cos))
    # the zero query: every cosine NULL, so the k lowest other vec_ids
    assert all(cos is None for _, cos in by_q[ZERO_Q])
    assert [v for v, _ in by_q[ZERO_Q]] == sorted(v for v, _ in by_q[ZERO_Q])
    if lane == "hard_negative_mining":
        # label-0 query 1 sees only the label-1 class: two numbers, then
        # the zero candidate's NULL last
        assert {v for v, _ in by_q[1][:2]} == {20, 21}
        assert [c is None for _, c in by_q[1]] == [False, False, True]
        assert by_q[1][2][0] == ZERO_C
        assert 5 not in by_q  # NULL q_label: no candidate passes `<>`
    else:
        # bit-identical and scaled copies tie at cosine 1.0 -> vec_id order
        assert by_q[TIE_SRC][:2] == [(DUP_A, 1.0), (DUP_B, 1.0)]


def test_persisted_ivf_matches_in_memory_where_probe_metrics_differ(spark, tmp_path):
    """Queries are picked where probing with normalized centroids and
    probing with the raw spherical-k-means centroids (not unit length)
    give different cell sets; the persisted prefilter and the search
    share one probe, so the persisted search equals the in-memory one
    row for row."""
    from tcdb_spark.operators.similarity import (
        ivf_build,
        ivf_persist,
        ivf_search,
        ivf_search_persisted,
    )
    from tcdb_spark.plans.catalog import load_tables
    from tcdb_spark.sources.warehouse import Warehouse

    e = load_tables(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    wh = Warehouse(spark, str(tmp_path / "whi"))
    ivf_persist(wh, "emb_ivf", e, k_centroids=16, seed=42)
    indexed, cents = ivf_build(e, k_centroids=16, seed=42)

    rows = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb")).collect()
    X = np.array([r["emb"] for r in rows])
    C = np.asarray(cents)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    by_unit = np.argsort(((Xn[:, None, :] - Cn[None]) ** 2).sum(2), axis=1, kind="stable")[:, :3]
    by_raw = _nearest_cells(X, cents, 3)
    differ = [
        rows[i]["vec_id"]
        for i in range(len(rows))
        if set(by_unit[i]) != set(by_raw[i])
    ]
    assert len(differ) >= 5, len(differ)
    q = e.where(F.col("vec_id").isin(differ[:8])).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    got = sorted(map(tuple, ivf_search_persisted(wh, "emb_ivf", q, k=5, nprobe=3).collect()))
    ref = sorted(map(tuple, ivf_search(indexed, cents, q, k=5, nprobe=3).collect()))
    assert len(ref) == 5 * len(differ[:8])
    assert got == ref

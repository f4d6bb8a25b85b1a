"""Tests for the round-2 additions: BM25 ranking, context-window
chunking (builtin + UDTF twins), SemDeDup semantic dedup, and
warehouse file-level data skipping."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# -- BM25 -------------------------------------------------------------------


def test_bm25_scores_monotone_in_tf(spark):
    """A document repeating a query term must outscore one mentioning it
    once, all else (length) equal — the BM25 tf saturation curve is
    increasing."""
    from tcdb_spark.plans.queries_ranking import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "data data data data pad pad pad pad"),
            (2, "data pad pad pad pad pad pad pad"),
            (3, "pad pad pad pad pad pad pad pad"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["data"]).collect()}
    assert out[1] > out[2] > out[3] == 0.0


def test_bm25_rank_matches_duckdb(spark):
    """Exact-value agreement with the DuckDB oracle at sf0.001 (the
    same check the driver runs at sf0.01)."""
    import duckdb

    from tcdb_spark.plans import ORACLES, QUERIES

    got = QUERIES["bm25_rank"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = con.execute(ORACLES["bm25_rank"]).df()
    assert len(got) == len(want)
    g = got.sort_values(["doc_id"]).reset_index(drop=True)
    w = want.sort_values(["doc_id"]).reset_index(drop=True)
    assert list(g["doc_id"]) == list(w["doc_id"])
    assert list(g["bm25"]) == list(w["bm25"])


# -- chunking ---------------------------------------------------------------


def test_chunk_builtin_equals_udtf(spark):
    """The codegen chunker and the Python UDTF are the same function —
    row-for-row at sf0.001 (they also share one oracle)."""
    from tcdb_spark.plans import QUERIES

    cols = ["doc_id", "chunk_idx", "chunk", "chunk_tokens"]
    a = _rows(QUERIES["chunk_text_builtin"](spark, SF), cols)
    b = _rows(QUERIES["udtf_chunk_text"](spark, SF), cols)
    assert a == b
    assert len(a) > 0


def test_chunk_edges(spark):
    """Short docs yield one short chunk; blank docs yield none; stride
    overlap reproduces tokens at the window seam."""
    from tcdb_spark.plans.queries_chunking import CHUNK, STRIDE, chunk_text_expr

    n = CHUNK + STRIDE // 2  # second window starts but is short
    toks = " ".join(f"t{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "   "), (3, toks)], "doc_id long, text string"
    )
    out = chunk_text_expr(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [c["chunk"] for c in by_doc[1]] == ["one two"]
    assert by_doc[1][0]["chunk_tokens"] == 2
    assert 2 not in by_doc
    chunks3 = sorted(by_doc[3], key=lambda r: r["chunk_idx"])
    assert len(chunks3) == 2
    assert chunks3[0]["chunk_tokens"] == CHUNK
    # overlap: second window re-reads tokens STRIDE..CHUNK of the first
    assert chunks3[1]["chunk"].split()[0] == f"t{STRIDE}"
    assert chunks3[1]["chunk_tokens"] == n - STRIDE


def test_udtf_runs_on_arrow_path(spark):
    """The UDTF surface stays on the sanctioned Arrow lane
    (ArrowEvalPythonUDTF), never BatchEvalPython."""
    from tcdb_spark.plans import QUERIES

    plan = QUERIES["udtf_chunk_text"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan


# -- semantic dedup ---------------------------------------------------------


def test_semantic_dedup_recall_and_precision(spark):
    """Cluster-bucketed pairs == brute-force pairs on the planted-clone
    corpus (recall 1.0 there), and every emitted pair is exact-cosine
    verified (precision 1.0 against the brute-force superset)."""
    from tcdb_spark.plans import QUERIES
    from tcdb_spark.plans.catalog import load_tables
    from tcdb_spark.operators.similarity import _dot, _norm

    got = _rows(QUERIES["semantic_dedup"](spark, SF), ["vec_a", "vec_b", "cosine"])

    e = load_tables(spark, SF, "embeddings")["embeddings"]
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    clones = e.where(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 20000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 3.0).alias(
            "emb"
        ),
    )
    u = base.unionByName(clones).withColumn("nrm", _norm(F.col("emb")))
    a, b = u.alias("a"), u.alias("b")
    brute = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .where(F.col("cos") >= 0.99)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )
    want = _rows(brute, ["vec_a", "vec_b", "cosine"])
    assert len(want) > 0
    assert got == want


# -- warehouse file skipping ------------------------------------------------


def test_file_skipping_prunes_and_stays_exact(spark, tmp_path):
    """Range-clustered layout + per-file stats: a narrow predicate reads
    a strict subset of files and returns exactly the full-scan answer;
    a file with no overlapping range is never opened."""
    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("payload")
    )
    # range-partition on k -> disjoint per-file min/max (the layout data
    # skipping rewards; write_zordered is the multi-column version)
    wh.write("facts", df.repartitionByRange(8, "k").sortWithinPartitions("k"))
    stats = wh.collect_stats("facts", ["k"])
    assert len(stats["files"]) == 8

    pruned, info = wh.read_skipping("facts", {"k": (2000, 2499)})
    assert info["files_total"] == 8
    assert 1 <= info["files_read"] < info["files_total"]
    got = sorted(r["k"] for r in pruned.collect())
    assert got == list(range(2000, 2500))

    # open upper bound + missing-stats col conjunct
    pruned2, info2 = wh.read_skipping("facts", {"k": (9000, None)})
    assert info2["files_read"] < info2["files_total"]
    assert pruned2.count() == 1000


def test_file_skipping_keeps_partition_columns(spark, tmp_path):
    """read_skipping over a partition_by layout must return the SAME
    schema as read(): reading pruned leaf files with basePath keeps
    partition discovery alive, so partition columns survive and remain
    filterable (without basePath they vanish and a filter on one raises
    UNRESOLVED_COLUMN)."""
    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whp"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part")
    )
    wh.write("pt", df.repartitionByRange(4, "k").sortWithinPartitions("k"),
             partition_by=["part"])
    wh.collect_stats("pt", ["k"])

    pruned, info = wh.read_skipping("pt", {"k": (100, 199)})
    assert 1 <= info["files_read"] < info["files_total"]
    # schema parity with the plain read, partition column included
    assert sorted(pruned.columns) == sorted(wh.read("pt").columns)
    assert "part" in pruned.columns
    # the partition column is real: filterable and correct
    got = sorted(
        (r["k"], r["part"]) for r in pruned.where(F.col("part") == 1).collect()
    )
    assert got == [(k, 1) for k in range(100, 200) if k % 4 == 1]
    # the keep=[] fallback path has the identical schema too
    empty, info0 = wh.read_skipping("pt", {"k": (10_000, 20_000)})
    assert info0["files_read"] == 0
    assert sorted(empty.columns) == sorted(pruned.columns)
    assert empty.count() == 0


def test_file_skipping_requires_stats(spark, tmp_path):
    import pytest

    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.write("t", spark.range(10).select(F.col("id").alias("k")))
    with pytest.raises(FileNotFoundError):
        wh.read_skipping("t", {"k": (0, 5)})


def test_mmr_rerank_matches_reference_on_live_embeddings(spark):
    """Spark mmr_rerank == pure-Python reference on REAL float
    embeddings (not just the integer fixture): 5 queries, top-30 exact
    cosine candidate pools from the live table."""
    import numpy as np

    from tcdb_spark.operators.similarity import mmr_rerank, mmr_reference

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(120).collect()
    pool = {r.vec_id: list(r.embedding) for r in rows[:100]}
    queries = {r.vec_id: list(r.embedding) for r in rows[100:105]}

    # candidate pools: top-30 by exact cosine per query (numpy)
    B = np.array([pool[i] for i in sorted(pool)], dtype="float64")
    ids = np.array(sorted(pool))
    Bn = B / np.linalg.norm(B, axis=1)[:, None]
    cand_rows = []
    want = {}
    for qid, qv in queries.items():
        qn = np.asarray(qv) / np.linalg.norm(qv)
        cos = Bn @ qn
        top = np.lexsort((ids, -cos))[:30]  # cos desc, id asc tiebreak
        sub = {int(ids[i]): [float(x) for x in B[i]] for i in top}
        for i in top:
            cand_rows.append((int(qid), int(ids[i]), float(cos[i]), [float(x) for x in B[i]]))
        want[qid] = mmr_reference(qv, sub, k=8, lam=0.5)

    cands = spark.createDataFrame(
        cand_rows, "q_id bigint, vec_id bigint, cos double, emb array<double>"
    )
    got_rows = mmr_rerank(cands, k=8, lam=0.5).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.q_id, r.mmr_rank)):
        got.setdefault(r.q_id, []).append(r.vec_id)
    assert got == want


def test_mmr_rerank_partitioning_independent(spark):
    from tcdb_spark.operators.similarity import mmr_rerank

    rows = [
        (1, v, float(4 - v) / 4.0, [float(v), 1.0, float(v % 3)]) for v in range(1, 7)
    ]
    cands = spark.createDataFrame(
        rows, "q_id int, vec_id int, cos double, emb array<double>"
    )
    a = sorted(mmr_rerank(cands.repartition(1), k=3).collect())
    b = sorted(mmr_rerank(cands.repartition(5), k=3).collect())
    assert a == b and len(a) == 3


# ---------------------------------------------------------------- phrase search


def _phrase_hits(spark, docs, phrases):
    from tcdb_spark.plans.queries_ranking import phrase_match

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {(r["phrase"], r["doc_id"]) for r in phrase_match(df, phrases).collect()}


def test_phrase_match_boundaries_and_punctuation(spark):
    docs = [
        (1, "Table Hash value"),          # phrase at doc start, case folded
        (2, "scan of the table hash"),    # phrase at doc end
        (3, "table, hash"),               # punctuation is a token break, still adjacent
        (4, "table x hash"),              # interleaved token breaks adjacency
        (5, "hash table"),                # reversed order is not a match
    ]
    got = _phrase_hits(spark, docs, ["table hash"])
    assert got == {("table hash", 1), ("table hash", 2), ("table hash", 3)}


def test_phrase_match_repeated_token_phrase(spark):
    docs = [(1, "a a a"), (2, "a b a"), (3, "b a b")]
    got = _phrase_hits(spark, docs, ["a a"])
    assert got == {("a a", 1)}


def test_phrase_match_trigram_and_no_false_positive(spark):
    docs = [(1, "fast slow hash batch end"), (2, "slow hash. batch"), (3, "slow batch hash")]
    got = _phrase_hits(spark, docs, ["slow hash batch", "missing phrase here"])
    assert got == {("slow hash batch", 1), ("slow hash batch", 2)}

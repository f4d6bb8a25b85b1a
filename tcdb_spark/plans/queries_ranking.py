"""Keyword-relevance ranking (BM25) over ``documents`` — the retrieval
twin of the similarity-search family (SURVEY.md §2.12; generalizes the
reference's filtered "find the relevant rows" lookups, e.g.
tcdb/database.py getStormById/getStormsByDateRange, to scored retrieval).

Plan shape (the one that survives 100 TB):
- ONE scan over documents computes per-doc length and one term-frequency
  column per query term (``size(filter(tokens, t))`` — codegen, no
  explode, no shuffle for tf).
- ONE global aggregate produces the 1-row corpus statistics (N, avgdl,
  per-term document frequencies); it broadcasts back as a 1-row
  BroadcastNestedLoopJoin (allowlisted scalar-threshold cross).
- The score is a pure column expression; top-k is TakeOrderedAndProject
  (k rows per partition -> driver merge), never a full sort.

Float determinism: the per-term partial scores are summed in a FIXED
literal order (s_term1 + s_term2 + ...), never via an unordered SUM over
exploded term rows — double addition is not associative, and an
unordered group-sum would flip low bits between Spark partitions and
the DuckDB oracle (same discipline as DEVNOTES #23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.operators.similarity import _dot_sql
from tcdb_spark.plans.catalog import load_tables, register
from tcdb_spark.session import local_frame

# Lucene/ES defaults
K1 = 1.2
B = 0.75
TOP_K = 20
QUERY_TERMS = ["data", "merge", "window"]

_TOKEN_RE = "[a-z0-9]+"


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = K1,
    b: float = B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against ``terms`` with BM25
    (Robertson & Zaragoza 2009; idf is the Lucene +1 variant so scores
    stay positive). Returns id, dl and score columns; caller ranks.

    Scale: per-doc work is one tokenize + len(terms) array scans in
    codegen; the only exchanges are the 1-row stats aggregate and its
    broadcast back. The big side never shuffles.
    """
    # Server-parsed SQL strings (DEVNOTES #43): the textual operator
    # order matches the DuckDB oracle CTE exactly, and SQL's
    # left-associative parse of a*b/c == the Column-object chain it
    # replaces, so the float summation order is unchanged.  Every float
    # literal carries the D suffix — a bare 1.0 is DECIMAL in Spark SQL
    # (different promotion rules), D pins the DOUBLE the F.lit(1.0)
    # version produced.  The oracle hash verifies all of this.
    toks = docs.selectExpr(
        id_col, f"regexp_extract_all(lower({text_col}), '{_TOKEN_RE}', 0) AS toks"
    )
    per_doc = toks.selectExpr(
        id_col,
        "CAST(size(toks) AS DOUBLE) AS dl",
        *[
            f"CAST(size(filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.expr("CAST(count(1) AS DOUBLE)").alias("n_docs"),
        F.expr("avg(dl)").alias("avgdl"),
        *[
            F.expr(
                f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
            ).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.join(F.broadcast(stats))

    # fixed-order sum: s0 + s1 + ... (float determinism, module docstring)
    total = " + ".join(
        f"ln(1.0D + (n_docs - df_{i} + 0.5D) / (df_{i} + 0.5D))"
        f" * tf_{i} * {k1 + 1.0}D"
        f" / (tf_{i} + {k1}D * (1.0D - {b}D + {b}D * dl / avgdl))"
        for i in range(len(terms))
    )
    return scored.selectExpr(
        id_col, "CAST(dl AS BIGINT) AS dl", f"{total} AS score"
    )


# --- hybrid retrieval: reciprocal-rank fusion -----------------------------

_RRF_K = 60         # the standard RRF smoothing constant (Cormack et al. 2009)
_RRF_CAND = 100     # per-leg candidate depth
_HYBRID_TOP = 20

_BM25_SCORED_CTE = f"""
    toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks
        FROM documents
    ), per_doc AS (
        SELECT doc_id,
               CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[0]}')) AS DOUBLE) AS tf_0,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[1]}')) AS DOUBLE) AS tf_1,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[2]}')) AS DOUBLE) AS tf_2
        FROM toks
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
               CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
               CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
               CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
        FROM per_doc
    ), scored AS (
        SELECT doc_id,
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
                   * tf_0 * {K1 + 1.0} / (tf_0 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
                   * tf_1 * {K1 + 1.0} / (tf_1 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
                   * tf_2 * {K1 + 1.0} / (tf_2 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               AS score
        FROM per_doc CROSS JOIN stats
    )"""

_RRF_ORACLE = f"""
    WITH {_BM25_SCORED_CTE}, lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
        FROM scored ORDER BY score DESC, doc_id ASC LIMIT {_RRF_CAND}
    ), q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0
    ), sem_scored AS (
        SELECT e.vec_id AS doc_id,
               list_dot_product(q.q_emb, CAST(e.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                    * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))) AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    ), sem AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS sem_rank
        FROM sem_scored ORDER BY cos DESC, doc_id ASC LIMIT {_RRF_CAND}
    ), fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
               COALESCE(1.0 / ({_RRF_K} + lex_rank), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + sem_rank), 0.0) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(sem_rank AS INTEGER) AS sem_rank,
           round(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_HYBRID_TOP}
    """


def rank_leg(
    scored: DataFrame,
    score_col: str,
    rank_name: str,
    id_col: str = "doc_id",
    cand: int = _RRF_CAND,
) -> DataFrame:
    """One retrieval leg: reduce to the top-``cand`` candidates with
    TakeOrderedAndProject, then assign dense ranks on the tiny result —
    the rank window is bounded by the candidate depth, never the corpus."""
    from pyspark.sql.window import Window as W

    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    return (
        scored.orderBy(*order)
        .limit(cand)
        .withColumn(rank_name, F.row_number().over(W.orderBy(*order)).cast("int"))
        .select(id_col, rank_name)
    )


def rrf_fuse(
    legs: list[DataFrame],
    id_col: str = "doc_id",
    k: int = _RRF_K,
    top: int = _HYBRID_TOP,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked legs (each: id + one *_rank
    column from :func:`rank_leg`): score = sum over legs of 1/(k+rank),
    absent legs contribute 0. Fixed-order sum over the legs."""
    fused = legs[0]
    for leg in legs[1:]:
        fused = fused.join(leg, id_col, "full_outer")
    rank_cols = [c for c in fused.columns if c != id_col]
    score = None
    for rc in rank_cols:
        term = F.coalesce(F.lit(1.0) / (F.lit(k) + F.col(rc)), F.lit(0.0))
        score = term if score is None else score + term
    out = fused.withColumn("rrf", score)
    return out.orderBy(F.col("rrf").desc(), F.col(id_col).asc()).limit(top)


@register("hybrid_rrf_rank", oracle=_RRF_ORACLE)
def hybrid_rrf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): fuse the BM25 keyword ranking with the
    embedding-cosine ranking for one query — the standard way a training
    -data or RAG pipeline combines lexical and semantic recall without
    score calibration (ranks fuse; raw scores never need to be on one
    scale). ``doc_id`` keys both tables (documents.doc_id ==
    embeddings.vec_id in the testdata).

    Scale shape: each leg reduces to its top-``_RRF_CAND`` candidates
    with TakeOrderedAndProject (k rows per partition -> driver merge,
    never a full sort); rank assignment and the full-outer fusion then
    run on two 100-row frames, so the single-partition rank windows are
    bounded by the candidate depth, not the corpus. The fused score is
    1/(k+r_lex) + 1/(k+r_sem) — fixed-order double arithmetic, identical
    in both engines."""
    t = load_tables(spark, sf_dir, "documents", "embeddings")
    docs, emb = t["documents"], t["embeddings"]

    lex = rank_leg(bm25_scores(docs, QUERY_TERMS), "score", "lex_rank")

    # server-parsed fold (DEVNOTES #43): the same in-fold sum order as
    # the Column form, parsed in one py4j call
    # the query norm is a per-query constant: hoist it into the 1-row
    # broadcast side so the corpus scan pays 2 array folds per row (dot +
    # candidate norm), not 3 — same values, same within-fold sum order
    q = (
        emb.where(F.col("vec_id") == 0)
        .selectExpr("CAST(embedding AS array<double>) AS q_emb")
        .selectExpr("q_emb", f"sqrt({_dot_sql('q_emb', 'q_emb')}) AS q_nrm")
    )
    sem_scored = (
        emb.selectExpr("vec_id AS doc_id", "CAST(embedding AS array<double>) AS e")
        .crossJoin(F.broadcast(q))
        .where(F.col("doc_id") != 0)
        .selectExpr(
            "doc_id",
            f"({_dot_sql('q_emb', 'e')} / (q_nrm * sqrt({_dot_sql('e', 'e')}))) AS cos",
        )
    )
    sem = rank_leg(sem_scored, "cos", "sem_rank")

    fused = rrf_fuse([lex, sem])
    return fused.select(
        "doc_id", "lex_rank", "sem_rank", F.round("rrf", 6).alias("rrf_score")
    )


@register(
    "bm25_rank",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks
        FROM documents
    ), per_doc AS (
        SELECT doc_id,
               CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[0]}')) AS DOUBLE) AS tf_0,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[1]}')) AS DOUBLE) AS tf_1,
               CAST(len(list_filter(toks, x -> x = '{QUERY_TERMS[2]}')) AS DOUBLE) AS tf_2
        FROM toks
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
               CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
               CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
               CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
        FROM per_doc
    ), scored AS (
        SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
                   * tf_0 * {K1 + 1.0} / (tf_0 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
                   * tf_1 * {K1 + 1.0} / (tf_1 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
                   * tf_2 * {K1 + 1.0} / (tf_2 + {K1} * (1.0 - {B} + {B} * dl / avgdl))
               AS score
        FROM per_doc CROSS JOIN stats
    )
    SELECT doc_id, dl, round(score, 6) AS bm25
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT {TOP_K}
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed keyword query over ``documents``:
    one corpus scan, 1-row stats broadcast, TakeOrderedAndProject."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    scored = bm25_scores(d, QUERY_TERMS)
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(TOP_K)
        .select("doc_id", "dl", F.round("score", 6).alias("bm25"))
    )


# --- MMR diversification -------------------------------------------------
# Fixture golden (FIXTURES.md §A convention): integer 4-d vectors, pinned
# from operators/similarity.mmr_reference.  Chosen so every greedy pick
# has score margin > 0.02 (no float-tie hazard) and the MMR selection
# visibly diverges from the plain cosine top-4 for BOTH queries.
_MMR_POOL = {
    1: [2, 0, 3, 1], 2: [0, 0, 3, 2], 3: [4, 3, 3, 0], 4: [0, 2, 1, 4],
    5: [0, 0, 0, 2], 6: [4, 1, 4, 0], 7: [0, 4, 4, 1], 8: [4, 4, 0, 4],
}
_MMR_QUERIES = {10: [3, 1, 2, 4], 20: [3, 4, 1, 0]}

# mmr_reference(q, _MMR_POOL, k=4, lam=0.5) — pinned, do not regenerate
# blindly.  Plain top-4 would be q10 -> (8,4,1,5), q20 -> (3,8,6,7).
_MMR_EXPECTED = {10: [8, 2, 5, 6], 20: [3, 8, 7, 6]}

_MMR_ORACLE = "SELECT * FROM (VALUES\n      " + ",\n      ".join(
    f"({q}, {r + 1}, {v})"
    for q, picks in sorted(_MMR_EXPECTED.items())
    for r, v in enumerate(picks)
) + "\n    ) AS t(q_id, mmr_rank, vec_id)"


@register("mmr_diversify", oracle=_MMR_ORACLE)
def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversification of a retrieval top-n
    (Carbonell & Goldstein 1998): greedy ``lam*rel - (1-lam)*max-sim-
    to-picked`` selection per query, the post-retrieval pass that stops
    the final k results from being n near-duplicates of each other.
    The greedy loop is inherently sequential so it is not
    SQL-expressible — the oracle is a GOLDEN pinned from the
    pure-Python reference on an integer fixture with >0.02 score
    margins at every pick, exercised through the real distributed path
    (broadcast pool x queries, JVM cosine, applyInPandas greedy per
    query group — operators/similarity.mmr_rerank).  Scale: per-query
    pools are bounded by the upstream top-n, one local matmul + O(n*k)
    loop per query, no pairwise shuffle.  Reference parity: tcdb has no
    retrieval surface — LLM-pipeline extension op."""
    from tcdb_spark.operators.similarity import _cosine, mmr_rerank

    pool = local_frame(
        spark,
        [(i, [float(x) for x in v]) for i, v in sorted(_MMR_POOL.items())],
        "vec_id int, emb array<double>",
    )
    qs = local_frame(
        spark,
        [(i, [float(x) for x in v]) for i, v in sorted(_MMR_QUERIES.items())],
        "q_id int, q_emb array<double>",
    )
    cands = qs.crossJoin(F.broadcast(pool)).select(
        "q_id", "vec_id", "emb", _cosine(F.col("q_emb"), F.col("emb")).alias("cos")
    )
    out = mmr_rerank(cands, k=4, lam=0.5)
    return out.select("q_id", "mmr_rank", "vec_id").orderBy("q_id", "mmr_rank")


_PHRASES = ["table hash", "customer join", "slow hash batch", "quantum flux capacitor"]
_PHRASE_VALUES = ", ".join(f"('{p}')" for p in _PHRASES)


@register(
    "phrase_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    norm AS (SELECT doc_id, ' ' || array_to_string(ts, ' ') || ' ' AS s FROM toks),
    p(phrase) AS (VALUES {_PHRASE_VALUES})
    SELECT p.phrase, n.doc_id
    FROM norm n JOIN p ON contains(n.s, ' ' || p.phrase || ' ')
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a positional inverted index — the
    retrieval primitive BM25's bag-of-words scoring cannot express
    (quoted queries, code identifiers, contamination probes for exact
    benchmark strings).

    Shape: the corpus is tokenized ONCE into (doc_id, pos, tok)
    postings; the phrase set explodes into (phrase, i, tok_i) rows and
    broadcast-joins onto the postings, so only postings for tokens that
    appear in some phrase survive the scan — the full positional index
    never shuffles.  Each hit projects its candidate start position
    (pos - i); a phrase of length L matches where exactly L distinct
    offsets agree on one (doc, start), i.e. one groupBy with
    HAVING n = L.  That set-intersection formulation replaces L-1
    self-joins with ONE aggregate whose key cardinality is bounded by
    the postings of the rarest phrase token — at web scale you'd
    order phrase tokens by document frequency and prefilter on the
    rarest, the standard positional-index optimization.  The DuckDB
    oracle takes the orthogonal route (normalized token string,
    delimiter-guarded substring containment), so a hash match
    cross-validates tokenizer AND adjacency semantics."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return phrase_match(d, _PHRASES)


def phrase_match(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """Core of phrase_search: distinct (phrase, doc_id) matches of each
    space-separated lowercase phrase under [^a-z0-9]+ tokenization."""
    spark = docs.sparkSession
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
            )
        ).alias("pos", "tok"),
    )
    phr = local_frame(spark, [(p,) for p in phrases], "phrase string").select(
        "phrase", F.split("phrase", " ").alias("pt")
    )
    ptoks = phr.select(
        "phrase",
        F.size("pt").alias("plen"),
        F.posexplode("pt").alias("i", "tok"),
    )
    hits = toks.join(F.broadcast(ptoks), "tok").select(
        "phrase", "plen", "doc_id", (F.col("pos") - F.col("i")).alias("start")
    )
    matched = (
        hits.groupBy("phrase", "plen", "doc_id", "start")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") == F.col("plen"))
    )
    return matched.select("phrase", "doc_id").distinct()

"""Corpus-curation operators beyond the per-doc text signals
(SURVEY.md §2.12 extensions): n-gram repetition signals, percentile
quality cuts, deterministic train/val/test splits, train-vs-eval
contamination checking, and transitive duplicate clustering.

These are the set-level jobs a 100 TB pretraining pipeline runs after
the per-document scoring pass.  All counts are emitted as integers
(never rounded ratios) so the DuckDB oracle compares bit-exactly
(DEVNOTES.md hazards 1/5).  Hashes are md5 over strings — identical in
both engines — and the split bucket is derived from md5 hex chars with
plain ascii arithmetic, so no engine-specific hash function appears
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.plans.catalog import ORACLES, load_tables, register
from tcdb_spark.plans.queries_dedup_near import dedup_minhash_lsh
from tcdb_spark.session import local_frame


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


_TOKS_SQL = """
    SELECT doc_id, lang, source, n_chars,
           regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents WHERE length(trim(text)) > 0
"""


def _ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (JVM-side transform over a
    generated index sequence — no shuffle, no Python).

    TOTAL by construction (shadow-sweep finding, round 8): for docs
    shorter than ``n`` the expression must yield [] rather than rely on
    an upstream ``where(size >= n)`` — InferFiltersFromGenerate copies
    the array expression into the Filter and subexpression elimination
    evaluates it EAGERLY before the size guard's AND short-circuit, so
    an un-guarded ``sequence(1, size-(n-1))`` steps DESCENDING through
    index 0 and element_at throws under ANSI.  The when() guard keeps
    the throwing branch behind CaseWhen's genuine short-circuit."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + k) for k in range(n)]),
    )
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _ngrams_sql(n: int) -> str:
    return (
        f"list_transform(range(1, len(tokens) - {n - 2}), i -> "
        + " || ' ' || ".join(f"tokens[i+{k}]" for k in range(n))
        + ")"
    )


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL})
    SELECT doc_id,
           CAST(len(tokens) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(tokens)) AS INTEGER) AS n_distinct_tokens,
           CAST(len(list_distinct({_ngrams_sql(2)})) AS INTEGER) AS n_distinct_bigrams,
           CAST(len(list_distinct({_ngrams_sql(3)})) AS INTEGER) AS n_distinct_trigrams,
           CAST(length(array_to_string(tokens, '')) AS INTEGER) AS total_token_chars,
           CAST(list_max(list_transform(tokens, t -> length(t))) AS INTEGER) AS max_token_len
    FROM toks WHERE len(tokens) >= 3
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals: distinct-token and
    distinct-n-gram counts per document.  Downstream filters derive the
    duplicate-n-gram fractions (1 - distinct/total); we emit the raw
    integer counts so the oracle comparison is float-free.  Per-row
    array ops only — the job is embarrassingly parallel with zero
    shuffles at any scale."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    )
    return toks.where(F.size("tokens") >= 3).select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("int").alias("n_distinct_tokens"),
        F.size(F.array_distinct(_ngrams(F.col("tokens"), 2))).cast("int").alias("n_distinct_bigrams"),
        F.size(F.array_distinct(_ngrams(F.col("tokens"), 3))).cast("int").alias("n_distinct_trigrams"),
        F.length(F.concat_ws("", F.col("tokens"))).cast("int").alias("total_token_chars"),
        F.array_max(F.transform(F.col("tokens"), lambda t: F.length(t))).cast("int").alias("max_token_len"),
    )


@register(
    "quality_percentile_cut",
    oracle="""
    WITH kept AS (
        SELECT lang, n_chars FROM documents
        QUALIFY percent_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC) <= 0.5
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars_kept
    FROM kept GROUP BY lang
    """,
)
def quality_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile cut: keep the top half of each language
    by a quality proxy (n_chars), the way corpus curation keeps the top
    X% by classifier score.  percent_rank = (rank-1)/(n-1) is an exact
    double in both engines; ties share a rank so the cut is
    deterministic.  At scale this is one shuffle (window partition) and
    the groupBy reuses the same hash partitioning."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("lang").orderBy(F.col("n_chars").desc())
    kept = d.select("lang", "n_chars", F.percent_rank().over(w).alias("__pr")).where(
        F.col("__pr") <= 0.5
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars_kept"),
    )


# Split buckets from md5 hex chars via ascii arithmetic: engine-neutral,
# stable across runs/partitionings (unlike rand() or xxhash64, which
# DuckDB lacks). 80/10/10.
_BUCKET_SQL = (
    "(ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256"
    " + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100"
)


@register(
    "split_assign",
    oracle=f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                    WHEN {_BUCKET_SQL} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split, lang
    """,
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from a content-
    stable hash bucket — reproducible under any partitioning, re-run, or
    cluster size (the property rand(seed) does NOT give across repartitions).
    Reported as per-(split, lang) stratification counts."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    assigned = d.select(
        "lang",
        "n_chars",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


TRIGRAM_DF_CAP = 100  # trigrams in more train docs than this are boilerplate


@register(
    "contamination_check",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tri AS (
        SELECT doc_id, list_distinct({_ngrams_sql(3)}) AS sh
        FROM toks WHERE len(tokens) >= 3
    ), ex AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM tri
    ), train AS (
        SELECT shingle FROM ex WHERE doc_id % 10 <> 0
        GROUP BY shingle HAVING count(*) <= {TRIGRAM_DF_CAP}
    ), ev AS (
        SELECT doc_id, n_sh, shingle FROM ex WHERE doc_id % 10 = 0
    )
    SELECT ev.doc_id, CAST(min(ev.n_sh) AS INTEGER) AS n_shingles,
           CAST(count(t.shingle) AS INTEGER) AS n_contaminated
    FROM ev LEFT JOIN train t USING (shingle)
    GROUP BY ev.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: for every eval document (held-out
    split = doc_id % 10 == 0), count how many of its distinct word
    trigrams also occur in the train split with document frequency <=
    ``TRIGRAM_DF_CAP``.  The df cap (one HAVING on the index-building
    aggregation — it subsumes the DISTINCT) drops boilerplate trigrams
    that would otherwise (a) count every eval doc as "contaminated" by
    phrases like "one of the" and (b) concentrate the join's shuffle on
    a handful of hot keys at crawl scale.  The canonical shape at
    100 TB: explode distinct shingles, build the train shingle index
    once, one shuffle join on the shingle key (neither side is
    broadcastable), aggregate back per eval doc."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    )
    tri = toks.where(F.size("tokens") >= 3).select(
        "doc_id", F.array_distinct(_ngrams(F.col("tokens"), 3)).alias("sh")
    )
    ex = tri.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    ).persist()  # barrier: train index + eval probe must not re-run the n-gram pipeline
    train = (
        ex.where(F.col("doc_id") % 10 != 0)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))  # rows are per-doc distinct
        .where(F.col("__df") <= TRIGRAM_DF_CAP)
        .select("shingle")
        .withColumn("__hit", F.lit(1))
    )
    ev = ex.where(F.col("doc_id") % 10 == 0)
    out = (
        ev.join(train, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.min("n_sh").cast("int").alias("n_shingles"),
            F.count("__hit").cast("int").alias("n_contaminated"),
        )
    )
    return out


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{pairs}}),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(src, node) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
    )
    SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering: MinHash-LSH candidate pairs
    (same pipeline as ``dedup_minhash_lsh``) become an undirected graph;
    connected components assign every near-duplicate document a cluster
    id (= min doc_id in its cluster), so "keep one per cluster" is a
    single argmin — the step pairwise dedup alone cannot express when
    A~B, B~C but A!~C.  Oracle is a recursive-CTE min-reachable-node
    computation over the identical pair set."""
    from tcdb_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


# The dedup_clusters oracle embeds the dedup_minhash_lsh oracle verbatim
# so the two queries can never drift apart.
ORACLES["dedup_clusters"] = ORACLES["dedup_clusters"].format(
    pairs=ORACLES["dedup_minhash_lsh"]
)


@register(
    "lm_bigram_nll",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    bigr AS (
        SELECT doc_id, unnest({_ngrams_sql(2)}) AS bg
        FROM toks WHERE len(tokens) >= 2
    ),
    ucnt AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
    ),
    bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bigr GROUP BY bg),
    v AS (SELECT count(*) AS vocab FROM ucnt)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln((c2 + 1.0) / (c1 + (SELECT vocab FROM v)))), 4) AS nll
    FROM bigr
        JOIN bcnt USING (bg)
        JOIN ucnt ON w = split_part(bg, ' ', 1)
    GROUP BY doc_id
    """,
)
def lm_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filtering with a corpus-trained bigram
    LM (the KenLM-filter stand-in every pretraining pipeline runs —
    CCNet/RefinedWeb style): train add-one-smoothed bigram counts over
    the corpus itself, score each document by mean negative log
    likelihood; high-NLL docs are the gibberish/boilerplate outliers a
    percentile cut then drops (compose with quality_percentile_cut).

    Plan: ONE tokenization pass feeds bigram extraction (array slice
    zip — no per-doc window sort), two count shuffles build the model,
    the model dictionaries broadcast back onto the bigram stream, one
    groupBy(doc) scores. At 100 TB the dictionaries are the only state:
    if vocab outgrows broadcast, the joins fall back to shuffle-on-token
    and nothing else changes."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _tokens(F.col("text")).alias("tokens")
    )
    bigr = toks.where(F.size("tokens") >= 2).select(
        "doc_id", F.explode(_ngrams(F.col("tokens"), 2)).alias("bg")
    )
    uni = toks.select(F.explode("tokens").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    bcnt = bigr.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    vocab = ucnt.count()
    scored = (
        bigr.join(F.broadcast(bcnt), on="bg")
        .join(
            F.broadcast(ucnt),
            F.col("w") == F.split(F.col("bg"), " ").getItem(0),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.avg(F.log((F.col("c2") + 1.0) / (F.col("c1") + F.lit(vocab)))), 4
            ).alias("nll"),
        )
    )
    return scored


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tok AS (SELECT doc_id, lang, unnest(tokens) AS w FROM toks),
    rcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY w),
    tcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tok WHERE lang = 'en' GROUP BY w),
    tot AS (
        SELECT (SELECT sum(cr) FROM rcnt) AS tr,
               (SELECT coalesce(sum(ct), 0) FROM tcnt) AS tt,
               (SELECT count(*) FROM rcnt) AS v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(ln((coalesce(ct, 0) + 1.0) / (tt + v))
                     - ln((cr + 1.0) / (tr + v))), 4) AS dsir_logweight
    FROM tok
        JOIN rcnt USING (w)
        LEFT JOIN tcnt USING (w)
        CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how target-like it
    is under two smoothed unigram LMs — log p_target(doc) - log
    p_raw(doc), with the English subset standing in as the target
    distribution. Downstream, sampling proportional to exp(weight)
    selects pretraining data matching the target domain.

    Plan: one tokenization explode feeds both count passes (target
    counts are a filtered re-aggregation, not a second scan), the two
    dictionaries broadcast, per-doc weights come from one groupBy.
    Unseen-in-target tokens take the smoothing floor via left join +
    coalesce."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    tok = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("w")
    )
    rcnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    tcnt = tok.where(F.col("lang") == "en").groupBy("w").agg(
        F.count(F.lit(1)).alias("ct")
    )
    totals = rcnt.agg(
        F.sum("cr").alias("tr"), F.count(F.lit(1)).alias("v")
    ).first()
    tt = tcnt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt")).first()["tt"]
    tr, v = totals["tr"], totals["v"]
    return (
        tok.join(F.broadcast(rcnt), on="w")
        .join(F.broadcast(tcnt), on="w", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(
                    F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / F.lit(float(tt + v)))
                    - F.log((F.col("cr") + 1.0) / F.lit(float(tr + v)))
                ),
                4,
            ).alias("dsir_logweight"),
        )
    )


@register(
    "chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS ord
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, (ord-1)//10 AS chunk_idx,
             string_agg(tok, ' ' ORDER BY ord) AS chunk_text
      FROM toks GROUP BY doc_id, (ord-1)//10
    ),
    ranked AS (
      SELECT doc_id, chunk_idx, chunk_text,
             row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn=1 THEN length(chunk_text) ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY doc_id
    """,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at chunk granularity — the line/
    paragraph dedup pass of RefinedWeb/Dolma-style curation (the
    synthetic corpus has no newlines, so fixed 10-token windows stand
    in for paragraphs; the plan is identical). Keep-first semantics:
    the earliest (doc_id, chunk_idx) occurrence of each distinct chunk
    survives, later copies are dropped, and the per-document report
    shows how much text dedup removed.

    Scale shape: posexplode is pipelined (no shuffle), the chunk
    reassembly shuffles token rows once on (doc_id, chunk_idx), and the
    dedup itself partitions by chunk CONTENT — the same
    content-partitioned shuffle as exact doc dedup, so hot boilerplate
    chunks spread over the hash space instead of a single reduce task.
    array_sort(collect_list(struct(pos, tok))) makes reassembly order
    deterministic under any partitioning."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    chunks = (
        toks.groupBy("doc_id", F.floor(F.col("pos") / 10).alias("chunk_idx"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("chunk_text")
        )
    )
    w = W.partitionBy("chunk_text").orderBy(F.col("doc_id").asc(), F.col("chunk_idx").asc())
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(kept).alias("n_kept"),
        F.sum(
            F.when(F.col("rn") == 1, F.length("chunk_text")).otherwise(F.lit(0))
        ).alias("kept_chars"),
    )


@register(
    "mixture_sample",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
             (ascii(substring(md5(CAST(doc_id AS VARCHAR)),1,1))*256
              + ascii(substring(md5(CAST(doc_id AS VARCHAR)),2,1))) / 65536.0 AS u
      FROM documents),
    s AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS toks FROM d GROUP BY source),
    w AS (SELECT source, toks,
                 sqrt(CAST(toks AS DOUBLE)) / sum(sqrt(CAST(toks AS DOUBLE))) OVER () AS wgt,
                 sum(CAST(toks AS DOUBLE)) OVER () AS total_toks
          FROM s),
    r AS (SELECT source, LEAST(1.0, 0.5*total_toks*wgt/CAST(toks AS DOUBLE)) AS rate FROM w)
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN u < rate THEN n_toks ELSE 0 END) AS BIGINT) AS toks_sampled,
           CAST(round(max(rate), 6) AS DOUBLE) AS rate
    FROM d JOIN r ON d.source = r.source GROUP BY d.source
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sampling (the multinomial
    alpha=0.5 scheme of mT5/XLM-R): target share per source is
    proportional to sqrt(its token mass), renormalized, against a
    budget of half the corpus tokens — so rare domains are upsampled
    relative to their natural share and dominant domains are cut.
    Selection is the same md5-bucket device as split_assign: a
    content-stable uniform in [0,1) compared to the source's rate, so
    the SAMPLE ITSELF is reproducible across re-runs, partitionings,
    and cluster sizes (rand(seed) is not, across repartitions).

    Scale shape: one groupBy(source) for token masses (dims-sized), a
    1-row total cross-joined back, rates broadcast to the fact scan;
    the per-doc pass is scan + column math, no second fact shuffle.
    All threshold arithmetic is IEEE-identical in both engines (exact
    integer sums -> sqrt -> divide), so the sampled SET, not just its
    size, hash-matches the oracle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    per_doc = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        ((F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) / F.lit(65536.0)).alias("u"),
    ).persist()
    s = per_doc.groupBy("source").agg(F.sum("n_toks").alias("toks"))
    tot = s.agg(
        F.sum(F.sqrt(F.col("toks").cast("double"))).alias("sum_sqrt"),
        F.sum(F.col("toks").cast("double")).alias("total_toks"),
    )
    rates = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(1.0),
                0.5 * F.col("total_toks") * (F.sqrt(F.col("toks").cast("double")) / F.col("sum_sqrt"))
                / F.col("toks").cast("double"),
            ).alias("rate"),
        )
    )
    hit = F.col("u") < F.col("rate")
    return (
        per_doc.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(hit, F.col("n_toks")).otherwise(F.lit(0))).alias("toks_sampled"),
            F.round(F.max("rate"), 6).cast("double").alias("rate"),
        )
    )


@register(
    "dedup_canonical_keep",
    oracle="""
    WITH clusters AS ({clusters}),
    scored AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
    SELECT cluster_id,
           CAST(max(CASE WHEN rn=1 THEN doc_id END) AS BIGINT) AS canonical_doc,
           CAST(max(CASE WHEN rn=1 THEN n_chars END) AS BIGINT) AS canonical_chars,
           CAST(count(*) AS BIGINT) AS n_members
    FROM scored GROUP BY cluster_id
    """,
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over near-duplicate clusters: the
    curation step AFTER clustering — each transitive duplicate cluster
    (same connected components as ``dedup_clusters``) keeps its
    highest-quality member (longest text, doc_id as the deterministic
    tiebreak), the RefinedWeb 'keep the longest duplicate' rule rather
    than keep-first. Exact-dup groups always tie on length, which is
    why this op only makes sense on NEAR-dup clusters where members
    genuinely differ.

    Scale shape: clusters are LSH output (tiny vs the corpus); the
    quality join pulls only clustered docs' metadata (broadcast of the
    cluster map at 100 TB since near-dup clusters are <<1% of docs,
    or a shuffle join on doc_id if not); one window per cluster_id.
    Oracle embeds the dedup_clusters recursive-CTE verbatim so the two
    can never drift."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = dedup_clusters(spark, sf_dir)
    scored = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = scored.withColumn("rn", F.row_number().over(w))
    top = F.col("rn") == 1
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(top, F.col("doc_id"))).alias("canonical_doc"),
        F.max(F.when(top, F.col("n_chars").cast("long"))).alias("canonical_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )


ORACLES["dedup_canonical_keep"] = ORACLES["dedup_canonical_keep"].format(
    clusters=ORACLES["dedup_clusters"]
)


# BPE golden fixture (FIXTURES.md §A convention): the merge sequence is
# pinned from operators/bpe.bpe_learn_reference — the pure-Python
# transcription of the published algorithm (Sennrich 2016) — so the
# oracle is SF-independent and survives testdata regeneration.  The
# catalog query runs the REAL distributed path (corpus word-count
# shuffle, vocab-sized pair-count shuffle per merge, driver argmax) on
# this fixture; tests/test_bpe.py additionally pins spark==reference on
# the live documents table at two SFs.
_BPE_CORPUS = [
    "the hurricane moved west then the hurricane weakened",
    "the tropical storm strengthened into a hurricane overnight",
    "forecasters tracked the storm as the storm turned north",
    "the low pressure system became a tropical depression",
    "the depression strengthened into a tropical storm",
    "wind shear weakened the system as it moved north west",
    "the hurricane center issued warnings for the coast",
    "heavy rain and storm surge flooded the coast overnight",
]

# bpe_learn_reference(_BPE_CORPUS, 16) — pinned, do not regenerate blindly
_BPE_EXPECTED = [
    (1, "h", "e"), (2, "s", "t"), (3, "t", "he"), (4, "e", "d"),
    (5, "c", "a"), (6, "o", "r"), (7, "i", "ca"), (8, "u", "r"),
    (9, "e", "n"), (10, "i", "n"), (11, "or", "m"), (12, "st", "orm"),
    (13, "e", "r"), (14, "h", "ur"), (15, "hur", "r"), (16, "hurr", "ica"),
]

_BPE_ORACLE = "SELECT * FROM (VALUES\n      " + ",\n      ".join(
    f"({i}, '{l}', '{r}')" for i, l, r in _BPE_EXPECTED
) + "\n    ) AS t(rank, lhs, rhs)"


@register("bpe_learn_merges", oracle=_BPE_ORACLE)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 16-merge BPE vocabulary (Sennrich 2016) and emit the
    ordered merge table. Iterative (one vocab-sized pair-count shuffle
    per merge after a single corpus-sized word count), so the loop is
    not SQL-expressible — instead the oracle is a GOLDEN: the fixture
    corpus's merge sequence pinned from the pure-Python reference
    implementation, exercised through the real distributed engine path
    (same convention as the ATCF scan goldens)."""
    from tcdb_spark.operators.bpe import bpe_learn

    d = local_frame(spark, [(t,) for t in _BPE_CORPUS], "text string")
    merges = bpe_learn(spark, d, n_merges=16)
    return local_frame(
        spark,
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, lhs string, rhs string",
    )


# bpe_encode_reference(_BPE_CORPUS, merges) — pinned golden for the
# encode (apply) step, same convention as _BPE_EXPECTED above.
_BPE_ENCODED = [
    (1, 23, "the hurrica n e m o v ed w e st the n the hurrica n e w e a k en ed"),
    (2, 30, "the t r o p ica l storm st r en g the n ed in t o a hurrica n e o v er n i g h t"),
    (3, 27, "f or e ca st er s t r a c k ed the storm a s the storm t ur n ed n or t h"),
    (4, 38, "the l o w p r e s s ur e s y st e m b e ca m e a t r o p ica l d e p r e s s i o n"),
    (5, 29, "the d e p r e s s i o n st r en g the n ed in t o a t r o p ica l storm"),
    (6, 34, "w in d s he a r w e a k en ed the s y st e m a s i t m o v ed n or t h w e st"),
    (7, 27, "the hurrica n e c en t er i s s u ed w a r n in g s f or the c o a st"),
    (8, 34, "he a v y r a in a n d storm s ur g e f l o o d ed the c o a st o v er n i g h t"),
]

_BPE_ENCODE_ORACLE = "SELECT * FROM (VALUES\n      " + ",\n      ".join(
    f"({i}, {n}, '{s}')" for i, n, s in _BPE_ENCODED
) + "\n    ) AS t(doc_id, n_tokens, token_stream)"


@register("bpe_encode_tokens", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a learned BPE merge list to tokenize a corpus — the
    encode half of the tokenizer story (`bpe_learn_merges` is the
    learn half). The per-merge greedy fold runs over the DISTINCT-word
    table only (vocab-sized, ~10^5-10^6 rows at any corpus scale); the
    corpus itself pays one word explode, a broadcast hash join of the
    word->tokens map, and a single per-doc reassembly shuffle — so 100
    TB of text costs the same fold work as 1 GB (operators/bpe.py
    bpe_encode; the corpus-sized fold variant bpe_segment exists for
    streaming/one-shot use). Oracle is the pinned pure-Python-reference
    encoding of the fixture corpus under the pinned 16-merge list,
    exercised through the real distributed path. Reference parity:
    tcdb has no tokenizer — this is an LLM-pipeline extension op."""
    from tcdb_spark.operators.bpe import bpe_encode

    d = local_frame(
        spark,
        [(i + 1, t) for i, t in enumerate(_BPE_CORPUS)], "doc_id int, text string"
    )
    merges = [(l, r) for _, l, r in _BPE_EXPECTED]
    enc = bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("token_stream"),
    )

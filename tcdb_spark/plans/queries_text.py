"""Text-analysis + dedup extension operators over ``documents``
(SURVEY.md §2.12) — the training-data-pipeline surface.

All hot-path logic is built-in column expressions / higher-order array
functions (JVM-side, codegen) — no Python UDFs. Hash functions are md5
(present in both Spark and DuckDB) so oracles replicate bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.plans.catalog import fan_out_scan, load_tables, register

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

_LANG_MARKERS = {
    "en": ["the", "a", "data"],
    "es": ["table", "row", "fast"],
    "de": ["merge", "sort", "key"],
    "fr": ["join", "filter", "value"],
    "zh": ["spark", "query", "window"],
}


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup, lowest doc_id wins — generalizes the
    reference's content-identity file skip (tcdb/pipeline/fs_utils.py:10-56
    ``isContentsUnique``/``removeDuplicateFiles``). Hash-groupBy: one
    shuffle on md5(text), no pairwise compare."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    from pyspark.sql.window import Window as W

    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(F.col("doc_id").asc())
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters / digits / single punctuation) — §2.12 text-analysis."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("int").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)).cast("int").alias("n_bpe_tokens"),
        F.length(F.col("text")).cast("bigint").alias("n_chars_actual"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               regexp_split_to_array(trim(text), '\\s+') AS tokens,
               length(text) AS tlen,
               length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id,
           CAST(len(tokens) AS INTEGER) AS n_tokens,
           round(CAST(tlen AS DOUBLE) / len(tokens), 4) AS avg_token_len,
           round(CAST(n_punct AS DOUBLE) / tlen, 4) AS punct_ratio,
           round(CAST(len(list_filter(tokens, x -> x IN ({", ".join("'" + s + "'" for s in STOPWORDS)}))) AS DOUBLE)
                 / len(tokens), 4) AS stopword_ratio
    FROM toks
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, punctuation ratio, stopword ratio —
    §2.12 text-analysis quality scoring. Pure higher-order array fns."""
    d = fan_out_scan(load_tables(spark, sf_dir, "documents")["documents"])
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("tokens"),
        F.length("text").alias("tlen"),
        F.length(F.regexp_replace(F.col("text"), r"[^.,!?;:]", "")).alias("n_punct"),
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return toks.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tokens"),
        F.round(F.col("tlen").cast("double") / F.size("tokens"), 4).alias("avg_token_len"),
        F.round(F.col("n_punct").cast("double") / F.col("tlen"), 4).alias("punct_ratio"),
        F.round(
            F.size(F.filter("tokens", lambda x: F.array_contains(stop_arr, x))).cast("double")
            / F.size("tokens"),
            4,
        ).alias("stopword_ratio"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    return f"len(list_filter(tokens, x -> x IN ({markers})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang AS lang_label,
               regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM documents WHERE length(trim(text)) > 0
    ), scored AS (
        SELECT doc_id, lang_label,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('es')} AS s_es,
               {_lang_score_sql('de')} AS s_de,
               {_lang_score_sql('fr')} AS s_fr,
               {_lang_score_sql('zh')} AS s_zh
        FROM toks
    )
    SELECT doc_id, lang_label,
           CASE
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_guess
    FROM scored
    """,
)
def text_lang_id(
    spark: SparkSession, sf_dir: str, _carry: tuple[str, ...] = ()
) -> DataFrame:
    """Marker-token language-ID heuristic (n-gram-style scoring with a
    deterministic argmax tie order en>es>de>fr>zh) — §2.12 language-ID.

    ``_carry`` rides extra document columns through the projection so a
    consumer needing them (annotator_kappa's ``source``) never joins
    the corpus back onto itself on doc_id (r8 §14); the default plan is
    unchanged."""
    d = fan_out_scan(load_tables(spark, sf_dir, "documents")["documents"])
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        *_carry,
        F.col("lang").alias("lang_label"),
        F.split(F.trim(F.col("text")), r"\s+").alias("tokens"),
    )
    def _score(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter("tokens", lambda x: F.array_contains(arr, x)))

    scores = {lang: _score(markers) for lang, markers in _LANG_MARKERS.items()}
    s = toks.select(
        "doc_id", *_carry, "lang_label",
        *[scores[l].alias(f"s_{l}") for l in _LANG_MARKERS],
    )
    guess = (
        F.when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")) & (F.col("s_en") >= F.col("s_zh")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr"))
            & (F.col("s_es") >= F.col("s_zh")),
            "es",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_zh")), "de")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.select("doc_id", *_carry, "lang_label", guess.alias("lang_guess"))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           substring(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: normalized text -> md5 prefix — §2.12
    fingerprinting; md5 is bit-identical across Spark and DuckDB."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id", F.substring(F.md5(norm.cast("binary")), 1, 16).alias("fingerprint")
    )


@register(
    "quality_ngram_lm",
    oracle="""
    WITH docs AS (
        SELECT doc_id, lang, source, lower(text) AS t
        FROM documents WHERE length(text) >= 3
    ),
    tri AS (
        SELECT doc_id, lang, source,
               substring(t, CAST(unnest(generate_series(1, length(t) - 2)) AS INTEGER), 3) AS tri
        FROM docs
    ),
    ref AS (
        SELECT tri, count(*) AS ref_count FROM tri
        WHERE lang = 'en' AND source IN ('src1', 'src2', 'src3')
        GROUP BY tri
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tri,
           CAST(sum(CASE WHEN coalesce(r.ref_count, 0) >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
           CAST(floor(1000.0 * sum(CASE WHEN coalesce(r.ref_count, 0) >= 10 THEN 0 ELSE 1 END)
                / count(*)) AS BIGINT) AS oov_pm
    FROM tri t LEFT JOIN ref r USING (tri)
    GROUP BY t.doc_id
    """,
)
def quality_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language-model quality scoring (CCNet-style filter,
    integer-safe variant): a reference LM is the trigram frequency table
    of a trusted slice (en / src1-3); every document is scored by its
    out-of-vocabulary rate against it — oov_pm (per-mille of trigrams
    seen < 10 times in the reference) is the filter signal, emitted as
    integers so the cross-engine compare is exact (no float log-prob
    sum ordering hazard).

    Scale shape: the trigram *model* is bounded by charset^3 regardless
    of corpus size, so it broadcast-joins back onto the exploded corpus
    — the only unbounded shuffle is the per-doc regroup on doc_id. The
    exploded subtree is persisted once and feeds both the model build
    and the scoring pass (the re-inline hazard of DEVNOTES #13).
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    docs = d.where(F.length("text") >= 3).select(
        "doc_id", "lang", "source", F.lower(F.col("text")).alias("t")
    )
    # length(t) >= 3 so sequence(1, n>=1) is ascending (DEVNOTES #25)
    tris = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")
        ).alias("tri"),
    ).persist()
    ref = (
        tris.where((F.col("lang") == "en") & F.col("source").isin("src1", "src2", "src3"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )
    known = F.coalesce(F.col("ref_count"), F.lit(0)) >= 10
    return (
        tris.join(F.broadcast(ref), "tri", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.when(known, 1).otherwise(0)).alias("n_known"),
            F.floor(
                F.lit(1000.0)
                * F.sum(F.when(known, 0).otherwise(1))
                / F.count(F.lit(1))
            ).alias("oov_pm"),
        )
    )


# --- robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003) --------
_WK = 4  # tokens per k-gram
_WW = 4  # k-gram hashes per winnow window

_W_GRAM_DUCK = " || ' ' || ".join(f"tokens[i+{k}]" for k in range(_WK))
_W_GRAM_SPARK = ", ".join(f"element_at(tokens, i + {k})" for k in range(_WK))

_WINNOW_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
        SELECT doc_id,
               list_transform(range(1, len(tokens) - {_WK - 2}), i ->
                   substring(md5({_W_GRAM_DUCK}), 1, 8)) AS hashes
        FROM toks WHERE len(tokens) >= {_WK + _WW - 1}
    ), wins AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(hashes) - {_WW - 2}), i -> struct_pack(
                   pos := i - 1 + list_position(hashes[i:i+{_WW - 1}],
                                                list_min(hashes[i:i+{_WW - 1}])),
                   fp := list_min(hashes[i:i+{_WW - 1}])))) AS s
        FROM grams
    )
    SELECT DISTINCT doc_id, CAST(s.pos AS INTEGER) AS pos, s.fp AS fp FROM wins
    """


@register("winnow_fingerprint", oracle=_WINNOW_ORACLE)
def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every {k}-token gram, slide a window of
    {w} consecutive hashes, record the window minimum WITH its position
    (leftmost on ties), and dedup — the guarantee is at least one
    fingerprint per window, so any shared substring of length
    >= k + w - 1 tokens between two documents shares a fingerprint.
    The selective twin of ``doc_fingerprint`` (whole-doc hash): local
    plagiarism/clone detection instead of exact-dup detection, and the
    index a substring-contamination join runs on.

    Scale shape: everything up to the final dedup is a per-doc
    projection inside one scan (zero shuffle — the transform/slice/min
    pipeline is list work over each doc's own grams); the only shuffle
    is the fingerprint ``distinct``, whose row count winnowing bounds
    at ~2/(w+1) of the gram count.  Fixed-width lowercase-hex md5
    prefixes compare lexicographically == numerically in both engines
    (same convention as the minhash lanes); window ties break to the
    LEFTMOST occurrence via array_position, deterministic under any
    partitioning.  Built as server-parsed SQL strings (DEVNOTES #43)."""
    d = fan_out_scan(load_tables(spark, sf_dir, "documents")["documents"])
    return winnow_frame(d)


def _winnow_tokens(d: DataFrame) -> DataFrame:
    return (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .selectExpr("doc_id", "split(trim(text), '\\\\s+') AS tokens")
        .where(F.size("tokens") >= _WK + _WW - 1)
    )


def _winnow_pick(hashes: DataFrame) -> DataFrame:
    """Robust-winnowing selection over a (doc_id, hashes ARRAY) frame:
    per window of _WW gram hashes keep the minimum (rightmost on ties
    via array_position), emit (pos, fp), distinct.  Hash-type-agnostic
    — array_min/array_position order strings and bigints alike."""
    wins = hashes.selectExpr(
        "doc_id",
        f"explode(transform(sequence(1, size(hashes) - {_WW - 1}), i -> named_struct("
        f"'pos', i - 1 + array_position(slice(hashes, i, {_WW}), "
        f"array_min(slice(hashes, i, {_WW}))), "
        f"'fp', array_min(slice(hashes, i, {_WW}))))) AS s",
    )
    return wins.selectExpr(
        "doc_id", "CAST(s.pos AS INT) AS pos", "s.fp AS fp"
    ).distinct()


def winnow_frame(d: DataFrame) -> DataFrame:
    """The winnowing pipeline over any (doc_id, text) frame — shared by
    the catalog lane, ``winnow_contamination`` and ``Engine.winnow``."""
    hashes = _winnow_tokens(d).selectExpr(
        "doc_id",
        f"transform(sequence(1, size(tokens) - {_WK - 1}), i -> "
        f"substring(md5(cast(concat_ws(' ', {_W_GRAM_SPARK}) AS binary)), 1, 8)"
        ") AS hashes",
    )
    return _winnow_pick(hashes)


_WINNOW_CONTAM_ORACLE = f"""
    WITH fps AS ({_WINNOW_ORACLE.strip()})
    SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp
    WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    GROUP BY 1, 2
    HAVING count(DISTINCT a.fp) >= 2
    """


@register("winnow_contamination", oracle=_WINNOW_CONTAM_ORACLE)
def winnow_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->eval substring-contamination candidates over the winnowing
    index: train docs (even ids, standing in for the train split) and
    eval docs (odd ids) join on shared fingerprint VALUES; pairs with
    >= 2 shared fingerprints are flagged.  The winnowing guarantee makes
    this a sound detector for any copied run of >= k + w - 1 tokens,
    at ~1/w the index size of the full-shingle equi-join
    (``contamination_check``) — the scale trade a 100 TB corpus makes:
    same recall target, 4x smaller inverted index and pair space.

    Scale shape: one fingerprint scan feeds both join sides (same
    bounded-distinct index as ``winnow_fingerprint``); the equi-join on
    ``fp`` is the inverted-index shape with the eval side orders of
    magnitude smaller than train in practice (broadcastable); hot
    boilerplate fingerprints would get the same df-cap as the shingle
    index (operators/textdedup.df_capped_index)."""
    fps = winnow_fingerprint(spark, sf_dir).persist()
    train = fps.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("train_doc"), "fp"
    )
    ev = fps.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("eval_doc"), "fp"
    )
    return (
        train.join(ev, "fp")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count_distinct("fp").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


_WINNOW_SPANS_ORACLE = f"""
    WITH fps AS ({_WINNOW_ORACLE.strip()}
    ), shared AS (
        SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS eval_doc, a.pos
        FROM fps a JOIN fps b ON a.fp = b.fp
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    ), flagged AS (
        SELECT train_doc, eval_doc, pos,
               CASE WHEN pos - lag(pos) OVER w > {_WW} THEN 1 ELSE 0 END AS brk
        FROM shared
        WINDOW w AS (PARTITION BY train_doc, eval_doc ORDER BY pos)
    ), grouped AS (
        SELECT train_doc, eval_doc, pos,
               sum(brk) OVER (PARTITION BY train_doc, eval_doc ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM flagged
    )
    SELECT train_doc, eval_doc,
           CAST(min(pos) AS INTEGER) AS span_start,
           CAST(max(pos) AS INTEGER) AS span_end,
           CAST(count(*) AS BIGINT) AS n_fps
    FROM grouped GROUP BY train_doc, eval_doc, grp
    HAVING count(*) >= 2
    """


@register("winnow_copy_spans", oracle=_WINNOW_SPANS_ORACLE)
def winnow_copy_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover the CONTIGUOUS copied regions behind each contamination
    hit: shared fingerprints between a train doc (even ids) and an eval
    doc (odd ids) are merged into spans wherever consecutive shared
    positions sit within one winnow window (gap <= w) — the
    gaps-and-islands pass (lag -> break flag -> running-sum group id)
    that turns "these two docs share fingerprints" into "tokens
    [start..end] of the train doc were copied", which is what a
    decontamination pipeline actually removes (cf. ``span_scrub``).

    Scale shape: the pair space is bounded by the contamination join
    (shared fingerprints only); both windows partition by the
    (train_doc, eval_doc) pair — never global; all values are integers
    (positions, counts), so the oracle compares bit-exactly."""
    fps = winnow_fingerprint(spark, sf_dir).persist()
    train = fps.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("train_doc"), "pos", "fp"
    )
    ev = fps.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("eval_doc"), "fp"
    )
    shared = (
        train.join(ev, "fp").select("train_doc", "eval_doc", "pos").distinct()
    )
    w = W.partitionBy("train_doc", "eval_doc").orderBy("pos")
    flagged = shared.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > _WW, 1).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("train_doc", "eval_doc", "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.max("pos").cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_fps"),
        )
        .where(F.col("n_fps") >= 2)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Rule-based document quality (Gopher-style filter battery) and character
# entropy — §2.12 text-analysis extensions. Both are pure higher-order
# array expressions fused into the documents scan: zero shuffles, zero
# UDFs, so at 100 TB they run at scan speed and Catalyst prunes to the
# two columns they read.
# ---------------------------------------------------------------------------

_G_MIN_WORDS = 30
_G_MAX_WORDS = 100_000
_G_MIN_MEAN_LEN = 3.0
_G_MAX_MEAN_LEN = 10.0
_G_MAX_SYMBOL_FRAC = 0.10
_G_MIN_ALPHA_FRAC = 0.80
_G_MIN_STOPWORDS = 2
_G_MAX_DUP_FRAC = 0.50
_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE length(trim(text)) > 0
    ), sig AS (
        SELECT doc_id,
               len(w) AS n_words,
               CAST(list_aggregate(list_transform(w, t -> length(t)), 'sum') AS DOUBLE)
                   / len(w) AS mean_len,
               CAST(len(list_filter(w, t -> regexp_matches(t, '[^A-Za-z0-9]'))) AS DOUBLE)
                   / len(w) AS symbol_frac,
               CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                   / len(w) AS alpha_frac,
               len(list_distinct(list_filter(w, t -> lower(t) IN ({_STOP_SQL}))))
                   AS n_stop,
               1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_frac
        FROM toks
    )
    SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS} AS rule_word_count,
           mean_len >= {_G_MIN_MEAN_LEN} AND mean_len <= {_G_MAX_MEAN_LEN}
               AS rule_mean_word_len,
           symbol_frac <= {_G_MAX_SYMBOL_FRAC} AS rule_symbol_ratio,
           alpha_frac >= {_G_MIN_ALPHA_FRAC} AS rule_alpha_words,
           n_stop >= {_G_MIN_STOPWORDS} AS rule_stopwords,
           dup_frac <= {_G_MAX_DUP_FRAC} AS rule_repetition,
           (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
             AND mean_len >= {_G_MIN_MEAN_LEN} AND mean_len <= {_G_MAX_MEAN_LEN}
             AND symbol_frac <= {_G_MAX_SYMBOL_FRAC}
             AND alpha_frac >= {_G_MIN_ALPHA_FRAC}
             AND n_stop >= {_G_MIN_STOPWORDS}
             AND dup_frac <= {_G_MAX_DUP_FRAC} AS passes
    FROM sig
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule battery (Rae et al. 2021 §A1.1, adapted to the
    corpus shape): word-count bounds, mean word length 3–10, symbol-word
    fraction, alphabetic-word fraction, >=2 distinct stopwords,
    duplicate-word fraction. Emits per-rule booleans plus the AND —
    pipelines keep the flags so rejected docs are attributable by rule.
    Every signal is an exact integer ratio (int sums / int counts), so
    the rule comparisons are reproducible bit-for-bit across engines."""
    d = fan_out_scan(load_tables(spark, sf_dir, "documents")["documents"])
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    w = F.split(F.trim(F.col("text")), r"\s+")
    sig = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.size(w).alias("n_words"),
        (
            F.aggregate(
                F.transform(w, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
            ).cast("double")
            / F.size(w)
        ).alias("mean_len"),
        (
            F.size(F.filter(w, lambda t: t.rlike("[^A-Za-z0-9]"))).cast("double")
            / F.size(w)
        ).alias("symbol_frac"),
        (
            F.size(F.filter(w, lambda t: t.rlike("[A-Za-z]"))).cast("double")
            / F.size(w)
        ).alias("alpha_frac"),
        F.size(
            F.array_distinct(
                F.filter(w, lambda t: F.array_contains(stop_arr, F.lower(t)))
            )
        ).alias("n_stop"),
        (1.0 - F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias(
            "dup_frac"
        ),
    )
    rules = {
        "rule_word_count": F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS),
        "rule_mean_word_len": (F.col("mean_len") >= _G_MIN_MEAN_LEN)
        & (F.col("mean_len") <= _G_MAX_MEAN_LEN),
        "rule_symbol_ratio": F.col("symbol_frac") <= _G_MAX_SYMBOL_FRAC,
        "rule_alpha_words": F.col("alpha_frac") >= _G_MIN_ALPHA_FRAC,
        "rule_stopwords": F.col("n_stop") >= _G_MIN_STOPWORDS,
        "rule_repetition": F.col("dup_frac") <= _G_MAX_DUP_FRAC,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return sig.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        *[c.alias(n) for n, c in rules.items()],
        passes.alias("passes"),
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id,
               regexp_split_to_array(lower(regexp_replace(text, '\\s+', '', 'g')), '')
                   AS cs
        FROM documents WHERE length(trim(text)) > 0
    ), sig AS (
        SELECT doc_id, cs, len(cs) AS n,
               list_transform(list_sort(list_distinct(cs)),
                              c -> len(list_filter(cs, x -> x = c))) AS counts
        FROM chars WHERE len(cs) > 0
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_chars_nospace,
           CAST(len(counts) AS INTEGER) AS n_distinct_chars,
           round(-list_aggregate(list_transform(counts,
                 c -> (c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 'sum'),
                 4) AS entropy,
           round(CAST(list_max(counts) AS DOUBLE) / n, 6) AS top_char_frac
    FROM sig
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram entropy + top-character concentration — the
    gibberish/keyboard-mash/low-diversity spam signal that complements
    the word-level rules. Distinct chars are SORTED before the entropy
    fold so the floating accumulation order is pinned across engines
    (first-occurrence order would differ). O(distinct × len) comparisons
    per row, all inside the scan — distinct is ~tens for real text."""
    d = fan_out_scan(load_tables(spark, sf_dir, "documents")["documents"])
    cs = F.array_remove(
        F.split(F.lower(F.regexp_replace(F.col("text"), r"\s+", "")), ""), ""
    )
    sig = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", cs.alias("cs"))
        .where(F.size("cs") > 0)
        .select(
            "doc_id",
            F.size("cs").alias("n"),
            F.transform(
                F.array_sort(F.array_distinct("cs")),
                lambda c: F.size(F.filter("cs", lambda x: x == c)),
            ).alias("counts"),
        )
    )
    n = F.col("n").cast("double")
    return sig.select(
        "doc_id",
        F.col("n").cast("int").alias("n_chars_nospace"),
        F.size("counts").cast("int").alias("n_distinct_chars"),
        F.round(
            -F.aggregate(
                F.transform("counts", lambda c: (c / n) * F.log2(c / n)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("entropy"),
        F.round(F.array_max("counts").cast("double") / n, 6).alias("top_char_frac"),
    )


# --- compression-ratio quality signal (round 8, session 3) ------------------
#
# The cheapest content-agnostic quality signal real curation pipelines
# run (Gopher/RefinedWeb lineage): zlib-compressibility.  Machine
# boilerplate and keyword-stuffed spam compress far below natural prose;
# encrypted/binary junk barely compresses at all.  zlib is CPU-bound C
# inside an Arrow batch — the sanctioned Python lane — and DEFLATE
# output for a fixed (level, strategy) is deterministic for a given
# zlib build, which is exactly the scope the golden needs: the oracle
# VALUES are computed at import time BY THE SAME stdlib zlib over the
# SAME composed inputs, so the lane attests the whole Spark path
# (scan -> class distinct -> literal compose -> Arrow batch -> ints).

_COMPRESS_LEVEL = 6


def compression_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib-compressibility: utf-8 byte count, compressed
    byte count, and ratio in basis points (floor(c * 10000 / n) — pure
    integer arithmetic, no float boundary).  NULL/empty text yields no
    row (nothing to compress).  One zero-shuffle mapInPandas stage;
    ~100 MB/s/core of zlib level 6 — bounded, per-row, 100 TB-safe."""
    import pandas as pd
    import zlib

    def score(batches):
        for pdf in batches:
            out = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or len(t) == 0:
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, _COMPRESS_LEVEL)
                out.append((i, len(raw), len(comp), len(comp) * 10000 // len(raw)))
            if out:
                yield pd.DataFrame(
                    out, columns=[id_col, "n_bytes", "n_compressed", "ratio_bp"]
                )

    return df.select(id_col, text_col).mapInPandas(
        score,
        schema=f"{id_col} bigint, n_bytes int, n_compressed int, ratio_bp int",
    )


def _md5_chain(seed: str, steps: int) -> list[str]:
    """Deterministic hex chain h1=md5(seed), h_k=md5(h_{k-1}) — an
    incompressible-ish text both sides rebuild from hashlib/F.md5."""
    import hashlib

    out, h = [], seed
    for _ in range(steps):
        h = hashlib.md5(h.encode()).hexdigest()
        out.append(h)
    return out


# Four composition classes spanning the compressibility spectrum; text
# depends ONLY on the class id, so the distinct class rows — and the
# golden — are identical at every sf.
_CR_TEXTS = [
    "spark row " * 120,                                   # boilerplate
    ("the quick brown fox jumps over the lazy dog while "
     "a slow yellow crab walks under the busy green pier "
     "and the tired old owl watches the calm wide river ") * 8,
    " ".join(_md5_chain("tcdb-cr-seed", 48)),             # hex noise
    ("spark row " * 60) + " ".join(_md5_chain("tcdb-cr-mix", 24)),
]


def _cr_golden_rows() -> list[tuple[int, int, int, int]]:
    import zlib

    rows = []
    for cls, t in enumerate(_CR_TEXTS):
        raw = t.encode("utf-8")
        comp = zlib.compress(raw, _COMPRESS_LEVEL)
        rows.append((cls, len(raw), len(comp), len(comp) * 10000 // len(raw)))
    return rows


_CR_ORACLE = (
    """
    WITH cls AS (SELECT DISTINCT CAST(doc_id % 4 AS INTEGER) AS cls FROM documents),
    golden(cls, n_bytes, n_compressed, ratio_bp) AS (VALUES
    """
    + ",\n        ".join(
        f"({c}, {n}, {z}, {bp})" for c, n, z, bp in _cr_golden_rows()
    )
    + """
    )
    SELECT g.cls, CAST(g.n_bytes AS INTEGER) AS n_bytes,
           CAST(g.n_compressed AS INTEGER) AS n_compressed,
           CAST(g.ratio_bp AS INTEGER) AS ratio_bp
    FROM cls JOIN golden g USING (cls)
    """
)


@register("text_compression_ratio", oracle=_CR_ORACLE)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compressibility quality signal, golden-attested end to end
    (section comment above): four composition classes keyed by
    doc_id % 4 span boilerplate -> prose -> hex noise -> mixed; the
    engine composes each class's text with column expressions, runs the
    real Arrow zlib stage, and must reproduce the import-time stdlib
    golden byte-for-byte.  Production use is
    :func:`compression_signals` over the raw text column plus a
    ratio-band filter (quality gates live with the caller — see
    tests/test_text_quality.py ordering pin)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    cls = d.select(
        (F.col("doc_id") % 4).cast("int").alias("cls")
    ).distinct()
    texts = F.array(*[F.lit(t) for t in _CR_TEXTS])
    composed = cls.select(
        F.col("cls").cast("bigint").alias("cls"),
        F.element_at(texts, F.col("cls") + 1).alias("text"),
    )
    out = compression_signals(composed, id_col="cls")
    return out.select(F.col("cls").cast("int"), "n_bytes", "n_compressed", "ratio_bp")


# --- unicode NFC normalization + scrub (round 8, session 3) -----------------
#
# Standard first-mile text cleanup (C4/RefinedWeb do a variant): NFC so
# byte-level dedup hashes don't split on composed-vs-decomposed forms,
# C0-control strip, and a U+FFFD (replacement char) count as the
# mojibake signal.  Cross-engine NFC is attestable: DuckDB ships
# utf8proc's nfc_normalize and Python's unicodedata implements the same
# Unicode algorithm — agreement on composition, combining-mark
# reordering, and hangul-jamo cases is pinned by the lane (planted
# compositions; the driver corpus is ASCII, which would attest only the
# identity path).

_NFC_TEXTS = [
    "café du marché",          # decomposed acute -> composed
    "café du marché",            # already NFC (identity)
    "ṩ mark ordering",         # dot-below+above -> ṩ
    "각 hangul jamo",      # jamo -> syllable 각
    "Å ring plus ﬁ ligature",   # -> Å; NFC keeps the ligature
    "plain ascii stays put",
]


def unicode_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """NFC-normalize, strip C0 controls (keeping tab/newline/CR), and
    count U+FFFD replacement chars: (id, text_nfc, changed,
    n_replacement).  One zero-shuffle Arrow stage (Spark has no native
    unicode normalizer; unicodedata is the stdlib implementation of
    the same Unicode algorithm utf8proc/ICU implement).  Rows with
    NULL text pass through with NULL outputs so callers keep row
    provenance."""
    import re
    import unicodedata

    import pandas as pd

    _ctl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")

    def scrub(batches):
        for pdf in batches:
            ids, texts, changed, nrepl = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(i)
                if t is None:
                    texts.append(None)
                    changed.append(None)
                    nrepl.append(None)
                    continue
                clean = _ctl.sub("", unicodedata.normalize("NFC", t))
                texts.append(clean)
                changed.append(clean != t)
                nrepl.append(clean.count("�"))
            yield pd.DataFrame(
                {id_col: ids, "text_nfc": texts, "changed": changed,
                 "n_replacement": nrepl}
            )

    return df.select(id_col, text_col).mapInPandas(
        scrub,
        schema=f"{id_col} bigint, text_nfc string, changed boolean, n_replacement int",
    )


_NFC_ORACLE = (
    """
    WITH cls AS (SELECT DISTINCT CAST(doc_id % 6 AS INTEGER) AS cls FROM documents),
    raw(cls, t) AS (VALUES
        """
    + ",\n        ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in enumerate(_NFC_TEXTS)
    )
    + """
    )
    SELECT r.cls,
           nfc_normalize(r.t) AS text_nfc,
           CAST(nfc_normalize(r.t) <> r.t AS BOOLEAN) AS changed,
           CAST(length(nfc_normalize(r.t)) AS INTEGER) AS n_cp
    FROM cls JOIN raw r USING (cls)
    """
)


@register("text_unicode_nfc", oracle=_NFC_ORACLE)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine NFC attestation (section comment above): six
    composition classes keyed by doc_id % 6 — decomposed accents,
    precomposed identity, combining-mark reordering, hangul jamo,
    ring+ligature, plain ascii — normalized by the engine's Arrow
    unicodedata stage must equal DuckDB's utf8proc ``nfc_normalize``
    STRING-for-string (not just hash): two independent implementations
    of the Unicode normalization algorithm agreeing is the attestation.
    Codepoint counts ride along (both engines count codepoints for
    BMP text).  Production entry is :func:`unicode_scrub`, which adds
    the control-strip + mojibake count the oracle can't mirror
    (regex class semantics differ; pytest-pinned instead)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    cls = d.select((F.col("doc_id") % 6).cast("int").alias("cls")).distinct()
    texts = F.array(*[F.lit(t) for t in _NFC_TEXTS])
    composed = cls.select(
        F.col("cls").cast("bigint").alias("cls"),
        F.element_at(texts, F.col("cls") + 1).alias("text"),
    )
    out = unicode_scrub(composed, id_col="cls")
    return out.select(
        F.col("cls").cast("int"),
        "text_nfc",
        "changed",
        F.length("text_nfc").cast("int").alias("n_cp"),
    )

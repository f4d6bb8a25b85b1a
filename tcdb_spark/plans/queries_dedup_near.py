"""Near-duplicate detection operators over ``documents``/``embeddings``
(SURVEY.md §2.12 ``dedup-near``): MinHash-LSH, n-gram Jaccard, SimHash,
embedding-cosine. All hashing is md5-based so DuckDB oracles reproduce the
Spark results bit-for-bit; the raw synthetic corpus has no near-dups, so
each query first plants deterministic perturbed copies (same derivation on
both sides) and must then FIND exactly those pairs — a functional test of
the detector, not just of hashing.

Scale notes: every detector here is the standard inverted-index /
band-bucket shape — shingle/band explode, shuffle on the (rare) key,
pair aggregation. No O(n^2) all-pairs anywhere except the sampled
embedding query, which is label-partitioned and subsampled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.plans.catalog import load_tables, register

from tcdb_spark.operators.textdedup import (  # noqa: E402
    N_BANDS,
    N_HASHES,
    SHINGLE,
    shingles as _shingles,
    tokens as _tokens,
)

# --- shared corpus construction (documents + planted near-dups) -----------

_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' zz yy xx' AS text
    FROM documents WHERE doc_id % 10 = 0
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    dups = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
        )
    )
    return d.select("doc_id", "text").unionByName(dups)


# _tokens/_shingles/_shingle_hashes/_minhash now live in
# operators/textdedup.py (shared with the incremental LSH index path);
# the DuckDB oracle strings below mirror them exactly.


_SHINGLES_SQL = (
    "list_transform(range(1, len(tokens) - {m}), i -> "
    + " || ' ' || ".join(f"tokens[i+{k}]" for k in range(SHINGLE))
    + ")"
).format(m=SHINGLE - 2)
# range(1, L - (SHINGLE-2)) is end-exclusive -> i in [1, L-SHINGLE+1]


_SHINGLE_HASHES_SQL = "list_transform(shingles, s -> md5(s) || md5('x' || s))"


def _minhash_sql(j: int) -> str:
    return f"list_min(list_transform(hashes, h -> substring(h, {1 + 8 * j}, 8)))"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM corpus
    ), sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), hs AS (
        SELECT doc_id, {_SHINGLE_HASHES_SQL} AS hashes FROM sh
    ), sigs AS (
        SELECT doc_id,
               {", ".join(f"{_minhash_sql(j)} AS mh{j}" for j in range(N_HASHES))}
        FROM hs
    ), bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, mh{2*b} || mh{2*b+1} AS band_key FROM sigs"
            for b in range(N_BANDS)
        )}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: shingle -> 8 minhashes -> 4 band keys ->
    bucket self-join. Candidate pairs = docs sharing any band. The planted
    tail-append dups share most shingles, so >=1 band collides; unrelated
    random docs share none."""
    corpus = _corpus(spark, sf_dir)
    # The shingle->md5->minhash->band pipeline is assembled as SQL
    # strings parsed server-side (selectExpr): the Column-object version
    # cost ~0.3 s of py4j round-trips per call, and this lane is built
    # three times per catalog pass (dedup_clusters and
    # split_leakage_check compose it).  All values are hex STRINGS /
    # integers — no float-order hazard (same rewrite as psi_from_counts;
    # semantics identical to operators/textdedup.shingles/minhash).
    shingle_cat = ", ".join(f"element_at(tokens, i + {k})" for k in range(SHINGLE))
    toks = corpus.selectExpr(
        "doc_id", "split(trim(text), '\\\\s+') AS tokens"
    ).where(F.size("tokens") >= SHINGLE)
    hs = toks.selectExpr(
        "doc_id",
        f"transform(transform(sequence(1, size(tokens) - {SHINGLE - 1}), "
        f"i -> concat_ws(' ', {shingle_cat})), "
        "s -> concat(md5(cast(s AS binary)), "
        "md5(cast(concat('x', s) AS binary)))) AS hashes",
    )
    sigs = hs.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(hashes, h -> substring(h, {1 + 8 * j}, 8))) AS mh{j}"
            for j in range(N_HASHES)
        ],
    ).persist()  # barrier: the band explode + self-join must not re-inline the md5 pipeline
    # ONE pass: explode the 4 band keys per doc (a union of selects would
    # recompute the md5 pipeline once per band), then persist so the
    # self-join's two branches don't each recompute the signatures.
    band_arr = ", ".join(
        f"named_struct('band', {b}, 'band_key', concat(mh{2 * b}, mh{2 * b + 1}))"
        for b in range(N_BANDS)
    )
    bands = (
        sigs.selectExpr("doc_id", f"explode(array({band_arr})) AS bk")
        .selectExpr("doc_id", "bk.band AS band", "bk.band_key AS band_key")
        .persist()
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


NGRAM_DF_CAP = 50  # drop shingles present in more docs than this


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM corpus
    ), sh AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), inv0 AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), hot AS (
        SELECT shingle FROM inv0 GROUP BY shingle HAVING count(*) > {NGRAM_DF_CAP}
    ), kept AS (
        SELECT doc_id, shingle FROM inv0
        WHERE shingle NOT IN (SELECT shingle FROM hot)
    ), inv AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM kept
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_inter,
               any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 4) AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over an inverted shingle index: explode
    distinct shingles, drop hot shingles (document frequency >
    ``NGRAM_DF_CAP`` — boilerplate carries no signal and makes the
    self-join quadratic on the hot key at crawl scale), self-join on the
    remaining rare keys, count the intersection per pair,
    |union| = na + nb - inter over the capped sets. Threshold 0.7."""
    from pyspark.sql.window import Window as W

    from tcdb_spark.operators.textdedup import drop_hot_keys

    corpus = _corpus(spark, sf_dir)
    toks = corpus.select("doc_id", _tokens(F.col("text")).alias("tokens")).where(
        F.size("tokens") >= SHINGLE
    )
    # persist the shingle arrays BEFORE exploding: projection collapse
    # would otherwise re-inline the whole shingling into the Generate and
    # recompute it per exploded row (and again per self-join branch)
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles("tokens")).alias("shingles")
    ).persist()
    kept = drop_hot_keys(
        sh.select("doc_id", F.explode("shingles").alias("shingle")),
        "shingle",
        NGRAM_DF_CAP,
    )
    # |capped shingle set| per doc, so jaccard is exact over what joined.
    # persist: this subtree (explode -> df agg -> anti-join -> window)
    # feeds BOTH self-join branches and would compute twice (DEVNOTES #13)
    inv = kept.withColumn(
        "n_sh", F.count(F.lit(1)).over(W.partitionBy("doc_id"))
    ).persist()
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            # n_sh is constant per doc, so min == the value; min is the
            # ORDER-FREE read (any_value is partition-order-dependent
            # under task retry — round-8 determinism lint)
            F.min(F.col("a.n_sh")).alias("na"),
            F.min(F.col("b.n_sh")).alias("nb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return inter.where(jac >= 0.7).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


@register(
    "shingle_df_profile",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM corpus
    ), sh AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), inv AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), dfs AS (
        SELECT shingle, count(*) AS df FROM inv GROUP BY shingle
    )
    SELECT CAST(df AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS n_shingles
    FROM dfs GROUP BY df
    """,
)
def shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of the dedup shingle index: for each
    df value, how many distinct shingles occur in exactly that many
    docs.  The pre-dedup audit that makes ``NGRAM_DF_CAP`` (and every
    other df-cap) tunable with evidence instead of folklore: the r8
    100x-replication probe showed that a corpus whose true duplication
    multiplicity exceeds a CONSTANT cap silently empties the exact
    n-gram index (every shingle's df multiplies by the clone count, all
    shingles read as boilerplate, zero candidate pairs) — one cheap
    groupBy over the index answers "where does boilerplate actually
    start in THIS corpus" before any cap is trusted.  Two bounded
    shuffles (shingle agg, df agg); output is at most max-df rows.
    OPERATIONS.md "Caps at 100x" documents the decision rule."""
    corpus = _corpus(spark, sf_dir)
    toks = corpus.select("doc_id", _tokens(F.col("text")).alias("tokens")).where(
        F.size("tokens") >= SHINGLE
    )
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles("tokens")).alias("shingles")
    )
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    dfs = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return dfs.groupBy("df").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    ).select(F.col("df").cast("bigint").alias("df"), "n_shingles")


N_SIMHASH_BITS = 16
_HEXES = "0123456789abcdef"


def _bit_expr_sql(b: int) -> str:
    return (
        f"(((strpos('{_HEXES}', substring(h, {1 + b // 4}, 1)) - 1) >> {3 - b % 4}) & 1)"
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tokens
        FROM corpus WHERE length(trim(text)) > 0
    ), hashed AS (
        SELECT doc_id, list_transform(tokens, t -> md5(t)) AS hashes FROM toks
    ), bits AS (
        SELECT doc_id,
            {", ".join(
                f"list_sum(list_transform(hashes, h -> 2 * {_bit_expr_sql(b)} - 1)) AS s{b}"
                for b in range(N_SIMHASH_BITS)
            )}
        FROM hashed
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(N_SIMHASH_BITS))}
                AS BIGINT) AS simhash
    FROM bits
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: per bit, sum +/-1 votes from
    each token's md5 bit; the sign gives the fingerprint bit. Hamming-near
    docs get equal/close fingerprints (the planted dups differ in <=3
    tokens out of ~100, so their votes rarely flip a bit)."""
    corpus = _corpus(spark, sf_dir)
    toks = corpus.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("tokens")
    )
    # explode + plain sum aggregates instead of higher-order array folds:
    # HOF lambdas are interpreted per element (no codegen), which made the
    # fold version ~3x slower; this shape is whole-stage-codegen end to end
    # with map-side partial aggregation on doc_id.
    exploded = toks.select("doc_id", F.explode("tokens").alias("token"))
    # dictionary trick: hash each DISTINCT token once, precompute its 16
    # ±1 votes, broadcast-join back — md5 runs |vocab| times instead of
    # |doc,token| times, and the per-row work is a codegen'd hash lookup.
    # the vote/sum/fingerprint loops are assembled as SQL strings parsed
    # server-side (selectExpr/F.expr): composing the ~250 Column objects
    # in Python measured ~0.4 s of py4j round-trips per call; all values
    # here are INTEGER so the expression shape carries no float-order
    # hazard (same rewrite as psi_from_counts)
    nib = [
        f"(instr('{_HEXES}', substring(md5(cast(token AS binary)), {p + 1}, 1)) - 1)"
        for p in range(4)
    ]
    token_votes = exploded.select("token").distinct().selectExpr(
        "token",
        *[
            f"(2 * (shiftright({nib[b // 4]}, {3 - b % 4}) & 1) - 1) AS v{b}"
            for b in range(N_SIMHASH_BITS)
        ],
    )
    sums = (
        exploded.join(F.broadcast(token_votes), on="token")
        .groupBy("doc_id")
        .agg(*[F.expr(f"sum(v{b})").alias(f"s{b}") for b in range(N_SIMHASH_BITS)])
    )
    fingerprint = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END) * {1 << b}"
        for b in range(N_SIMHASH_BITS)
    )
    return sums.selectExpr("doc_id", f"CAST({fingerprint} AS BIGINT) AS simhash")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH sampled AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id % 17 = 0
        UNION ALL
        SELECT vec_id + 10000000 AS vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS emb
        FROM embeddings WHERE vec_id % 51 = 0
    ), pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM sampled a JOIN sampled b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: label-partitioned sampled pairs with cosine >=
    0.99 — finds exactly the planted scaled clones (scaling preserves
    cosine). The label equi-join keeps the pair space partitioned; the
    full-scale path is the LSH-bucketed variant (queries_sim.lsh_bucket_ann)."""
    from tcdb_spark.operators.similarity import _dot, _norm

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    base = e.where(F.col("vec_id") % 17 == 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    clones = e.where(F.col("vec_id") % 51 == 0).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        "label",
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 2.0).alias("emb"),
    )
    # norms once per row before the self-join: one fold per pair after
    sampled = base.unionByName(clones).withColumn("nrm", _norm(F.col("emb")))
    a, b = sampled.alias("a"), sampled.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (_dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))).alias(
            "cos"
        ),
    )
    return pairs.where(F.col("cos") >= 0.99).select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cosine")
    )


@register(
    "semantic_dedup",
    oracle="""
    WITH universe AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        UNION ALL
        SELECT vec_id + 20000000 AS vec_id,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 3.0) AS emb
        FROM embeddings WHERE vec_id % 29 = 0
    ), pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM universe a JOIN universe b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.99
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (arXiv:2303.09540) over
    embeddings + planted scaled clones: spherical-KMeans cells bound the
    candidate space, exact cosine verifies every pair (precision 1.0 by
    construction; operators/similarity.semantic_dedup_pairs).

    The DuckDB oracle is the BRUTE-FORCE all-pairs ground truth — the
    driver gate therefore checks recall == 1.0 on this corpus, not just
    plausibility (multi-probe cell assignment keeps genuinely-near pairs
    co-celled; the all-pairs oracle is feasible only at oracle scale).
    """
    from tcdb_spark.operators.similarity import semantic_dedup_pairs

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    clones = e.where(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 20000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 3.0).alias("emb"),
    )
    universe = base.unionByName(clones)
    pairs = semantic_dedup_pairs(universe, tau=0.99, k_centroids=8, seed=42, probe=2)
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


_PPJ_T = 0.7  # Jaccard threshold shared by the lane and its oracle

# The ORACLE is the BRUTE-FORCE inverted self-join (every shingle
# indexed, no prefix filter, no df cap) — so the hash match proves the
# prefix filter on the Spark side loses NO qualifying pair, which is
# exactly the PPJoin completeness theorem being attested cross-engine.
_PPJ_ORACLE = f"""
    WITH corpus AS ({{corpus}}),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM corpus
    ), sh AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), inv AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_inter,
               any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 4) AS jaccard
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= {_PPJ_T}
    """.format(corpus=_CORPUS_SQL)


@register("jaccard_prefix_join", oracle=_PPJ_ORACLE)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact threshold-Jaccard self-join with PREFIX FILTERING
    (Chaudhuri et al. ICDE'06 / PPJoin, Xiao et al. WWW'08): order each
    doc's shingles by ascending document frequency (rarest first,
    shingle text as the deterministic tiebreak — the canonical global
    order), index only each doc's first ``n - ceil(t*n) + 1`` shingles,
    and self-join on that prefix index.  The theorem: two sets with
    Jaccard >= t MUST share a prefix element under any common global
    order, so the candidate set is complete — and the DuckDB oracle
    attests exactly that by brute-forcing the FULL inverted join (no
    prefix) and hash-matching the result.

    Why this beats the df-cap at 100 TB: with t=0.7 only ~30% of each
    doc's shingles enter the index, and because the prefix keeps the
    RAREST shingles the indexed keys are precisely the ones with tiny
    document frequency — the quadratic hot-key pair blowup the cap
    fights never materializes, without changing the measured set.
    Candidates verify with one bounded join back to the full shingle
    arrays (exact intersection, no approximation anywhere).

    Plan: df via a shingle-partitioned window on the exploded index,
    per-doc rank via a doc-partitioned window (both partitioned — no
    global sort); the prefix explode-join is the only pair-shaped
    shuffle.  Core plan: operators/textdedup.prefix_jaccard_pairs
    (shared with the scale smoke)."""
    from tcdb_spark.operators.textdedup import prefix_jaccard_pairs

    corpus = _corpus(spark, sf_dir)
    toks = corpus.select("doc_id", _tokens(F.col("text")).alias("tokens")).where(
        F.size("tokens") >= SHINGLE
    )
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles("tokens")).alias("shingles")
    )
    return prefix_jaccard_pairs(sh, _PPJ_T)


_CONT_T = 0.5  # containment threshold: half the eval doc appears in train

_CONT_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), inv AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
    ), pairs AS (
        SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
               CAST(count(*) AS BIGINT) AS n_inter,
               any_value(e.n_sh) AS n_eval
        FROM inv e JOIN inv t ON e.shingle = t.shingle
        WHERE e.doc_id % 2 = 1 AND t.doc_id % 2 = 0
        GROUP BY 1, 2
    )
    SELECT eval_doc, train_doc,
           round(CAST(n_inter AS DOUBLE) / n_eval, 4) AS containment
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / n_eval >= {_CONT_T}
    """


@register("containment_join", oracle=_CONT_ORACLE)
def containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT join — |eval ∩ train| / |eval| >= t, the
    benchmark-decontamination metric ("how much of this eval doc appears
    in some training doc"), where symmetric Jaccard under-fires because
    a 100-token eval question swallowed by a 10k-token web page has
    tiny Jaccard but total containment.

    Prefix filtering adapts asymmetrically (Chaudhuri ICDE'06): only
    the PROBE (eval) side can be pruned — an eval doc with containment
    >= t must expose one of its ``n - ceil(t*n) + 1`` rarest shingles
    to the index — while the train side stays fully inverted (the index
    a retrieval system maintains anyway).  At 100 TB the eval side is
    thousands of benchmark docs against billions of train docs: the
    equi-join cost is O(|eval-prefix| x collisions), and the train-side
    index is reused across every benchmark sweep.  The DuckDB oracle
    brute-forces the full join (no prefix) — the hash match attests the
    asymmetric completeness theorem.  Verification joins candidates
    back to the exact shingle arrays; evens are train, odds are eval
    (the split convention of the winnow lanes).  Core plan:
    operators/textdedup.containment_pairs (shared with the scale
    smoke); global df spans BOTH sides — any common order satisfies
    the theorem, df makes the prefix keys the rare ones."""
    from tcdb_spark.operators.textdedup import containment_pairs

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select("doc_id", _tokens(F.col("text")).alias("tokens")).where(
        F.size("tokens") >= SHINGLE
    )
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles("tokens")).alias("shingles")
    )
    return containment_pairs(
        sh, _CONT_T, lambda d: d % 2 == 1, lambda d: d % 2 == 0
    )


@register(
    "cross_source_overlap",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zz yy xx' AS text, source
        FROM documents WHERE doc_id % 10 = 0
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
        FROM corpus
    ), sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles
        FROM toks WHERE len(tokens) >= {SHINGLE}
    ), hs AS (
        SELECT doc_id, {_SHINGLE_HASHES_SQL} AS hashes FROM sh
    ), sigs AS (
        SELECT doc_id,
               {", ".join(f"{_minhash_sql(j)} AS mh{j}" for j in range(N_HASHES))}
        FROM hs
    ), bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, mh{2 * b} || mh{2 * b + 1} AS band_key FROM sigs"
            for b in range(N_BANDS)
        )}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT least(ca.source, cb.source) AS source_a,
           greatest(ca.source, cb.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN corpus ca ON ca.doc_id = p.doc_a
    JOIN corpus cb ON cb.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source near-duplication matrix: which corpus sources
    copy from which — the provenance report every multi-source
    pretraining mix needs BEFORE choosing per-source weights (a source
    that is 40% mirrored by another contributes far less novel text
    than its row count claims).

    Composes the shared MinHash-LSH core (operators/textdedup
    .lsh_band_index: same shingle->minhash->band pipeline the
    dedup_minhash_lsh oracle attests) with the doc->source dimension:
    candidate pairs come from the band-bucket equi-join (never
    all-pairs), the source labels join back onto the BOUNDED pair set
    (two hash joins on doc_id), and the matrix is one tiny aggregate —
    #sources^2 rows regardless of corpus size.  Pair canonicalization
    by least/greatest(source) folds both directions of a pair into one
    cell."""
    from tcdb_spark.operators.textdedup import lsh_band_index

    d = load_tables(spark, sf_dir, "documents")["documents"]
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
        "source",
    )
    corpus = d.select("doc_id", "text", "source").unionByName(dups).persist()
    bands = lsh_band_index(corpus).persist()
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    src = corpus.select("doc_id", "source")
    return (
        pairs.join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )

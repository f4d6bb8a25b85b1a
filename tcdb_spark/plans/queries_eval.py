"""Retrieval- and classifier-evaluation operators over ``embeddings``
(SURVEY.md §2.12 extension family; evaluation twins of the ranking and
similarity lanes the way ``lang_id_confusion`` audits ``text_lang_id``).

A training-data pipeline never ships a retrieval index or a quality
probe without measuring it: MRR / nDCG@k against relevance judgments is
how the ANN and hybrid-ranking lanes get a quality number, and a
reliability diagram (per-bin positive rate vs score) is how a
quality-classifier score earns the right to gate documents.  The
reference has no evaluation surface (its "checks" are freshness gates)
— these generalize it the way psi_drift generalizes freshness.

Cross-engine float discipline (DEVNOTES #23/#43): every metric is either
integer arithmetic (counts, exact single divisions) or a FIXED-ORDER
literal sum over at most k=10 terms (the DCG/IDCG ladders) — no
unordered float SUM rides into an unrounded comparison; the one
unordered mean (the class centroid) feeds only round(6)-protected
outputs and a bin id computed from the ROUNDED score, so both engines
bin the identical value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.operators.evalmetrics import (
    MRR_EXPR as _MRR,
    calibration,
    dcg_ladder,
    idcg_ladder,
    precision_expr,
    retrieval_eval,
)
from tcdb_spark.operators.similarity import _dot, _dot_sql, _norm
from tcdb_spark.plans.catalog import load_tables, register

N_QUERIES = 5   # vec_id < 5 are the probe queries (same as sim_topk_cosine)
TOP = 10        # metrics cutoff: P@10, MRR@10, nDCG@10
N_BINS = 16     # calibration bins over cosine in [-1, 1]
POS_LABELS = 5  # positive class = label < 5 (half the label space)

# Shared expression text, parsed by BOTH engines (identical AST, identical
# left-to-right float order).  log2() exists in Spark SQL and DuckDB; the
# discount ladder is a literal fixed-order sum, never an unordered SUM.
# Bare 1.0 literals parse as DECIMAL in BOTH engines (different scale
# rules) — every scalar in the metric expressions is CAST to DOUBLE so
# the arithmetic, and therefore the output dtype, is double end-to-end.
_DCG = dcg_ladder(TOP)
_IDCG = idcg_ladder(TOP)
_PREC = precision_expr(TOP)

_RETRIEVAL_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS q_label,
               CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), pairs AS (
        SELECT q.q_id,
               CASE WHEN b.label = q.q_label THEN 1 ELSE 0 END AS rel,
               b.vec_id,
               list_dot_product(q.q_emb, b.emb)
                 / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                    * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        FROM base b CROSS JOIN q
        WHERE b.vec_id <> q.q_id
    ), nrel AS (
        SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel FROM pairs GROUP BY q_id
    ), ranked AS (
        SELECT q_id, rel,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM pairs
        QUALIFY rnk <= {TOP}
    ), pivoted AS (
        SELECT q_id,
               {", ".join(f"coalesce(max(CASE WHEN rnk = {i} THEN rel END), 0) AS rel_{i}"
                          for i in range(1, TOP + 1))},
               min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
        FROM ranked GROUP BY q_id
    )
    SELECT p.q_id, n.n_rel,
           {_PREC} AS p_at_{TOP},
           round({_MRR}, 6) AS mrr,
           CASE WHEN n_rel = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(({_DCG}) / ({_IDCG}), 6) END AS ndcg_at_{TOP}
    FROM pivoted p JOIN nrel n ON n.q_id = p.q_id
    """


@register("retrieval_metrics", oracle=_RETRIEVAL_ORACLE)
def retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval quality — Precision@10, MRR and nDCG@10 — of
    the exact-cosine ranking against label-match relevance judgments
    (query vectors = vec_id < 5, relevant = same ``label``).  This is
    the measurement layer the ANN/hybrid lanes plug into: swap the
    exact ranking for ``sim_ann_lsh_pruned`` output and the same
    aggregation scores the index (recall gates in tests do exactly
    that comparison).

    Scale shape: identical to sim_topk_cosine's — the query set
    broadcasts, ONE scan over the base table computes relevance and
    cosine per candidate, the per-query window is bounded by the
    candidate set of that query, and everything after the top-10 pivot
    runs on #queries rows.  Metrics are integer counts, exact single
    divisions, and fixed-order DCG/IDCG ladders (module docstring), so
    no unordered float sum exists anywhere."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    base = e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", _norm(F.col("emb")))
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # one server-parsed expression for the scoring projection — the
    # Column/lambda form of the dot fold alone cost ~0.05 s of py4j
    # round-trips per build (round 8)
    pairs = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .selectExpr(
            "q_id",
            "CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel",
            "vec_id",
            f"{_dot_sql('q_emb', 'emb')} / (q_nrm * nrm) AS cos",
        )
    )
    return retrieval_eval(
        pairs, q_col="q_id", rel_col="rel", score_col="cos", id_col="vec_id", k=TOP
    )


_CAL_ORACLE = f"""
    WITH dims AS (
        SELECT generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE label < {POS_LABELS}
    ), cent AS (
        SELECT list(c ORDER BY i) AS cent
        FROM (SELECT i, avg(x) AS c FROM dims GROUP BY i)
    ), scored AS (
        SELECT CASE WHEN e.label < {POS_LABELS} THEN 1 ELSE 0 END AS pos,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cent)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(c.cent, c.cent))), 6) AS score
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT CAST(least(floor((score + 1.0) / {2.0 / N_BINS}), {N_BINS - 1}) AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS positives,
           round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate,
           round(avg(score), 6) AS mean_score
    FROM scored GROUP BY bin
    """


@register("calibration_bins", oracle=_CAL_ORACLE)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of a similarity-to-prototype score: cosine of
    every vector to the positive-class centroid (label < 5), binned into
    16 equal-width bins over [-1, 1], with per-bin count, positive count
    and observed positive rate.  A calibrated score has pos_rate rising
    monotonically with the bin — the audit run before any score
    thresholds documents (quality_percentile_cut's trust precondition).

    Scale shape: the centroid collapses FIRST (posexplode -> per-dim
    mean, output = d rows regardless of corpus size) and broadcasts
    back as ONE array row, so scoring is a single codegen fold per
    vector — no per-dimension shuffle of the corpus, no pairwise
    anything; the final aggregate is 16 integer-count rows.
    Cross-engine: the bin id is computed from the ROUND(6)ed score, so
    the one unordered mean (the centroid) can shift either engine's raw
    score only below the rounding grain and both engines bin the
    identical value (module docstring)."""
    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    dims = (
        e.where(F.col("label") < POS_LABELS)
        .select(F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"))
    )
    cent = (
        dims.groupBy("i")
        .agg(F.avg("x").alias("c"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("s"))
        .select(
            F.transform("s", lambda t: t["c"]).alias("cent"),
        )
        .withColumn("c_nrm", _norm(F.col("cent")))
    )
    scored = (
        e.select(
            F.when(F.col("label") < POS_LABELS, 1).otherwise(0).alias("pos"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        .withColumn("nrm", _norm(F.col("emb")))
        .crossJoin(F.broadcast(cent))
        .select(
            "pos",
            (_dot(F.col("emb"), F.col("cent")) / (F.col("nrm") * F.col("c_nrm"))).alias(
                "score"
            ),
        )
    )
    return calibration(scored, score_col="score", pos_col="pos", bins=N_BINS)

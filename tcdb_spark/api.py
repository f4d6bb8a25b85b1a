"""Engine facade — the one-stop user API for switching from the reference.

The reference's daily surface is: run the cron pipelines
(master_bdeck.sh / master_adeck.sh / master_maintnence.sh), query the
MySQL tables (db/*.sql), and assemble per-storm datasets
(StormDataset.fromStorm). The equivalents:

    eng = Engine(spark, "/data/warehouse")
    eng.ingest_bdeck("/landing/bdecks/")        # scan+merge (or .tick() streaming)
    eng.ingest_adeck("/landing/adecks/", ref_time=...)
    eng.maintain()                              # archive sweep + invest GC
    eng.table("storms").where(...)              # any table as a DataFrame
    eng.storm_tracks("AL092022", models=["OFCL"])
    eng.sql("SELECT ... FROM storms JOIN ...")  # ANSI SQL over the catalog
    eng.curate(docs_df)                         # corpus curation -> warehouse
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.sources.warehouse import Warehouse

TABLES = [
    "storms", "observations", "forecasts", "tracks", "steps", "ingest_ledger",
]


class Engine:
    def __init__(self, spark: SparkSession, warehouse_root: str):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)

    # --- ingest ----------------------------------------------------------

    def _run_id(self, kind: str) -> str:
        # run-id format of the reference (tcdb/etl/process_obs.py:23):
        # JOBTYPE__ISO_TS
        return f"{kind}__{dt.datetime.utcnow().isoformat(timespec='seconds')}"

    def ingest_bdeck(self, path: str, now=None) -> dict[str, int]:
        from tcdb_spark.jobs.bdeck import run_bdeck_job
        from tcdb_spark.sources.atcf import read_bdeck

        return run_bdeck_job(
            self.spark, read_bdeck(self.spark, path), self.warehouse,
            self._run_id("BDECK"), now=now,
        )

    def ingest_adeck(self, path: str, ref_time=None, backfill: bool = False) -> dict[str, int]:
        from tcdb_spark.jobs.adeck import run_adeck_job
        from tcdb_spark.sources.atcf import read_adeck

        return run_adeck_job(
            self.spark, read_adeck(self.spark, path), self.warehouse,
            self._run_id("ADECK"), ref_time=ref_time, backfill=backfill,
        )

    def tick(self, landing_dir: str, now=None) -> None:
        """One incremental streaming tick over a landing directory."""
        from tcdb_spark.streaming.pipeline import run_incremental

        run_incremental(self.spark, landing_dir, self.warehouse, now=now)

    def maintain(self, now=None) -> dict[str, int]:
        """The maintenance cron step: archive storms idle for more than a
        day, then delete invests idle for more than 30 days with their
        observations and tracks (jobs/maintenance.py). Each step commits
        only when it has rows to change. Returns {'archived': n,
        'removed_storms': n}."""
        from tcdb_spark.jobs.maintenance import remove_old_invests, update_active_systems

        archived = update_active_systems(
            self.spark, self.warehouse, self._run_id("MAINT"), now=now
        )
        removed = remove_old_invests(self.spark, self.warehouse, now=now)
        return {"archived": archived, **removed}

    # --- query -----------------------------------------------------------

    def table(self, name: str, raw: bool = False) -> DataFrame:
        """Read a warehouse table. Tables maintained by
        :meth:`apply_changes` carry soft-delete bookkeeping (``seq`` +
        ``__deleted``); by default those are read through the live-rows
        CDC view, so callers that never migrated to
        :meth:`read_changes_view` cannot silently see tombstoned keys
        (round-3 ADVICE). ``raw=True`` returns the physical rows,
        bookkeeping included."""
        df = self.warehouse.read(name)
        if not raw and "__deleted" in df.columns and "seq" in df.columns:
            from tcdb_spark.operators.merge import cdc_view

            return cdc_view(df)
        return df

    def register_views(self) -> None:
        """Expose every warehouse table to spark.sql (db/*.sql parity)."""
        for t in TABLES:
            if self.warehouse.exists(t):
                self.warehouse.read(t).createOrReplaceTempView(t)

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    def profile(self, name: str, columns: list[str] | None = None) -> DataFrame:
        """One-scan per-column stats for a warehouse table
        (operators/profile.py): nulls, exact distincts, typed min/max."""
        from tcdb_spark.operators.profile import profile_table

        return profile_table(self.warehouse.read(name), columns)

    def changes(self, name: str, v_old: int, v_new: int, keys=None) -> DataFrame:
        """Change data feed between two committed versions
        (Warehouse.diff): insert/update/delete per key."""
        return self.warehouse.diff(name, v_old, v_new, keys=keys)

    def storm_tracks(self, nhc_id: str | None = None, **kwargs) -> DataFrame:
        from tcdb_spark.datasets import storm_tracks

        return storm_tracks(self.warehouse, nhc_id=nhc_id, **kwargs)

    def storm_observations(self, nhc_id: str | None = None) -> DataFrame:
        from tcdb_spark.datasets import storm_observations

        return storm_observations(self.warehouse, nhc_id=nhc_id)

    def export(self, out_dir: str, tables: list[str] | None = None, fmt: str = "csv"):
        from tcdb_spark.sources.sinks import export_tables

        present = [t for t in (tables or TABLES) if self.warehouse.exists(t)]
        return export_tables(self.warehouse, out_dir, present, fmt=fmt)

    # --- similarity index -------------------------------------------------

    def build_ann_index(
        self, emb: DataFrame, table: str = "emb_ivf", k_centroids: int = 16
    ) -> int:
        """Train + persist the IVF index (bucket-partitioned warehouse
        table, centroids side table). Returns the committed version."""
        from tcdb_spark.operators.similarity import ivf_persist

        return ivf_persist(self.warehouse, table, emb, k_centroids=k_centroids)

    def ann_search(
        self, queries: DataFrame, table: str = "emb_ivf", k: int = 5, nprobe: int = 8
    ) -> DataFrame:
        """Top-k cosine search against the persisted index; unprobed
        cells prune at the directory level. ``queries``: (q_id, q_emb)."""
        from tcdb_spark.operators.similarity import ivf_search_persisted

        return ivf_search_persisted(self.warehouse, table, queries, k=k, nprobe=nprobe)

    # --- corpus curation --------------------------------------------------

    def curate(
        self,
        docs: DataFrame,
        table: str = "documents_curated",
        min_tokens: int = 5,
        span_w: int = 10,
    ) -> dict:
        """Operational LLM-corpus curation: exact dedup (content hash,
        keep-first) -> duplicated-SPAN scrub (operators/spans.py — cut
        shared passages doc-level dedup cannot see) -> drop docs that
        fall under ``min_tokens`` after surgery -> versioned warehouse
        write.  ``docs`` needs (doc_id, text [, ...]).  Returns
        accounting: docs in/out, spans cut, tokens removed, version.

        Every step is the catalog-checked plan (dedup_exact,
        span_dedup, span_scrub share the operators); this method only
        composes them and commits the result under the writer lock."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        from tcdb_spark.operators.spans import duplicated_spans

        n_in = docs.count()
        base = docs.where(F.length(F.trim(F.col("text"))) > 0)
        w_exact = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
        uniq = (
            base.withColumn("__rn", F.row_number().over(w_exact))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        toks = uniq.withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        spans = duplicated_spans(
            toks.where(F.size("tokens") >= span_w).select("doc_id", "tokens"),
            w=span_w,
        )
        sp = spans.groupBy("doc_id").agg(
            # consumed order-invariantly, sorted for retry-determinism
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("span_start").alias("s"), F.col("span_end").alias("e")
                    )
                )
            ).alias("sl"),
            F.sum("span_len").alias("__cut"),
        )
        joined = toks.join(sp, "doc_id", "left").withColumn(
            "sl", F.coalesce("sl", F.array().cast("array<struct<s:int,e:int>>"))
        )
        clean = F.filter(
            F.col("tokens"),
            lambda t, i: ~F.exists(
                F.col("sl"), lambda x: (i + 1 >= x["s"]) & (i + 1 <= x["e"])
            ),
        )
        curated = (
            joined.withColumn("text", F.concat_ws(" ", clean))
            .withColumn("n_tokens", F.size(clean))
            .where(F.col("n_tokens") >= min_tokens)
            .drop("tokens", "sl")
        )
        stats = {
            "docs_in": n_in,
            "docs_out": curated.count(),
            "docs_with_spans": sp.count(),
            "tokens_removed": (sp.agg(F.sum("__cut")).first()[0] or 0),
        }
        curated = curated.drop("__cut")
        stats["version"] = self.warehouse.write(table, curated)
        return stats

    # --- retrieval / chunking / semantic dedup ----------------------------

    def search(self, docs: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
        """BM25 keyword retrieval over a (doc_id, text) frame: one corpus
        scan + 1-row stats broadcast + TakeOrderedAndProject
        (plans/queries_ranking.bm25_scores)."""
        from pyspark.sql import functions as F

        from tcdb_spark.plans.queries_ranking import bm25_scores

        scored = bm25_scores(docs, terms)
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def chunk(self, docs: DataFrame, chunk: int = 32, stride: int = 24) -> DataFrame:
        """Overlapping context-window chunking, codegen path
        (plans/queries_chunking.chunk_text_expr)."""
        from tcdb_spark.plans.queries_chunking import chunk_text_expr

        return chunk_text_expr(docs, chunk=chunk, stride=stride)

    def semantic_dedup(
        self, emb: DataFrame, tau: float = 0.99, k_centroids: int = 16, probe: int = 2
    ) -> DataFrame:
        """SemDeDup semantic near-dup pairs over (vec_id, emb)
        (operators/similarity.semantic_dedup_pairs — each cell scored
        as one block, embeddings never ride a pair join; the same code
        the hash-oracled ``semantic_dedup`` lane runs); feed the pairs
        to operators/graph.connected_components + canonical-keep for
        the drop decision."""
        from tcdb_spark.operators.similarity import semantic_dedup_pairs

        return semantic_dedup_pairs(
            emb, tau=tau, k_centroids=k_centroids, probe=probe
        )

    def collect_stats(self, table: str, cols: list[str]) -> dict:
        """Per-file min/max stats for data skipping (Warehouse.collect_stats)."""
        return self.warehouse.collect_stats(table, cols)

    def read_range(self, table: str, filters: dict) -> DataFrame:
        """Stats-pruned range read: files provably outside the ranges are
        never opened (Warehouse.read_skipping); result is exact."""
        df, _info = self.warehouse.read_skipping(table, filters)
        return df

    def learn_bpe(self, docs: DataFrame, n_merges: int = 1000) -> list[tuple[str, str]]:
        """Learn a BPE merge list from a corpus (operators/bpe.bpe_learn):
        one corpus-sized word count, then vocab-sized per-merge work."""
        from tcdb_spark.operators.bpe import bpe_learn

        return bpe_learn(self.spark, docs, n_merges)

    def tokenize(
        self, docs: DataFrame, merges: list[tuple[str, str]], id_col: str = "doc_id"
    ) -> DataFrame:
        """Apply a learned BPE merge list — adds a ``tokens``
        array<string> column.  With an id column present this routes
        through the vocab-table encode (operators/bpe.bpe_encode: the
        per-merge folds run over DISTINCT words only, measured 36.8x
        the direct fold at 9.2M tokens — SCALE_SMOKE.md); without one it
        falls back to the per-occurrence fold (bpe_segment)."""
        from tcdb_spark.operators.bpe import bpe_encode, bpe_segment

        if id_col in docs.columns:
            # coalesce so empty/whitespace docs (no words -> no row in the
            # per-doc token table) get the same empty array the
            # bpe_segment fallback produces, not NULL.  id_col must be
            # unique — duplicate ids would collapse into one shared join
            # row, silently sharing a token sequence.
            return (
                docs.join(bpe_encode(docs, merges, id_col=id_col), id_col, "left")
                .withColumn(
                    "tokens",
                    F.coalesce(F.col("tokens"), F.array().cast("array<string>")),
                )
            )
        return bpe_segment(docs, merges)

    def restore(self, table: str, version: int) -> int:
        """Roll a warehouse table back by republishing ``version`` as the
        next version (metadata-only; Warehouse.restore)."""
        return self.warehouse.restore(table, version)

    def shuffle_order(
        self, docs: DataFrame, id_col: str = "doc_id",
        n_shards: int = 64, seed: str = "ep1",
    ) -> DataFrame:
        """Deterministic epoch shuffle for training order
        (operators/packing.training_order): reproducible permutation,
        no global sort; vary ``seed`` per epoch."""
        from tcdb_spark.operators.packing import training_order

        return training_order(docs, id_col, n_shards=n_shards, seed=seed)

    def negatives(
        self, items: DataFrame, id_col: str = "vec_id",
        label_col: str = "label", k: int = 4,
    ) -> DataFrame:
        """Contrastive negative pairs without a cross join
        (operators/packing.negative_pairs)."""
        from tcdb_spark.operators.packing import negative_pairs

        return negative_pairs(items, id_col, label_col, k=k)

    def funnel(self, events: DataFrame, user_col: str, ts_col: str, stages) -> DataFrame:
        """Ordered-event funnel counts (operators/aggregates.funnel):
        stages = [(alias, predicate Column), ...] in order."""
        from tcdb_spark.operators.aggregates import funnel as _funnel

        return _funnel(events, user_col, ts_col, stages)

    def pagerank(self, edges: DataFrame, iters: int = 3, damping: float = 0.85) -> DataFrame:
        """Fixed-iteration PageRank over an undirected edge list
        (operators/graph.pagerank): one shuffle per iteration."""
        from tcdb_spark.operators.graph import pagerank as _pr

        return _pr(edges, iters=iters, damping=damping)

    def apply_changes(
        self, table: str, feed: DataFrame, keys: list[str],
        seq_col: str = "seq", op_col: str = "op",
    ) -> int:
        """Apply a CDC feed (I/U/D ops, per-key sequence) to a warehouse
        table and commit the result as a new version — the APPLY CHANGES
        INTO semantics, correct under out-of-order delivery ACROSS
        batches (operators/merge.apply_cdc_soft: tombstones + applied-seq
        guard, so a delete leaves a guarded row behind and a
        later-arriving stale update cannot resurrect the key).  A table
        not yet carrying the bookkeeping columns is bootstrapped in the
        same commit (every existing row stamped seq=0, live).  Read the
        live rows back through :meth:`read_changes_view`.  For the
        hard-delete single-batch primitive use operators/merge.apply_cdc
        directly.  Returns the new version number."""
        from tcdb_spark.operators.merge import apply_cdc_soft, cdc_bootstrap

        cur = self.warehouse.read(table)
        if seq_col not in cur.columns or "__deleted" not in cur.columns:
            cur = cdc_bootstrap(cur, seq_col=seq_col)
        out = apply_cdc_soft(cur, feed, keys, seq_col=seq_col, op_col=op_col)
        return self.warehouse.write(table, out)

    def read_changes_view(self, table: str, seq_col: str = "seq") -> DataFrame:
        """Live-rows view of a table maintained by :meth:`apply_changes`
        (tombstones filtered, bookkeeping columns dropped)."""
        from tcdb_spark.operators.merge import cdc_view

        return cdc_view(self.warehouse.read(table), seq_col=seq_col)

    def quantiles(
        self, df: DataFrame, value_col: str, group_cols: list[str],
        qs: list[float], lo: float, hi: float, n_bins: int = 64,
    ) -> DataFrame:
        """Mergeable histogram quantiles (operators/sketch.py
        hist_partials + hist_quantile) — deterministic approximate
        percentiles whose state merges by SUM across shards/days."""
        from tcdb_spark.operators.sketch import hist_partials, hist_quantile

        parts = hist_partials(df, value_col, group_cols, lo, hi, n_bins)
        return hist_quantile(parts, group_cols, qs, lo, hi, n_bins)

    def clone(self, src_table: str, dst_table: str, version: int | None = None) -> int:
        """Shallow clone a warehouse table (zero-copy hard links;
        Warehouse.clone) — the sandbox-experiment primitive."""
        return self.warehouse.clone(src_table, dst_table, version)

    def hard_negatives(
        self, emb: DataFrame, k: int = 5, k_centroids: int = 16, nprobe: int = 6,
    ) -> DataFrame:
        """Hard-negative mining: k nearest OTHER-label vectors per
        anchor via the IVF-bounded k-NN join (operators/similarity.py
        knn_join, block-scored inside shared cells) — contrastive
        negatives by difficulty, not chance."""
        from pyspark.sql import functions as F

        from tcdb_spark.operators.similarity import knn_join

        left = emb.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
            F.col("label").alias("q_label"),
        )
        return knn_join(
            left, emb, k=k, k_centroids=k_centroids, nprobe=nprobe,
            mismatch_cols=("q_label", "label"),
        )

    def hybrid_search(
        self,
        docs: DataFrame,
        emb: DataFrame,
        terms: list[str],
        q_emb: DataFrame,
        cand: int = 100,
        top: int = 20,
        rrf_k: int = 60,
    ) -> DataFrame:
        """Hybrid retrieval: BM25 keyword leg over ``docs`` (doc_id,
        text) fused with an embedding-cosine leg over ``emb`` (vec_id,
        embedding) against the 1-row query frame ``q_emb`` (q_emb
        array<double>) by reciprocal-rank fusion
        (plans/queries_ranking.rank_leg/rrf_fuse). Each leg reduces to
        its top-``cand`` before any rank window runs."""
        from pyspark.sql import functions as F

        from tcdb_spark.operators.similarity import _dot, _norm
        from tcdb_spark.plans.queries_ranking import bm25_scores, rank_leg, rrf_fuse

        lex = rank_leg(bm25_scores(docs, terms), "score", "lex_rank", cand=cand)
        sem_scored = (
            emb.select(
                F.col("vec_id").alias("doc_id"),
                F.col("embedding").cast("array<double>").alias("e"),
            )
            .crossJoin(F.broadcast(q_emb))
            .select(
                "doc_id",
                (
                    _dot(F.col("q_emb"), F.col("e"))
                    / (_norm(F.col("q_emb")) * _norm(F.col("e")))
                ).alias("cos"),
            )
        )
        sem = rank_leg(sem_scored, "cos", "sem_rank", cand=cand)
        return rrf_fuse([lex, sem], k=rrf_k, top=top)

    def smooth(
        self,
        df: DataFrame,
        key_cols: list[str],
        order_cols: list[str],
        value_col: str,
        alpha: float = 0.5,
        lags: int = 8,
    ) -> DataFrame:
        """Per-key truncated EWMA (plans/queries_timeseries
        truncated_ewma): fixed-order window-lag sum, one shuffle."""
        from tcdb_spark.plans.queries_timeseries import truncated_ewma

        return truncated_ewma(df, key_cols, order_cols, value_col, alpha=alpha, lags=lags)

    def drift(
        self, df: DataFrame, cohort_col: str, value_col: str, bins: int = 16
    ) -> DataFrame:
        """Population Stability Index per cohort vs the rest of the
        corpus (leave-one-out baseline; plans/queries_analytics
        .psi_by_cohort) — the batch-over-batch distribution-drift
        monitor."""
        from tcdb_spark.plans.queries_analytics import psi_by_cohort

        return psi_by_cohort(df, cohort_col, value_col, bins=bins)

    def diversify(
        self, candidates: DataFrame, k: int = 10, lam: float = 0.5
    ) -> DataFrame:
        """MMR re-rank of a retrieval top-n (q_id, vec_id, cos, emb
        rows -> k per query; operators/similarity.mmr_rerank): greedy
        relevance-vs-redundancy selection, one local matmul per bounded
        candidate pool, no pairwise shuffle."""
        from tcdb_spark.operators.similarity import mmr_rerank

        return mmr_rerank(candidates, k=k, lam=lam)

    def winnow(self, sf_dir_or_docs) -> DataFrame:
        """Robust winnowing fingerprints (Schleimer 2003, the MOSS
        index; plans/queries_text.winnow_fingerprint): (doc_id, pos,
        fp) rows guaranteeing any shared >= k+w-1 token run between
        documents shares a fingerprint. Accepts a testdata dir or a
        (doc_id, text) DataFrame."""
        from tcdb_spark.plans.queries_text import winnow_fingerprint, winnow_frame

        if isinstance(sf_dir_or_docs, str):
            return winnow_fingerprint(self.spark, sf_dir_or_docs)
        return winnow_frame(sf_dir_or_docs)

    def triangles(self, edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
        """Per-node triangle counts (operators/graph.triangle_counts):
        degree-oriented wedge enumeration — hub-safe (a 1M-degree node
        generates zero wedges; see SCALE_SMOKE.md)."""
        from tcdb_spark.operators.graph import triangle_counts

        return triangle_counts(edges, src=src, dst=dst)

    def phrase_search(self, docs: DataFrame, phrases: list[str]) -> DataFrame:
        """Exact phrase matches (phrase, doc_id) through the positional
        inverted index (plans/queries_ranking.phrase_match): phrase
        tokens broadcast onto the postings, one groupBy intersection —
        the quoted-query primitive BM25 can't express."""
        from tcdb_spark.plans.queries_ranking import phrase_match

        return phrase_match(docs, phrases)

    def overlaps(
        self,
        iv: DataFrame,
        key: str,
        interval_id: str,
        start: str,
        end: str,
        bin_s: int = 3600,
    ) -> DataFrame:
        """Interval x interval overlap pairs across keys
        (operators/joins.interval_overlap_pairs): coarse-bin cover +
        bin equi-join + exact verify; integer overlap seconds."""
        from tcdb_spark.operators.joins import interval_overlap_pairs

        return interval_overlap_pairs(iv, key, interval_id, start, end, bin_s)

    def sample_weighted(
        self, docs: DataFrame, k: int, weight_col: str = "n_chars"
    ) -> DataFrame:
        """Weighted sample WITHOUT replacement via A-Res exponential
        race keys (plans/queries_curation._ares_key_sql): deterministic
        under repartitioning, top-k is TakeOrderedAndProject.  ``docs``
        needs doc_id + the weight column."""
        from pyspark.sql import functions as F

        from tcdb_spark.plans.queries_curation import _ares_key_sql

        key = F.expr(_ares_key_sql("STRING").replace("n_chars", weight_col))
        return (
            docs.select("*", key.alias("__ares_key"))
            .orderBy(F.desc("__ares_key"), "doc_id")
            .limit(k)
            .drop("__ares_key")
        )

    def transition_matrix(
        self, events: DataFrame, key: str, state_col: str, order_cols: list[str]
    ) -> DataFrame:
        """First-order Markov transitions (src_type, dst_type, n, p)
        over per-key ordered state sequences (the catalog
        event_transition_matrix shape, parameterized)."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        w = W.partitionBy(key).orderBy(*order_cols)
        s = events.select(
            F.col(state_col).alias("src_type"),
            F.lead(state_col).over(w).alias("dst_type"),
        ).where(F.col("dst_type").isNotNull())
        c = s.groupBy("src_type", "dst_type").agg(F.count("*").alias("n"))
        return c.select(
            "src_type",
            "dst_type",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(W.partitionBy("src_type"))).alias("p"),
        )

    def verify_forecasts(
        self,
        forecasts: DataFrame,
        best_track: DataFrame,
        units: str = "nm",
    ) -> DataFrame:
        """Track-forecast verification: position error per (model, lead).
        ``forecasts`` needs TECH/TAU/DATETIME/LAT/LON (a-deck parse
        columns), ``best_track`` DATETIME/LAT/LON (b-deck parse);
        wind-radii row multiplicity on the best track is deduped before
        the valid-time join (the classic double-count).  Best track
        broadcasts; forecasts never shuffle."""
        from pyspark.sql import functions as F

        from tcdb_spark.functions.scalar import haversine

        fc = forecasts.select(
            F.col("TECH").alias("tech"),
            F.col("TAU").alias("tau"),
            F.timestamp_add("HOUR", F.col("TAU"), F.col("DATETIME")).alias("valid"),
            F.col("LAT").alias("lat"),
            F.col("LON").alias("lon"),
        )
        bt = best_track.select(
            F.col("DATETIME").alias("dt"),
            F.col("LAT").alias("blat"),
            F.col("LON").alias("blon"),
        ).distinct()
        return fc.join(F.broadcast(bt), fc.valid == bt.dt).select(
            "tech",
            "tau",
            F.round(
                haversine(F.col("lat"), F.col("lon"), F.col("blat"), F.col("blon"), units),
                4,
            ).alias(f"err_{units}"),
        )

    def retrieval_eval(
        self,
        cands: DataFrame,
        q_col: str = "q_id",
        rel_col: str = "rel",
        score_col: str = "score",
        id_col: str = "vec_id",
        k: int = 10,
    ) -> DataFrame:
        """Per-query Precision@k, MRR and nDCG@k from a scored candidate
        frame (operators/evalmetrics.retrieval_eval) — the measurement
        layer for any retrieval lane: feed it sim_topk/ANN/hybrid output
        plus a 0/1 relevance column and read the quality numbers."""
        from tcdb_spark.operators.evalmetrics import retrieval_eval

        return retrieval_eval(
            cands, q_col=q_col, rel_col=rel_col, score_col=score_col,
            id_col=id_col, k=k,
        )

    def calibration(
        self,
        scored: DataFrame,
        score_col: str = "score",
        pos_col: str = "pos",
        bins: int = 16,
        lo: float = -1.0,
        hi: float = 1.0,
    ) -> DataFrame:
        """Reliability diagram of a classifier/similarity score
        (operators/evalmetrics.calibration): per-bin count, positive
        count and observed positive rate — the audit before any score
        thresholds documents."""
        from tcdb_spark.operators.evalmetrics import calibration

        return calibration(
            scored, score_col=score_col, pos_col=pos_col, bins=bins, lo=lo, hi=hi
        )

    def media_near_dup(
        self, media: DataFrame, max_hamming: int = 7, bands: int = 8
    ) -> DataFrame:
        """Near-duplicate image pairs by perceptual hash: Arrow-batched
        aHash over the binary payload column, banded Hamming equi-join
        (exact for max_hamming < bands — sources/multimodal.media_ahash
        + media_near_dup_pairs).  The media twin of dedup_simhash."""
        from tcdb_spark.sources.multimodal import media_ahash, media_near_dup_pairs

        return media_near_dup_pairs(
            media_ahash(media), max_hamming=max_hamming, bands=bands
        )

    def media_features(self, media: DataFrame, decode_stub: bool = True) -> DataFrame:
        """Fixed-dim feature vectors from binary media payloads — REAL
        decode for PPM/PGM, PNG, JPEG (baseline + progressive), PCM WAV
        and FLAC, Arrow-batched, riding the scan with no shuffle
        (sources/multimodal.extract_features)."""
        from tcdb_spark.sources.multimodal import extract_features

        return extract_features(media, decode_stub=decode_stub)

    def media_resize(
        self, media: DataFrame, out_w: int, out_h: int, decode_stub: bool = True
    ) -> DataFrame:
        """Distributed image resize over the binary column (PPM/PNG/JPEG
        decoded for real; sources/multimodal.resize_media)."""
        from tcdb_spark.sources.multimodal import resize_media

        return resize_media(media, out_w, out_h, decode_stub=decode_stub)

    def media_resample(
        self, media: DataFrame, out_rate: int, decode_stub: bool = True
    ) -> DataFrame:
        """Distributed audio resample over the binary column (WAV/FLAC
        decoded for real; sources/multimodal.resample_media)."""
        from tcdb_spark.sources.multimodal import resample_media

        return resample_media(media, out_rate, decode_stub=decode_stub)

    # --- statistical monitoring / preference learning ---------------------

    def ks_drift(self, df: DataFrame, cohort_col: str, value_col: str) -> DataFrame:
        """Two-sample Kolmogorov-Smirnov D per cohort vs the
        leave-one-out rest (plans/queries_stats.ks_by_cohort) — the
        distribution-free complement to Engine.drift's binned PSI."""
        from tcdb_spark.plans.queries_stats import ks_by_cohort

        return ks_by_cohort(df, cohort_col, value_col)

    def rank_shift(self, df: DataFrame, cohort_col: str, value_col: str) -> DataFrame:
        """Mann-Whitney doubled-U and AUC effect size per cohort vs the
        leave-one-out rest (plans/queries_stats.rank_shift_by_cohort):
        KS detects ANY difference; this reports shift direction."""
        from tcdb_spark.plans.queries_stats import rank_shift_by_cohort

        return rank_shift_by_cohort(df, cohort_col, value_col)

    def ks_drift_binned(
        self, df: DataFrame, cohort_col: str, value_col: str, bins: int = 64
    ) -> DataFrame:
        """Binned-ECDF KS per cohort — the production twin of ks_drift
        for continuous/high-cardinality value columns: per-cohort state
        is |bins| integers instead of the full distinct-value frame
        (plans/queries_stats.binned_value_frame + ks_by_cohort)."""
        from tcdb_spark.plans.queries_stats import binned_value_frame, ks_by_cohort

        return ks_by_cohort(
            binned_value_frame(df, cohort_col, value_col, bins), cohort_col, "value"
        )

    def rank_shift_binned(
        self, df: DataFrame, cohort_col: str, value_col: str, bins: int = 64
    ) -> DataFrame:
        """Grouped-midrank Mann-Whitney over bin ids — the production
        twin of rank_shift for continuous value columns."""
        from tcdb_spark.plans.queries_stats import (
            binned_value_frame,
            rank_shift_by_cohort,
        )

        return rank_shift_by_cohort(
            binned_value_frame(df, cohort_col, value_col, bins), cohort_col, "value"
        )

    def changepoint(
        self, df: DataFrame, series_col: str, ts_col: str, id_col: str, value_col: str
    ) -> DataFrame:
        """Offline CUSUM: per series, the timestamp where the running
        sum departs furthest from the global trend (integer-exact
        argmax; plans/queries_stats.cusum_by_series)."""
        from tcdb_spark.plans.queries_stats import cusum_by_series

        return cusum_by_series(df, series_col, ts_col, id_col, value_col)

    def kappa(
        self, df: DataFrame, group_col: str, label_col: str, pred_col: str
    ) -> DataFrame:
        """Per-group Cohen's kappa between two label columns — the
        chance-corrected labeling-QA statistic
        (plans/queries_stats.cohen_kappa)."""
        from tcdb_spark.plans.queries_stats import cohen_kappa

        return cohen_kappa(df, group_col, label_col, pred_col)

    def preference_pairs(
        self, scored: DataFrame, group_col: str, id_col: str, score_col: str
    ) -> DataFrame:
        """Best-vs-worst (chosen, rejected, margin) pairs per group for
        DPO-style training (plans/queries_stats.preference_pairs_from);
        tied or single-member groups emit no pair."""
        from tcdb_spark.plans.queries_stats import preference_pairs_from

        return preference_pairs_from(scored, group_col, id_col, score_col)

    def preference_pairs_topk(
        self,
        scored: DataFrame,
        group_col: str,
        id_col: str,
        score_col: str,
        k: int = 4,
    ) -> DataFrame:
        """All strict-preference pairs among each group's top-k
        candidates — bounded at C(k,2) pairs per group regardless of
        group size (plans/queries_stats.preference_pairs_topk); the
        aggregated output is the duel-matrix input of rate_pairwise."""
        from tcdb_spark.plans.queries_stats import preference_pairs_topk

        return preference_pairs_topk(scored, group_col, id_col, score_col, k)

    def rate_pairwise(self, wins: DataFrame, item_col: str = "item") -> DataFrame:
        """Bradley-Terry ratings from a (winner, loser, n_wins) duel
        matrix (plans/queries_stats.bt_ratings_from_wins): distributed
        reduction upstream, guarded k^2 driver MM solve here."""
        from tcdb_spark.plans.queries_stats import bt_ratings_from_wins

        return bt_ratings_from_wins(self.spark, wins, item_col)

    def rate_pairwise_distributed(
        self, wins: DataFrame, item_col: str = "item"
    ) -> DataFrame:
        """Bradley-Terry at item scale: join-aggregate MM iterations
        (plans/queries_stats.bt_ratings_distributed) for duel matrices
        beyond the driver solve's 10k-cell guard — 10^6-item
        per-document preference data.  Round state lands in a scratch
        area beside the warehouse, so it is on the same (shared)
        filesystem the warehouse already requires — correct on a real
        cluster, not just local mode."""
        import uuid

        from tcdb_spark.plans.queries_stats import bt_ratings_distributed

        scratch = f"{self.warehouse.root}/_scratch/bt_mm_{uuid.uuid4().hex[:8]}"
        return bt_ratings_distributed(wins, item_col, work_dir=scratch)

    def predict_links(
        self, edges: DataFrame, src: str = "u", dst: str = "v",
        deg_cap: int = 96, top_n: int = 50,
    ) -> DataFrame:
        """Top-n non-adjacent pairs by neighborhood Jaccard
        (operators/graph.common_neighbor_links) — link prediction with
        hub middles capped out of the wedge join."""
        from tcdb_spark.operators.graph import common_neighbor_links

        return common_neighbor_links(edges, src=src, dst=dst, deg_cap=deg_cap, top_n=top_n)

    def asof(
        self,
        left: DataFrame,
        right: DataFrame,
        on: list[str],
        left_ts: str,
        right_ts: str,
        right_cols: list[str],
        direction: str = "backward",
        tolerance_hours: float | None = None,
        skew_resistant: bool = False,
        bucket_hours: float = 24.0,
    ) -> DataFrame:
        """As-of join facade (operators/joins.asof_join).  With
        ``skew_resistant`` the window runs per (key, ``bucket_hours``
        bucket) with carried boundaries instead of per raw key —
        identical results in all three directions (equal-ts right-row
        ties resolve deterministically by content hash in BOTH
        variants), but a megahot entity splits across time buckets
        instead of owning one reducer (measured 20.5 s -> 7.4 s on the
        planted-90%-one-key smoke, SCALE_SMOKE.md round 6; direction
        coverage added round 7 per VERDICT r6 #4)."""
        if skew_resistant:
            from tcdb_spark.operators.joins import asof_join_bucketed

            return asof_join_bucketed(
                left, right, on, left_ts, right_ts, right_cols,
                bucket_hours=bucket_hours, tolerance_hours=tolerance_hours,
                direction=direction,
            )
        from tcdb_spark.operators.joins import asof_join

        return asof_join(
            left, right, on, left_ts, right_ts, right_cols,
            direction=direction, tolerance_hours=tolerance_hours,
        )

    def bootstrap_ci(
        self, df: DataFrame, cohort_col: str, id_col: str, value_col: str, reps: int = 100
    ) -> DataFrame:
        """Poisson-bootstrap CI (2.5/50/97.5%) of the per-cohort mean
        (plans/queries_stats.bootstrap_ci) — independent per-row
        Poisson(1) weights make the bootstrap embarrassingly parallel;
        weights come from integer-threshold seeded hashing, so reruns
        are bit-identical."""
        from tcdb_spark.plans.queries_stats import bootstrap_ci

        return bootstrap_ci(df, cohort_col, id_col, value_col, reps=reps)

    def kmeans(self, emb: DataFrame, k: int = 8, iters: int = 20, tol: float = 1e-9):
        """Distributed Lloyd's k-means over an embedding column
        (operators/clustering.kmeans_fit): matmul assignment per Arrow
        batch, one map-side-combined aggregate per update, deterministic
        first-k-by-id init. Returns (centroids, assigned, inertia_history)."""
        from tcdb_spark.operators.clustering import kmeans_fit

        return kmeans_fit(emb, k=k, iters=iters, tol=tol)

    def cluster_assign(self, emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
        """Frozen-centroid nearest-cluster assignment (no retrain, no
        shuffle) — the incremental twin of :meth:`kmeans` for new
        batches, and the blocking key for cluster-balanced sampling."""
        from tcdb_spark.operators.clustering import kmeans_assign

        return kmeans_assign(emb, centroids)

    def pq_index(self, emb: DataFrame, m: int = 8, ksub: int = 16, seed: int = 42):
        """Product-quantization encode: m codes per vector against
        driver-trained per-subspace codebooks (8 bytes vs 512 at
        m=8/ksub=256) — the memory-scale ANN representation. Returns
        (encoded frame, codebooks); re-encode new batches with
        operators/similarity.pq_encode against the same codebooks."""
        from tcdb_spark.operators.similarity import pq_build

        return pq_build(emb, m=m, ksub=ksub, seed=seed)

    def pq_search(
        self,
        encoded: DataFrame,
        codebooks: list,
        queries: DataFrame,
        k: int = 5,
        shortlist: int = 64,
    ) -> DataFrame:
        """ADC top-k over a PQ-encoded corpus: per-candidate scoring is
        m table lookups (one Arrow gather per batch), the shortlist
        bounds the exact re-rank. Point-lookup path (bounded query
        side)."""
        from tcdb_spark.operators.similarity import pq_search

        return pq_search(encoded, codebooks, queries, k=k, shortlist=shortlist)

    def build_ivfpq_index(
        self,
        emb: DataFrame,
        table: str = "emb_ivfpq",
        k_centroids: int = 16,
        m: int = 8,
        ksub: int = 16,
    ) -> int:
        """Train + persist the composed IVF-PQ index (bucket-partitioned
        encoded table + centroid/codebook side tables). Returns the
        committed version — rebuilds are atomic pointer swaps."""
        from tcdb_spark.operators.similarity import ivfpq_persist

        return ivfpq_persist(
            self.warehouse, table, emb, k_centroids=k_centroids, m=m, ksub=ksub
        )

    def ivfpq_search(
        self,
        queries: DataFrame,
        table: str = "emb_ivfpq",
        k: int = 5,
        nprobe: int = 8,
        shortlist: int = 64,
    ) -> DataFrame:
        """Top-k cosine against the persisted IVF-PQ index: unprobed
        cells prune at the directory level, probed cells scan as 8-code
        rows through the zero-shuffle ADC gather."""
        from tcdb_spark.operators.similarity import ivfpq_search_persisted

        return ivfpq_search_persisted(
            self.warehouse, table, queries, k=k, nprobe=nprobe, shortlist=shortlist
        )

    # --- spectral audio / video / bloom (round 7, session 3) ---------------

    def audio_spectral(self, media: DataFrame) -> DataFrame:
        """Frequency-domain clip descriptors (centroid / dominant /
        rolloff / flatness / band energy profile) over binary WAV/FLAC
        payloads — Arrow-batched FFT riding the scan
        (sources/spectral.audio_spectral)."""
        from tcdb_spark.sources.spectral import audio_spectral

        return audio_spectral(media)

    def audio_near_dup(
        self, media: DataFrame, max_hamming: int = 7, bands: int = 8
    ) -> DataFrame:
        """Near-duplicate audio pairs by 64-bit spectrogram perceptual
        hash + the same banded Hamming join the image lane uses
        (sources/spectral.audio_spectral_hash + media_near_dup_pairs).
        Catches volume-renormalized and cross-container (WAV<->FLAC)
        re-encodes exactly."""
        from tcdb_spark.sources.multimodal import media_near_dup_pairs
        from tcdb_spark.sources.spectral import audio_spectral_hash

        return media_near_dup_pairs(
            audio_spectral_hash(media), max_hamming=max_hamming, bands=bands
        )

    def video_frame_hashes(self, media: DataFrame, every_n: int = 1) -> DataFrame:
        """Frame-sampled perceptual hashes from TCVC video containers:
        header-only seek-table parse, byte-range frame slices, real
        PPM/PNG/JPEG frame decode (sources/video.video_frame_hashes)."""
        from tcdb_spark.sources.video import video_frame_hashes

        return video_frame_hashes(media, every_n=every_n)

    def video_near_dup(
        self,
        media: DataFrame,
        max_hamming: int = 7,
        bands: int = 8,
        min_match_frac: float = 0.6,
        every_n: int = 1,
    ) -> DataFrame:
        """Video-level near-duplicates from frame-level hash matches
        with containment semantics — trimmed copies match at 100% of
        the shorter side (sources/video.video_near_dup_pairs)."""
        from tcdb_spark.sources.video import video_frame_hashes, video_near_dup_pairs

        return video_near_dup_pairs(
            video_frame_hashes(media, every_n=every_n),
            max_hamming=max_hamming,
            bands=bands,
            min_match_frac=min_match_frac,
        )

    def bloom_build(
        self, keys: DataFrame, key_col: str = "key", m_bits: int = 4096, k: int = 3
    ) -> DataFrame:
        """Member keys -> broadcastable Bloom bitmap as (word_idx, word)
        rows (operators/bloom.bloom_build)."""
        from tcdb_spark.operators.bloom import bloom_build

        return bloom_build(keys, key_col=key_col, m_bits=m_bits, k=k)

    def bloom_probe(
        self,
        probe: DataFrame,
        bloom: DataFrame,
        key_col: str = "key",
        m_bits: int = 4096,
        k: int = 3,
    ) -> DataFrame:
        """(key, maybe_member) Bloom verdicts per distinct probe key —
        projection + one broadcast join on the bitmap word index; no
        false negatives; route maybe-hits to the exact check
        (operators/bloom.bloom_probe)."""
        from tcdb_spark.operators.bloom import bloom_probe

        return bloom_probe(probe, bloom, key_col=key_col, m_bits=m_bits, k=k)

    def bloom_pack(self, bloom: DataFrame, m_bits: int = 4096) -> bytes:
        """Densify the sparse bitmap into bytes for the packed probe —
        driver-bounded at m_bits/8 bytes, guarded at 16 MiB
        (operators/bloom.bloom_pack)."""
        from tcdb_spark.operators.bloom import bloom_pack

        return bloom_pack(bloom, m_bits=m_bits)

    def bloom_probe_packed(
        self,
        probe: DataFrame,
        packed: bytes,
        key_col: str = "key",
        m_bits: int = 4096,
        k: int = 3,
    ) -> DataFrame:
        """Zero-shuffle zero-join Bloom probe: the bitmap rides the plan
        as one binary literal; maybe_member is a pure projection
        (operators/bloom.bloom_probe_packed)."""
        from tcdb_spark.operators.bloom import bloom_probe_packed

        return bloom_probe_packed(probe, packed, key_col=key_col, m_bits=m_bits, k=k)

    def media_hash_index(self, hashes: DataFrame, bands: int = 8) -> DataFrame:
        """Perceptual-hash band rows — the stored (parquet-append) form
        of a media near-dup index (sources/multimodal.ahash_bands)."""
        from tcdb_spark.sources.multimodal import ahash_bands

        return ahash_bands(hashes, bands=bands)

    def media_near_dup_incremental(
        self,
        index: DataFrame,
        new_bands: DataFrame,
        max_hamming: int = 7,
        bands: int = 8,
    ) -> DataFrame:
        """Day-N media near-dups against a stored band index (plus
        within the batch) — O(batch x collisions), never O(corpus^2);
        batch-split invariance vs the one-shot join is pinned in tests
        (sources/multimodal.incremental_ahash_candidates)."""
        from tcdb_spark.sources.multimodal import incremental_ahash_candidates

        return incremental_ahash_candidates(
            index, new_bands, max_hamming=max_hamming, bands=bands
        )

    def audio_segments(
        self, media: DataFrame, win_s: float = 0.25, hop_s: float = 0.125
    ) -> DataFrame:
        """One spectral-feature row per audio window (the long-audio /
        ASR preprocessing shape) — decode + FFT once per clip, windows
        pool frame ranges (sources/spectral.audio_segments)."""
        from tcdb_spark.sources.spectral import audio_segments

        return audio_segments(media, win_s=win_s, hop_s=hop_s)

    def audio_silence_trim(self, media: DataFrame, threshold: float = 0.02) -> DataFrame:
        """VAD-style non-silent span metadata per clip (gain-invariant
        relative RMS threshold; sources/spectral.audio_silence_trim)."""
        from tcdb_spark.sources.spectral import audio_silence_trim

        return audio_silence_trim(media, threshold=threshold)

    def video_resize_frames(
        self, media: DataFrame, out_w: int, out_h: int, every_n: int = 1
    ) -> DataFrame:
        """Sample + resize + re-pack video frames in one scan-riding
        pass (the vision-model preprocessing shape; fps scaled by the
        stride; sources/video.video_resize_frames)."""
        from tcdb_spark.sources.video import video_resize_frames

        return video_resize_frames(media, out_w, out_h, every_n=every_n)

    def media_dct_phash(self, media: DataFrame, decode_stub: bool = True) -> DataFrame:
        """DCT perceptual hashes (classic pHash — recompression/rescale
        robust; run alongside media_ahash and union candidates on
        mixed-content corpora; sources/multimodal.media_dct_phash)."""
        from tcdb_spark.sources.multimodal import media_dct_phash

        return media_dct_phash(media, decode_stub=decode_stub)

    # -- web corpus (round 8) ------------------------------------------

    def html_extract(
        self, df: DataFrame, id_col: str = "doc_id", html_col: str = "html",
        max_html_bytes: int = 16 << 20,
    ) -> DataFrame:
        """HTML -> (title, body, structure stats) via the stdlib parser
        with the pinned extraction contract (sources/web.py); one
        zero-shuffle Arrow stage, per-row byte cap."""
        from tcdb_spark.sources.web import html_extract

        return html_extract(df, id_col, html_col, max_html_bytes)

    def html_links(
        self, df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
    ) -> DataFrame:
        """One row per <a href> in document order (href, anchor, pos)."""
        from tcdb_spark.sources.web import html_links

        return html_links(df, id_col, html_col)

    def url_canonicalize(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Append ``canonical_url`` + ``registrable_domain`` — fully
        JVM-native normalization (sources/web.url_normalize)."""
        from pyspark.sql import functions as F

        from tcdb_spark.sources.web import registrable_host, url_normalize

        canon = url_normalize(url_col)
        return df.withColumn("canonical_url", canon).withColumn(
            "registrable_domain",
            registrable_host(F.regexp_extract("canonical_url", "://([^/]*)", 1)),
        )

    def read_warc(self, path: str) -> DataFrame:
        """Distributed WARC scan (plain or .warc.gz), one row per record
        with HTTP payloads split (sources/warc.read_warc)."""
        from tcdb_spark.sources.warc import read_warc

        return read_warc(self.spark, path)

    def kmv_sketch(
        self, df: DataFrame, group_col: str, key_col: str, k: int = 4096
    ) -> DataFrame:
        """Mergeable bottom-k distinct sketch per group (operators/sketch)."""
        from tcdb_spark.operators.sketch import kmv_sketch

        return kmv_sketch(df, group_col, key_col, k)

    def kmv_overlap(self, sketches: DataFrame, group_col: str) -> DataFrame:
        """Pairwise distinct/intersection/union/Jaccard estimates from
        KMV sketches (exact when the sketches are exact)."""
        from tcdb_spark.operators.sketch import kmv_overlap

        return kmv_overlap(sketches, group_col)

    def link_frontier(self, pages_dir: str, checkpoint_dir: str | None = None):
        """Streaming crawl-frontier loop into this engine's warehouse
        (streaming/pipeline.stream_link_frontier)."""
        from tcdb_spark.streaming.pipeline import stream_link_frontier

        return stream_link_frontier(self.spark, pages_dir, self.warehouse, checkpoint_dir)

    def html_blocks(
        self, df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
    ) -> DataFrame:
        """Per-block classification view (tag, link density signals,
        boilerplate-container flag) for boilerplate filtering —
        sources/web.html_blocks; body == kept+dropped blocks joined."""
        from tcdb_spark.sources.web import html_blocks

        return html_blocks(df, id_col, html_col)

    def robots_filter(
        self, urls: DataFrame, robots: DataFrame, user_agent: str = "*"
    ) -> DataFrame:
        """Append ``allowed`` per URL by its host's robots.txt — RFC
        9309 longest-match, robots parsed once per host and broadcast
        (sources/web.robots_filter)."""
        from tcdb_spark.sources.web import robots_filter

        return robots_filter(urls, robots, user_agent=user_agent)

    def sitemap_entries(
        self, df: DataFrame, host_col: str = "host", xml_col: str = "sitemap_xml"
    ) -> DataFrame:
        """Sitemap/sitemapindex XML -> one row per <loc> entry
        (sources/web.sitemap_entries)."""
        from tcdb_spark.sources.web import sitemap_entries

        return sitemap_entries(df, host_col, xml_col)

    def unicode_scrub(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """NFC-normalize + C0-control strip + U+FFFD mojibake count in
        one Arrow stage (plans/queries_text.unicode_scrub); cross-engine
        NFC attested by the text_unicode_nfc lane."""
        from tcdb_spark.plans.queries_text import unicode_scrub

        return unicode_scrub(df, id_col, text_col)

    def compression_signals(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """zlib-compressibility quality signal: (id, n_bytes,
        n_compressed, ratio_bp) per document
        (plans/queries_text.compression_signals)."""
        from tcdb_spark.plans.queries_text import compression_signals

        return compression_signals(df, id_col, text_col)

    # --- privacy release audits (round 8, session 3) ------------------------

    def k_anonymity(
        self, df: DataFrame, ladder: list[str], k_min: int = 5
    ) -> DataFrame:
        """Per-rung k-anonymity report over a generalization ladder
        (coarsest QI column first) — one rollup scan for every rung
        (operators/privacy.k_anonymity_ladder)."""
        from tcdb_spark.operators.privacy import k_anonymity_ladder

        return k_anonymity_ladder(df, ladder, k_min=k_min)

    def l_diversity(
        self, df: DataFrame, qi_cols: list[str], sensitive_col: str, l_min: int = 3
    ) -> DataFrame:
        """One-row distinct-l diversity gate: classes/rows below the
        floor and the worst class's l
        (operators/privacy.l_diversity_summary)."""
        from tcdb_spark.operators.privacy import l_diversity_summary

        return l_diversity_summary(df, qi_cols, sensitive_col, l_min=l_min)

    def suppress_small_groups(
        self, df: DataFrame, qi_cols: list[str], k_min: int = 5
    ) -> DataFrame:
        """Drop every row whose QI class has < k_min members; survivors
        satisfy k-anonymity at k_min (null-safe keep-list semi-join,
        operators/privacy.suppress_below_k)."""
        from tcdb_spark.operators.privacy import suppress_below_k

        return suppress_below_k(df, qi_cols, k_min=k_min)

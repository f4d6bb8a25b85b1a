"""Incremental / streaming pipelines (SURVEY.md §2.10).

The reference is cron micro-batch: shell wrappers re-download everything,
a content-hash ledger detects new data, natural-key upserts make replay
idempotent, and a backfill flag widens the freshness window
(tcdb/pipeline/master_bdeck.sh, bdeck.py:88-112, adeck.py:69-76). The
Structured-Streaming mapping:

- source trigger        -> file source + Trigger.AvailableNow
- new-data detection    -> file-source exactly-once tracking (+ ledger)
- late data / backfill  -> event-time watermark (48 h) / watermark off
- exactly-once upsert   -> foreachBatch -> natural-key MERGE
- 6 h synoptic cycles   -> tumbling window(ts, '6 hours')
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tcdb_spark.session import local_frame
from tcdb_spark.sources.atcf import parse_bdeck_lines
from tcdb_spark.sources.warehouse import Warehouse


def windowed_cycle_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """Tumbling synoptic-cycle aggregation with a late-data watermark —
    the streaming form of fn-cycle-floor + per-cycle rollup
    (tcdb/pipeline/adeck.py:243-246; 48 h = the reference's re-write
    skip window, tcdb/pipeline/adeck.py:96-98). Works on both batch and
    streaming frames (withWatermark is a no-op in batch)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return src.groupBy(F.window(F.col(ts_col), window).alias("cycle_window")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def stream_dedup_events(
    events: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, drop
    re-deliveries — the streaming form of the reference's content-hash
    ingest skip (tcdb/pipeline/fs_utils.py:10-21) without an external
    ledger table.  ``dropDuplicatesWithinWatermark`` keys the dedup
    state by ``keys`` and evicts a key's state once the watermark passes
    its event time, so state is bounded by the watermark horizon instead
    of growing with the whole history — the property that makes this
    viable on an unbounded 100 TB/day stream."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_bdeck_ingest(
    spark: SparkSession,
    raw_dir: str,
    warehouse: Warehouse,
    run_id_prefix: str = "STREAM_BDECK",
    checkpoint_dir: str | None = None,
    now=None,
):
    """Incremental b-deck ingest: watch a landing directory for deck
    files, parse each micro-batch, MERGE via foreachBatch — the
    exactly-once composition of §2.8 upserts with the §2.10 file source.
    Replays are harmless because every write is a natural-key MERGE.

    Returns the started StreamingQuery (AvailableNow: drains the backlog
    then stops — the cron-equivalent trigger).
    """
    from tcdb_spark.jobs.bdeck import run_bdeck_job

    lines = (
        spark.readStream.format("text")
        .schema(T.StructType([T.StructField("value", T.StringType())]))
        .load(raw_dir)
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parsed = parse_bdeck_lines(batch_df)
        run_bdeck_job(
            batch_df.sparkSession, parsed, warehouse, f"{run_id_prefix}__{epoch_id}", now=now
        )

    writer = (
        lines.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/bdeck",
        )
    )
    return writer.start()


def stream_scd2_dim(
    spark: SparkSession,
    raw_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    key: list[str],
    tracked: list[str],
    table: str = "dim_history",
    snapshot_ts_col: str = "snapshot_ts",
    checkpoint_dir: str | None = None,
):
    """Streaming SCD Type-2 maintenance: attribute snapshots land in a
    directory, each micro-batch folds them into the versioned history
    table via ``operators/scd.scd2_merge`` — the continuous form of the
    batch ``scd2_history`` catalog query.

    A batch may contain several snapshot timestamps (backlog drain);
    they apply in ascending order so the history is identical to
    processing them one tick at a time — the replay-safety property
    foreachBatch needs, since checkpoint recovery can re-deliver a whole
    batch (re-applying a snapshot is a no-op: scd2_merge is idempotent
    on unchanged values).

    Returns the started StreamingQuery (AvailableNow).
    """
    from tcdb_spark.operators.scd import scd2_init, scd2_merge

    snaps = spark.readStream.schema(schema).parquet(raw_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ts_list = sorted(
            r[0] for r in batch_df.select(snapshot_ts_col).distinct().collect()
        )
        for ts in ts_list:
            snap = batch_df.where(F.col(snapshot_ts_col) == F.lit(ts)).drop(
                snapshot_ts_col
            )
            if warehouse.exists(table):
                hist = scd2_merge(warehouse.read(table), snap, key, tracked, ts)
            else:
                hist = scd2_init(snap, ts)
            warehouse.write(table, hist)

    writer = (
        snaps.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/scd2_{table}",
        )
    )
    return writer.start()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with right
    events for the same ``key`` whose event time lies within
    ``±tolerance`` — e.g. observations matched to the model fix issued
    around the same synoptic time (the streaming twin of
    join-interval-24h, operators/joins.py interval_join).

    Both sides carry a watermark and the join condition bounds the two
    event times against each other; that pair is what lets Spark EVICT
    buffered rows once the watermark passes their reach, so join state
    is bounded by (rate × tolerance+watermark), not the stream history
    — the only shape that survives an unbounded stream. ``how='left'``
    additionally emits unmatched left rows (null right columns) once
    the watermark proves no match can arrive.

    Column names must be disjoint apart from ``key`` (alias/rename
    upstream); the joined frame keeps one key column.
    """
    overlap = (set(left.columns) & set(right.columns)) - {key}
    if overlap:
        raise ValueError(f"rename overlapping columns first: {sorted(overlap)}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {tolerance}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {tolerance}"))
    )
    joined = l.join(r, cond, how)
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c != key
    ]
    return joined.select(*keep)


def run_incremental(
    spark: SparkSession,
    raw_dir: str,
    warehouse: Warehouse,
    timeout_s: int = 120,
    now=None,
) -> None:
    """One cron tick: drain all new files, block until done."""
    q = stream_bdeck_ingest(spark, raw_dir, warehouse, now=now)
    q.awaitTermination(timeout_s)


def stream_session_counts(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization via native ``session_window``
    — the streaming twin of the batch ``operators.skew.sessionize``
    (lag + conditional cumsum).  State is one OPEN session per key:
    an event within ``gap`` of an existing session extends/merges it;
    a session emits (append mode) and its state is evicted once the
    watermark passes ``session_end``, so state is bounded by (active
    keys x watermark horizon), never the stream history.  At scale the
    grouping shuffles on the key exactly like the batch window — same
    partitioning, same skew profile, same salting remedies."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SPAN_INDEX_SCHEMA = "h long, owner_doc long"


def stream_span_dedup(
    docs: DataFrame,
    index_path: str,
    spans_path: str,
    checkpoint: str,
    w: int = 10,
):
    """Streaming substring dedup: every micro-batch of documents is
    windowed ONCE and probed against the persistent window-hash index;
    found spans append to ``spans_path`` and the index grows by its
    DELTA only (``fresh`` from incremental_duplicated_spans) — an
    append-only parquet layout where no batch ever rewrites existing
    index bytes (uniform hash keys touch every bucket, so bucket-scoped
    MERGE would degenerate to a full rewrite here; append + periodic
    compaction is the right physical shape for this workload).
    Exactly-once: the file-source checkpoint makes batch replay
    deterministic, and a replayed batch's delta re-computes as empty
    against the already-updated index (left_anti), so the index stays
    duplicate-free; replayed span appends are deduplicated at read by
    the (doc_id, span_start) natural key."""
    from pyspark.sql import functions as F  # local alias for clarity

    from tcdb_spark.operators.spans import incremental_duplicated_spans

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = batch_df.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tokens")
        ).where(F.size("tokens") >= w)
        try:
            idx = spark.read.schema(SPAN_INDEX_SCHEMA).parquet(index_path)
            idx.head(1)  # force path resolution now, not mid-join
        except Exception:  # first batch: index does not exist yet
            idx = local_frame(spark, [], SPAN_INDEX_SCHEMA)
        spans, _, fresh = incremental_duplicated_spans(idx, toks, w=w)
        spans.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            spans_path
        )
        fresh.write.mode("append").parquet(index_path)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_counts_to_memory(
    spark: SparkSession, events: DataFrame, name: str = "cycle_counts"
):
    """Streaming windowed agg smoke harness (memory sink, complete mode)."""
    agg = windowed_cycle_counts(events)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_CURATION_STOP = ("the", "a", "of", "and", "to", "in", "is")


def stream_corpus_curation(
    spark: SparkSession,
    raw_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str | None = None,
    min_tokens: int = 20,
    max_stop_ratio: float = 0.40,
    langs: tuple[str, ...] = ("en", "es", "de"),
    watermark: str = "24 hours",
):
    """Streaming twin of the ``curation_pipeline`` catalog query: docs
    land as JSON files, each micro-batch applies the same quality/
    language gates (stateless — fused into the scan), exact dedup runs
    ACROSS batches via ``dropDuplicatesWithinWatermark`` on the content
    hash (state bounded by the watermark horizon, not corpus history),
    and ``foreachBatch`` MERGEs survivors into the warehouse on the
    content hash so a replayed batch is a fixed point (exactly-once
    under retry).  This is the incremental form a 100 TB/day corpus
    intake takes: per-batch work is O(batch), dedup state is O(docs in
    watermark), table growth is append-mostly MERGE."""
    from tcdb_spark.operators.merge import merge

    docs = spark.readStream.schema(CORPUS_SCHEMA).json(raw_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_CURATION_STOP))).cast("double")
        / n_tokens
    )
    curated = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .withColumn("n_tokens", n_tokens)
        .withColumn("stop_ratio", stop_ratio)
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("stop_ratio") <= max_stop_ratio)
            & F.col("lang").isin(*langs)
        )
        .withColumn("content_hash", F.md5(F.col("text").cast("binary")))
    )
    deduped = curated.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wh_schema = batch_df.schema
        cur = warehouse.read("corpus", schema=wh_schema)
        merged = merge(
            cur, batch_df, keys=["content_hash"], dedupe_incoming=True
        )
        warehouse.write("corpus", merged)

    return (
        deduped.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/corpus",
        )
        .start()
    )


EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def stream_embedding_index(
    spark: SparkSession,
    raw_dir: str,
    warehouse: Warehouse,
    centroids: list[list[float]],
    checkpoint_dir: str | None = None,
):
    """Streaming ANN index maintenance: embedding batches land as JSON,
    each micro-batch is bucketed against the FIXED trained centroids
    (operators/similarity.ivf_assign — the search's own nearest-cell
    probe, one Arrow matmul per batch, no retrain, no shuffle) and MERGEd into the warehouse ``ann_index`` table on
    vec_id.  Composed with the IVF lifecycle: train the quantizer once
    offline, keep assigning forever, retrain on measured occupancy
    drift.  Search (ivf_search) reads the same table, so the index is
    queryable between any two batches."""
    from tcdb_spark.operators.merge import merge
    from tcdb_spark.operators.similarity import ivf_assign

    vecs = spark.readStream.schema(EMBEDDING_SCHEMA).json(raw_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = ivf_assign(batch_df, centroids)
        cur = warehouse.read("ann_index", schema=assigned.schema)
        warehouse.write(
            "ann_index", merge(cur, assigned, keys=["vec_id"], dedupe_incoming=True)
        )

    return (
        vecs.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/ann_index",
        )
        .start()
    )


def stream_cdc_apply(
    spark: SparkSession,
    feed_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    table: str,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Continuous CDC ingestion: change files land in ``feed_dir``, each
    micro-batch applies through ``operators/merge.apply_cdc_soft`` and
    commits a new warehouse version — the streaming half of the
    ``cdc_apply_soft`` catalog query.

    The soft variant is what makes this safe as a STREAM: micro-batch
    boundaries are arbitrary cuts of the log, so ops for one key can
    straddle batches in any order — the per-row applied-sequence guard
    and tombstones make every batch order converge to the same table,
    and checkpoint-recovery re-delivery of a whole batch is a no-op.
    The table must be bootstrapped (``cdc_bootstrap``) or absent (first
    batch creates it).  Read through ``cdc_view``.

    Returns the started StreamingQuery (AvailableNow).
    """
    from tcdb_spark.operators.merge import apply_cdc_soft, cdc_bootstrap

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # AvailableNow honors source rate limits: one file per
        # micro-batch exercises the cross-batch ordering guarantees
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(feed_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if warehouse.exists(table):
            cur = warehouse.read(table)
        else:
            payload = [
                c for c in batch_df.columns if c not in {seq_col, op_col}
            ]
            cur = cdc_bootstrap(
                batch_df.select(*payload).limit(0), seq_col=seq_col
            )
        out = apply_cdc_soft(
            cur, batch_df, keys, seq_col=seq_col, op_col=op_col
        )
        warehouse.write(table, out)

    writer = (
        feed.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/cdc_{table}",
        )
    )
    return writer.start()


def stream_hist_quantiles(
    spark: SparkSession,
    docs_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 64,
    table: str = "hist_state",
    checkpoint_dir: str | None = None,
):
    """Continuous quantile monitoring: document files land, each
    micro-batch folds its histogram partials (`operators/sketch.py
    hist_partials`) into a persistent state table by SUM — the
    mergeable-summary contract doing its job in streaming form.  The
    state stays (groups x bins) rows regardless of how much data has
    flowed through, and `hist_quantile` over the state at any moment
    gives the corpus-to-date p50/p99 — the drift signal a curation
    pipeline watches.  Replay safety: a re-delivered batch would
    double-count, so the batch id is stored and re-application of the
    same epoch is skipped (the usual foreachBatch transactional-sink
    discipline for non-idempotent folds).

    Returns the started StreamingQuery (AvailableNow).
    """
    from tcdb_spark.operators.sketch import hist_partials

    feed = spark.readStream.schema(schema).parquet(docs_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts = hist_partials(batch_df, value_col, group_cols, lo, hi, n_bins)
        parts = parts.withColumn("__epoch", F.lit(int(epoch_id)))
        if warehouse.exists(table):
            state = warehouse.read(table)
            if state.where(F.col("__epoch") == int(epoch_id)).limit(1).count() > 0:
                return  # this batch already folded in (restart re-delivery)
            merged = (
                state.unionByName(parts)
                .groupBy(*group_cols, "bin")
                .agg(
                    F.sum("cnt").alias("cnt"),
                    F.max("__epoch").alias("__epoch"),
                )
            )
        else:
            merged = parts
        warehouse.write(table, merged)

    writer = (
        feed.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/hist_{table}",
        )
    )
    return writer.start()


def psi_bin_counts(
    df: DataFrame,
    cohort_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 16,
) -> DataFrame:
    """Fixed-edge per-cohort bin-count matrix (c0..c{bins-1}, n) — the
    SUM-mergeable state of the PSI monitor.  Streaming cannot bin on a
    global (min, max) the way the batch query does (the stream is
    unbounded), and production monitors should not anyway: fixed
    reference edges make every batch's counts comparable, and the state
    merges by plain addition."""
    width = max((hi - lo) / bins, 1e-300)
    b = F.least(
        F.greatest(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    # NULL values get no bin, so they must not count into n either —
    # otherwise sum(c0..c{bins-1}) < n and every smoothed q_i is biased
    # low for cohorts with NULLs (the batch ECDF lanes filter NULLs the
    # same way)
    binned = df.where(F.col(value_col).isNotNull()).select(
        cohort_col, b.alias("bin")
    )
    counts = [
        F.sum(F.when(F.col("bin") == i, 1).otherwise(0)).cast("double").alias(f"c{i}")
        for i in range(bins)
    ]
    return binned.groupBy(cohort_col).agg(
        *counts, F.count(F.lit(1)).cast("double").alias("n")
    )


def stream_psi_drift(
    spark: SparkSession,
    docs_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    cohort_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 16,
    table: str = "psi_state",
    checkpoint_dir: str | None = None,
):
    """Continuous distribution-drift monitoring: each micro-batch's
    fixed-edge bin counts fold into a persistent (cohorts x bins) state
    table by SUM — the same mergeable-summary discipline as
    ``stream_hist_quantiles``, with the identical epoch guard against
    re-delivered batches double-counting a non-idempotent fold.
    ``plans.queries_analytics.psi_from_counts`` over the state at any
    moment gives each cohort's leave-one-out PSI over everything that
    has flowed through — the batch query and this monitor share that
    expression, so the streaming result is oracle-anchored by proxy
    (pinned equal to the one-shot batch computation in
    tests/test_syntracks_streaming.py).

    Returns the started StreamingQuery (AvailableNow).
    """
    feed = spark.readStream.schema(schema).parquet(docs_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts = psi_bin_counts(batch_df, cohort_col, value_col, lo, hi, bins)
        parts = parts.withColumn("__epoch", F.lit(int(epoch_id)))
        if warehouse.exists(table):
            state = warehouse.read(table)
            if state.where(F.col("__epoch") == int(epoch_id)).limit(1).count() > 0:
                return  # this batch already folded in (restart re-delivery)
            merged = (
                state.unionByName(parts)
                .groupBy(cohort_col)
                .agg(
                    *[F.sum(f"c{i}").alias(f"c{i}") for i in range(bins)],
                    F.sum("n").alias("n"),
                    F.max("__epoch").alias("__epoch"),
                )
            )
        else:
            merged = parts
        warehouse.write(table, merged)

    writer = (
        feed.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/psi_{table}",
        )
    )
    return writer.start()


def stream_ks_drift(
    spark: SparkSession,
    docs_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    cohort_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 16,
    table: str = "ks_state",
    checkpoint_dir: str | None = None,
):
    """Continuous Kolmogorov-Smirnov drift monitoring — the streaming
    twin of the `ks_drift_binned` batch lane.  The folded state is the
    SAME mergeable (cohorts x bins) integer count matrix as
    ``stream_psi_drift`` (one summary serves both monitors: PSI reads
    it as smoothed bin probabilities, KS as a binned ECDF), so the fold
    IS ``stream_psi_drift`` pointed at a KS-named table, epoch guard
    included.  ``plans.queries_stats.ks_from_counts`` over the state at
    any moment gives each cohort's leave-one-out binned KS D over
    everything that has flowed through — pinned equal to the one-shot
    batch computation in tests/test_syntracks_streaming.py.

    Returns the started StreamingQuery (AvailableNow).
    """
    return stream_psi_drift(
        spark,
        docs_dir,
        warehouse,
        schema,
        cohort_col,
        value_col,
        lo,
        hi,
        bins=bins,
        table=table,
        checkpoint_dir=checkpoint_dir
        or f"{warehouse.root}/_checkpoints/ks_{table}",
    )


def stream_distinct_hll(
    spark: SparkSession,
    events_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    id_col: str,
    group_cols: list[str],
    table: str = "hll_state",
    checkpoint_dir: str | None = None,
):
    """Continuous distinct-count monitoring: event files land, each
    micro-batch folds its per-group HLL sketch partials into a
    persistent state table with ``hll_union`` — the streaming form of
    the approx_distinct_audit / sliding_distinct_hll batch lanes.  The
    state stays one KB-sized register blob per group no matter how much
    data has flowed through; ``hll_sketch_estimate`` over it at any
    moment is the distinct-to-date signal.

    Unlike the SUM-folded histogram state (stream_hist_quantiles), the
    HLL fold is IDEMPOTENT — union is a per-register max, so a
    re-delivered batch re-unions to the identical state and no epoch
    guard is needed.  That asymmetry is the operational rule: sketches
    whose merge is max-like (HLL, Bloom, MinHash) are replay-safe by
    construction; additive summaries (counts, histograms) must carry
    the epoch discipline.

    Returns the started StreamingQuery (AvailableNow).
    """
    feed = spark.readStream.schema(schema).parquet(events_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts = batch_df.groupBy(*group_cols).agg(
            F.hll_sketch_agg(id_col).alias("sk")
        )
        if warehouse.exists(table):
            state = warehouse.read(table)
            merged = (
                state.unionByName(parts)
                .groupBy(*group_cols)
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = parts
        warehouse.write(table, merged)

    writer = (
        feed.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/hll_{table}",
        )
    )
    return writer.start()


def stream_bloom_screen(
    spark: SparkSession,
    feed_dir: str,
    warehouse: Warehouse,
    schema: T.StructType,
    key_col: str = "key",
    m_bits: int = 4096,
    k: int = 3,
    state_table: str = "bloom_state",
    verdict_table: str = "bloom_verdicts",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming already-seen screen: each micro-batch PROBES its keys
    against the warehouse-stored Bloom bitmap (verdict per distinct
    key: was this content hash / URL / doc key plausibly seen in any
    earlier batch?), records the verdicts, then OR-folds the batch's
    own bits into the state — the streaming form of the
    ``bloom_prefilter_member`` catalog lane, and the third member of
    the max-like sketch family ``stream_distinct_hll``'s docstring
    promises (HLL, Bloom, MinHash).

    Replay discipline, split by construction exactly along the
    idempotence line: the STATE fold is a per-word bitwise OR —
    re-delivering any batch re-ORs identical bits, so state needs NO
    epoch guard; the VERDICT append is not idempotent (a re-delivered
    batch would re-probe against a state that may already contain its
    own bits and flip its verdicts), so verdicts carry the epoch-guard
    discipline — an epoch whose verdicts are already recorded keeps
    the original rows and the re-delivery writes nothing.

    State stays <= m_bits/64 rows forever regardless of stream volume;
    a maybe_seen=false verdict is FINAL (no false negatives), so only
    maybe-hits ever need the exact downstream check.

    Returns the started StreamingQuery (AvailableNow)."""
    from tcdb_spark.operators.bloom import bloom_build, bloom_probe

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(feed_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keys = batch_df.select(F.col(key_col).alias("key")).distinct()
        if warehouse.exists(state_table):
            state = warehouse.read(state_table)
        else:
            state = local_frame(spark, [], "word_idx int, word long")
        if warehouse.exists(verdict_table):
            prior = warehouse.read(verdict_table)
            already = (
                prior.where(F.col("epoch_id") == epoch_id).limit(1).count() > 0
            )
        else:
            prior, already = None, False
        if not already:
            verdicts = bloom_probe(keys, state, m_bits=m_bits, k=k).withColumn(
                "epoch_id", F.lit(epoch_id).cast("long")
            )
            out = (
                prior.unionByName(verdicts) if prior is not None else verdicts
            )
            warehouse.write(verdict_table, out)
        batch_bits = bloom_build(keys, m_bits=m_bits, k=k)
        merged = (
            state.unionByName(batch_bits)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
        )
        warehouse.write(state_table, merged)

    writer = (
        feed.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/bloom_{state_table}",
        )
    )
    return writer.start()


PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("canonical_url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("discovered_ts", T.TimestampType()),
    ]
)


def stream_link_frontier(
    spark: SparkSession,
    pages_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str | None = None,
):
    """Incremental crawl frontier — the discovery loop a web-corpus
    pipeline runs: crawled pages stream in (url, html, ts), each batch
    (1) marks the page's own canonical URL ``crawled`` and (2) extracts
    outlinks with the real parser (sources/web.html_links), canonicalizes
    them, and enqueues the genuinely-new ones as ``queued``.

    Replay discipline (the repo's streaming contract): the frontier
    TABLE is the dedup state — no in-stream state operator, so there is
    nothing to lose on checkpoint wipe.  Inside foreachBatch a
    ``crawled`` row always upserts (a queued URL that got fetched flips
    exactly once) while a ``queued`` row inserts ONLY when the URL is
    absent from the table (anti-join), so a re-delivered batch is a
    fixed point and a re-discovered already-crawled URL is never
    demoted back to queued.  Discovery timestamps use the batch's min
    event time, never the wall clock — replays stamp identically.
    Per-batch work is O(batch outlinks) plus one MERGE; the frontier
    table is the only cross-batch state.

    At 100 TB/day the shapes hold: extraction is a zero-shuffle Arrow
    stage over the batch, the MERGE keys on canonical_url (hash
    partitioned), and the watermarked dedup state never exceeds the
    horizon's distinct-outlink count."""
    from tcdb_spark.operators.merge import merge
    from tcdb_spark.sources.web import html_links, url_normalize

    pages = spark.readStream.schema(PAGE_SCHEMA).json(pages_dir)
    pages = pages.where(F.col("url").isNotNull()).withColumn(
        "page_canon", url_normalize("url")
    )

    def _frontier_rows(links: DataFrame) -> DataFrame:
        abs_links = links.where(F.col("href").contains("://"))
        canon = abs_links.select(
            url_normalize("href").alias("canonical_url"),
            F.col("discovered_ts"),
        )
        return canon.withColumn(
            "host", F.regexp_extract("canonical_url", "://([^/]*)", 1)
        )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = warehouse.read("crawl_frontier", schema=FRONTIER_SCHEMA)
        # groupBy, not dropDuplicates: a page fetched twice in one batch
        # must resolve to ONE deterministic row under task retry
        crawled = (
            batch_df.groupBy(F.col("page_canon").alias("canonical_url"))
            .agg(F.min("ts").alias("discovered_ts"))
            .select(
                "canonical_url",
                F.lit("crawled").alias("status"),
                F.regexp_extract("canonical_url", "://([^/]*)", 1).alias("host"),
                "discovered_ts",
            )
        )
        links = html_links(
            batch_df.withColumn("doc_id", F.monotonically_increasing_id()),
            id_col="doc_id",
            html_col="html",
        )
        # re-attach the batch timestamp floor: discovery time is the
        # batch's min ts (deterministic under replay, no wall clock)
        ts_floor = batch_df.select(F.min("ts").alias("t")).collect()[0].t
        queued = (
            _frontier_rows(
                links.withColumn("discovered_ts", F.lit(ts_floor))
            )
            .withColumn("status", F.lit("queued"))
            .select("canonical_url", "status", "host", "discovered_ts")
            .dropDuplicates(["canonical_url"])
            # never enqueue what this very batch crawled...
            .join(crawled.select("canonical_url"), "canonical_url", "left_anti")
            # ...nor anything the table already knows (queued OR crawled)
            .join(cur.select("canonical_url"), "canonical_url", "left_anti")
        )
        incoming = crawled.unionByName(queued)
        merged = merge(cur, incoming, keys=["canonical_url"], dedupe_incoming=True)
        warehouse.write("crawl_frontier", merged)

    return (
        pages.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{warehouse.root}/_checkpoints/crawl_frontier",
        )
        .start()
    )

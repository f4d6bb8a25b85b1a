"""Aggregation operators (SURVEY.md §2.5).

Everything here is a plain ``groupBy().agg()`` — map-side partial
aggregation + one shuffle on the group key. No per-group Python loops
(the reference iterates ``df.groupby(...)`` in Python; we never do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from tcdb_spark.session import local_frame


def count_by(df: DataFrame, keys: list[str], count_col: str = "n") -> DataFrame:
    """Count-per-group family (db/basin_model_counts.sql,
    db/model_counts_by_basin.sql, db/storm_track_counts_by_model.sql)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_col))


def minmax_dates(df: DataFrame, keys: list[str], ts_col: str) -> DataFrame:
    """start/end date per group (tcdb/etl/atcf.py:318-319: DATETIME min/max
    per deck file = per storm)."""
    return df.groupBy(*keys).agg(
        F.min(ts_col).alias("start_date"), F.max(ts_col).alias("end_date")
    )


def deterministic_mode(df: DataFrame, keys: list[str], col: str, out: str = "mode_value") -> DataFrame:
    """Most-frequent value per group with a deterministic tiebreak
    (highest count, then smallest value) so results are stable across
    engines and retries.

    Reference: ``df.STORMNAME.mode()`` fill (tcdb/etl/atcf.py:168-169) and
    ``most_common`` over ensemble fields (tcdb/etl/syntracks.py:194-200).
    Built-in ``F.mode`` is tie-nondeterministic, hence count+rank.
    """
    counted = df.where(F.col(col).isNotNull()).groupBy(*keys, col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = W.partitionBy(*keys).orderBy(F.col("__cnt").desc(), F.col(col).asc())
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*keys, F.col(col).alias(out))
    )


def ensemble_mean(
    df: DataFrame,
    group_keys: list[str],
    step_col: str,
    value_cols: list[str],
    ensemble_col: str = "ensemble",
    deterministic_member: int = -1,
    mean_label: int = 9000,
    use_median: bool = False,
) -> DataFrame:
    """Per-step ensemble mean (or median) across non-deterministic members,
    appended to the input as a synthetic member.

    Reference: tcdb/etl/syntracks.py:152-191 (``ensMean``): slices out the
    deterministic member, averages lat/lon/wind/mslp per step, emits an
    ``ENS_MEAN`` pseudo-member. Long-format groupBy replaces the xarray
    reduction; ``unionByName`` appends the synthetic member.
    """
    members = df.where(F.col(ensemble_col) != deterministic_member)
    if use_median:
        aggs = [F.median(c).alias(c) for c in value_cols]
    else:
        aggs = [F.avg(c).alias(c) for c in value_cols]
    mean_rows = (
        members.groupBy(*group_keys, step_col)
        .agg(*aggs)
        .withColumn(ensemble_col, F.lit(mean_label))
    )
    return df.unionByName(mean_rows, allowMissingColumns=True)


def child_counts(parent: DataFrame, child: DataFrame, key: str, out: str) -> DataFrame:
    """num_observations / num_tracks / numTrackSteps convenience counts
    (tcdb/models/storms.py:66-68, tracks.py:45-47, forecasts.py:50-52)."""
    counts = child.groupBy(key).agg(F.count(F.lit(1)).alias(out))
    return parent.join(counts, on=key, how="left").fillna({out: 0})


def rollup_partial(
    df: DataFrame, keys: list[str], value_col: str, distinct_col: str | None = None
) -> DataFrame:
    """Partial-aggregate one batch into mergeable rollup state
    (count / sum / min / max — the distributive aggregates).

    Incremental materialized-view maintenance: at 100 TB you never
    recompute an aggregate table from the full fact history per ingest
    tick; you partial-agg the new batch (map-side combine + one shuffle
    over BATCH rows only) and fold it into the stored state with
    :func:`rollup_merge`. avg derives as sum/n at read time. Aggregates
    that are not distributive/algebraic (exact distinct, exact median)
    can't ride this path — use their sketch forms (HLL++, KLL) whose
    states merge the same way: pass ``distinct_col`` to carry a
    Datasketches HLL sketch (binary, mergeable) alongside the scalars —
    the approximate-distinct answer to "exact distinct is not
    algebraic"."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("hll_v"))
    return df.groupBy(*keys).agg(*aggs)


def rollup_merge(state: DataFrame, partial: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a batch's partial rollup into the accumulated state:
    union + re-aggregate (sum the counts/sums, min the mins, max the
    maxes). One shuffle sized by |state groups| + |batch groups|, never
    by fact rows; N-batch maintenance is associative, so the result is
    identical to one groupBy over the concatenated facts (proven by the
    ``rollup_incremental`` oracle and tests). HLL sketch states (when
    present) merge with ``hll_union_agg`` — register-max union is
    commutative and associative, so the incremental estimate equals the
    one-shot estimate exactly."""
    aggs = [
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ]
    if "hll_v" in state.columns:
        aggs.append(F.hll_union_agg("hll_v").alias("hll_v"))
    return state.unionByName(partial).groupBy(*keys).agg(*aggs)


def rollup_distinct_estimate(state: DataFrame, out: str = "approx_distinct") -> DataFrame:
    """Read-time materialization of the sketch column: the approximate
    distinct count per group from the maintained HLL state."""
    return state.withColumn(out, F.hll_sketch_estimate("hll_v")).drop("hll_v")


def grouped_counts_cube(df: DataFrame, dims: list[str], measure: Column | None = None) -> DataFrame:
    """The reference's basin x model x storm count family generalized to a
    single ``cube()`` pass (SURVEY.md §2.5 note) — one shuffle for all
    2^N groupings instead of N separate queries at 100 TB."""
    agg = measure if measure is not None else F.count(F.lit(1)).alias("n")
    return df.cube(*dims).agg(agg)


def _funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    stages: list[tuple[str, Column]],
    wrap=None,
) -> list[tuple[str, DataFrame]]:
    """Shared stage-chain builder: stage i is the per-user min timestamp
    of qualifying events at-or-after the user's stage i-1 timestamp.
    ``wrap`` (eager twin) intercepts each stage frame — e.g. persist —
    before the next stage chains on it."""
    out: list[tuple[str, DataFrame]] = []
    cur = None
    for alias, pred in stages:
        stage_ev = events.where(pred)
        if cur is None:
            cur = stage_ev.groupBy(user_col).agg(F.min(ts_col).alias("__t"))
        else:
            cur = (
                stage_ev.join(cur, user_col)
                .where(F.col(ts_col) >= F.col("__t"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("__t"))
            )
        if wrap is not None:
            cur = wrap(cur)
        out.append((alias, cur))
    return out


def funnel_plan(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """LAZY funnel: one declarative plan whose single row holds every
    stage count (each stage's 1-row count aggregate cross-joined in).
    This is the AUDITABLE twin of :func:`funnel` — plan lint and
    ``explain`` see the real stage-chain (joins, shuffles, any UDF
    regression), and explain-only callers pay nothing.  The cost of
    laziness: without caching, computing count i re-executes stages
    1..i, so a full execution scans the events table O(S^2) times for S
    stages.  Use :func:`funnel` (persist-per-stage, one scan per stage)
    when you want the numbers; use this when you want the plan — the
    two produce identical rows (pinned in tests)."""
    chained = _funnel_stages(events, user_col, ts_col, stages)
    out = None
    for alias, cur in chained:
        cnt = cur.agg(F.count(F.lit(1)).alias(alias))
        out = cnt if out is None else out.crossJoin(cnt)
    return out


def funnel(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """Ordered-event funnel: ``stages`` is an ordered list of
    (count_alias, membership predicate).  Stage i counts users whose
    first qualifying event at stage i occurs at-or-after their first
    qualifying event at stage i-1.  Every stage joins and aggregates on
    the SAME user key (shuffle reuse / bucket co-location applies), and
    stage frames shrink monotonically, so later joins are
    broadcast-sized in practice.

    Each intermediate per-user frame is persisted and its count taken
    eagerly, then freed — so the events table is scanned exactly once
    per stage (an uncached chain would re-execute stages 1..i for
    count i AND again for the final assembly: O(S^2) scans — the
    round-2 ADVICE finding).  Returns a materialized one-row frame of
    stage counts (bigint), the same row :func:`funnel_plan` computes
    lazily — use that twin when you need an auditable plan."""
    names: list[str] = []
    values: list[int] = []
    cached = []
    def _persist(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return cached[-1]

    # counting in stage order materializes each cache before the next
    # stage's count executes the plan built on top of it
    for alias, cur in _funnel_stages(events, user_col, ts_col, stages, wrap=_persist):
        names.append(alias)
        values.append(cur.count())  # materializes the cache for stage i+1
    for c in cached:
        c.unpersist()
    schema = T.StructType([T.StructField(n, T.LongType(), False) for n in names])
    return local_frame(events.sparkSession, [tuple(values)], schema)


def basket_pair_lift(ob: DataFrame, min_support: int = 10) -> DataFrame:
    """Association lift over baskets: ``ob`` is distinct (o, b) rows
    (basket id, item).  Returns (item_a, item_b, n_ab, lift) for
    canonical pairs with support >= ``min_support``, lift = P(ab) /
    (P(a) P(b)) over the basket count.

    The pair stage self-joins on the basket key, so it emits
    C(basket_size, 2) rows per basket — bounded by basket width, never
    a global cross; cap pathological baskets first with
    ``textdedup.drop_hot_keys(ob, "o", cap)``.  Marginals re-enter as a
    broadcast item table plus a 1-row total; counts stay integers until
    the final division (exact as doubles below 2^53)."""
    ob = ob.persist()
    n_orders = ob.select(F.count_distinct("o").cast("double").alias("n_orders"))
    bc = ob.groupBy("b").agg(F.count("*").alias("n_b"))
    a, c = ob.alias("a"), ob.alias("c")
    pairs = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("item_a"), F.col("c.b").alias("item_b"))
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    return (
        pairs.join(
            F.broadcast(bc.select(F.col("b").alias("item_a"), F.col("n_b").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(bc.select(F.col("b").alias("item_b"), F.col("n_b").alias("nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
    )

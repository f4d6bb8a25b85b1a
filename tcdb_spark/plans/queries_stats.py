"""Statistical monitoring and preference-learning catalog entries.

Rounds out the drift-monitor family (`psi_drift`, `unigram_drift`) with
distribution-free two-sample tests (Kolmogorov-Smirnov, Mann-Whitney),
sequential changepoint detection (CUSUM), labeling-QA agreement
(Cohen's kappa), and DPO-style preference-pair construction — the
statistics an LLM-data pipeline runs between ingestion and training.

Cross-engine exactness strategy (DEVNOTES #1/#5/#23): every statistic
here is assembled from EXACT integer aggregates (counts, rank sums,
integer cents) and only converted to floating point in ONE final
expression written identically on both engines — no float summation
ever crosses a GROUP BY, so the driver's exact float compare holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tcdb_spark.plans.catalog import load_tables, register
from tcdb_spark.session import local_frame

# Shared ECDF scaffolding for the two-sample tests: for every cohort g
# (event_type) the comparison sample is the LEAVE-ONE-OUT rest of the
# corpus (DEVNOTES #40 — a drift baseline must exclude the cohort being
# scored).  Counts are pre-aggregated per (event_type, value) BEFORE the
# small cohort-dim cross join, so the fan-out is |distinct (type,value)|
# x |cohorts|, never |rows| x |cohorts|; the per-cohort running counts
# are integer window sums over the distinct-value frame.


def _ecdf_ctes(src: str = "events") -> str:
    """ECDF CTE chain over any (event_type, value) source relation —
    parameterized so the EXACT lanes run it on raw values and the
    BINNED production twins run the identical chain on bin ids."""
    return f"""
    coh AS (SELECT DISTINCT event_type AS g FROM {src}),
    agg0 AS (SELECT event_type, value, count(*) AS cnt
             FROM {src} WHERE value IS NOT NULL GROUP BY 1, 2),
    agg AS (SELECT c.g, a.value,
                   sum(CASE WHEN a.event_type = c.g THEN a.cnt ELSE 0 END) AS a,
                   sum(a.cnt) AS c
            FROM agg0 a CROSS JOIN coh c GROUP BY 1, 2),
    run AS (SELECT g, value, a, c,
                   sum(a) OVER (PARTITION BY g ORDER BY value
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                   sum(c) OVER (PARTITION BY g ORDER BY value
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
            FROM agg),
    tot AS (SELECT g, sum(a) AS n_g, sum(c) AS n_all FROM agg GROUP BY 1)
"""


_ECDF_CTES = _ecdf_ctes()


def ecdf_frames(df: DataFrame, cohort_col: str, value_col: str):
    """(run, tot) DataFrames mirroring `_ECDF_CTES` over any
    (cohort, value) frame — shared by the KS and rank-sum monitors."""
    e = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(cohort_col).alias("event_type"), F.col(value_col).alias("value"))
    )
    coh = e.select(F.col("event_type").alias("g")).distinct()
    agg0 = e.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    agg = (
        agg0.crossJoin(F.broadcast(coh))
        .groupBy("g", "value")
        .agg(
            F.sum(
                F.when(F.col("event_type") == F.col("g"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("a"),
            F.sum("cnt").alias("c"),
        )
    )
    w = (
        Window.partitionBy("g")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = agg.select(
        "g", "value", "a", "c", F.sum("a").over(w).alias("ca"), F.sum("c").over(w).alias("cc")
    )
    tot = agg.groupBy("g").agg(F.sum("a").alias("n_g"), F.sum("c").alias("n_all"))
    return run, tot


def ks_by_cohort(df: DataFrame, cohort_col: str, value_col: str) -> DataFrame:
    """Generic leave-one-out two-sample KS per cohort (facade twin of
    the `ks_drift` catalog entry — same plan over any frame)."""
    run, tot = ecdf_frames(df, cohort_col, value_col)
    d_expr = F.abs(
        F.col("ca").cast("double") / F.col("n_g").cast("double")
        - (F.col("cc") - F.col("ca")).cast("double")
        / (F.col("n_all") - F.col("n_g")).cast("double")
    )
    return (
        run.join(F.broadcast(tot), "g")
        .groupBy(F.col("g").alias(cohort_col), F.col("n_g").alias("n_cohort"))
        .agg(F.max(d_expr).alias("ks_d"))
    )


def rank_shift_by_cohort(df: DataFrame, cohort_col: str, value_col: str) -> DataFrame:
    """Generic leave-one-out Mann-Whitney shift per cohort (facade twin
    of the `rank_sum_shift` catalog entry)."""
    run, tot = ecdf_frames(df, cohort_col, value_col)
    ranked = run.groupBy("g").agg(
        F.sum(F.col("a") * (F.lit(2) * F.col("cc") - F.col("c") + F.lit(1))).alias("twice_r")
    )
    u2 = F.col("twice_r") - F.col("n_g") * (F.col("n_g") + F.lit(1))
    return (
        ranked.join(F.broadcast(tot), "g")
        .select(
            F.col("g").alias(cohort_col),
            u2.cast("bigint").alias("u2"),
            (
                u2.cast("double")
                / (
                    F.col("n_g").cast("double")
                    * (F.col("n_all") - F.col("n_g")).cast("double")
                    * F.lit(2.0)
                )
            ).alias("auc"),
        )
    )



@register(
    "ks_drift",
    oracle="WITH "
    + _ECDF_CTES
    + """
    SELECT r.g AS event_type, CAST(t.n_g AS BIGINT) AS n_cohort,
           max(abs(CAST(r.ca AS DOUBLE) / CAST(t.n_g AS DOUBLE)
                 - CAST(r.cc - r.ca AS DOUBLE) / CAST(t.n_all - t.n_g AS DOUBLE))) AS ks_d
    FROM run r JOIN tot t ON r.g = t.g
    GROUP BY 1, 2
    """,
)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift monitor: for every cohort,
    the sup-distance between its value ECDF and the leave-one-out rest
    of the corpus — the distribution-free complement to the binned
    `psi_drift` (PSI misses shape changes inside a bin; KS does not).

    Scale shape: one corpus scan pre-aggregates (type, value) counts,
    a |cohorts|-row broadcast cross fans out only the DISTINCT frame,
    and the ECDFs are integer running sums in per-cohort sort order
    (partitioned window — never a global sort).  Every D contribution
    is |ca/n1 - cb/n2| of exact integers computed by one identical
    expression per engine, so max() compares identical float sets.

    ATTESTATION TWIN: exact KS needs a total order over the distinct
    values, so each cohort's window partition holds the full distinct
    frame — right for bounded-cardinality metrics (event scores, enum
    grades), quadratic-reducer-state on a continuous column at corpus
    scale.  The production lane for continuous metrics is
    `ks_drift_binned` (|bins| integers per cohort, D error bounded by
    within-bin spread, equality pinned on discrete fixtures).
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return ks_by_cohort(e, "event_type", "value")


@register(
    "rank_sum_shift",
    oracle="WITH "
    + _ECDF_CTES
    + """,
    ranked AS (
        SELECT g, sum(a * (2 * cc - c + 1)) AS twice_r FROM run GROUP BY g
    )
    SELECT r.g AS event_type,
           CAST(r.twice_r - t.n_g * (t.n_g + 1) AS BIGINT) AS u2,
           CAST(r.twice_r - t.n_g * (t.n_g + 1) AS DOUBLE)
             / (CAST(t.n_g AS DOUBLE) * CAST(t.n_all - t.n_g AS DOUBLE) * 2.0) AS auc
    FROM ranked r JOIN tot t ON r.g = t.g
    """,
)
def rank_sum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum location-shift monitor per cohort vs the
    leave-one-out rest: doubled tie-corrected U (`u2`, exact integer)
    and the common-language effect size `auc` = P(cohort draw > rest
    draw) + P(tie)/2.  KS says "the distributions differ"; AUC says in
    which DIRECTION and by how much — together they are the standard
    nonparametric drift pair.

    Rank sums with midrank tie correction stay in integer space by
    tracking 2x the rank sum (`a * (2*cc - c + 1)` per distinct value),
    so the only float op is the final one-expression division.  Same
    shared ECDF scaffolding and scale shape as `ks_drift`.  (The bigint
    product n_g*n_rest caps the exact lane near n~3e9 per cohort; past
    that the same expression runs in DOUBLE with attested tolerance.)

    ATTESTATION TWIN: same distinct-value window fan-out as `ks_drift`
    — exact on bounded-cardinality metrics, quadratic on continuous
    ones; the continuous-metric production lane is `rank_sum_binned`
    (grouped midrank U over |bins| integers per cohort).
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return rank_shift_by_cohort(e, "event_type", "value")


# --- binned ECDF production twins (the PSI discipline) ----------------------
#
# The EXACT lanes above fan the full distinct-value frame into every
# cohort's window partition — on a continuous metric at corpus scale,
# distinct ~ rows and each cohort's single reducer sorts the entire value
# universe.  These twins bin first (fixed shared edges, same idiom as
# psi_drift), so per-cohort state is |bins| integers, the leave-one-out
# cross fans out |cohorts| x |bins| rows, and the per-cohort window sorts
# at most |bins| rows.  D error is bounded by the within-bin CDF spread
# (zero when values are already discrete per bin — the
# sax_similarity_capped convention); the EXACT lanes remain as
# attestation twins for bounded-cardinality value columns.

_KS_BINS = 64

_KS_BIN_SQL = (
    f"CAST(least(floor((value - mn) / (greatest(mx - mn, 1e-300) / {_KS_BINS})), "
    f"{_KS_BINS - 1}) AS INTEGER)"
)

_BINNED_SRC_CTES = f"""
    rng AS (SELECT min(value) AS mn, max(value) AS mx
            FROM events WHERE value IS NOT NULL),
    events_b AS (
        SELECT event_type, {_KS_BIN_SQL} AS value
        FROM events CROSS JOIN rng WHERE value IS NOT NULL
    )"""


def binned_value_frame(
    df: DataFrame, cohort_col: str, value_col: str, bins: int = _KS_BINS
) -> DataFrame:
    """(cohort, bin-id) frame under shared fixed-width edges derived
    from the global (min, max) — one tiny broadcast aggregate, then a
    pure codegen bin expression per row (identical float shape to the
    `_KS_BIN_SQL` oracle text, so both engines bin the same value
    identically).  The bin id feeds the SAME ECDF scaffolding the exact
    lanes use; constant value columns collapse to bin 0 (width guard)."""
    e = df.where(F.col(value_col).isNotNull())
    rng = e.agg(F.min(value_col).alias("mn"), F.max(value_col).alias("mx"))
    width = F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-300)) / bins
    return e.crossJoin(F.broadcast(rng)).select(
        F.col(cohort_col).alias(cohort_col),
        F.least(F.floor((F.col(value_col) - F.col("mn")) / width), F.lit(bins - 1))
        .cast("int")
        .alias("value"),
    )


@register(
    "ks_drift_binned",
    oracle="WITH "
    + _BINNED_SRC_CTES
    + ","
    + _ecdf_ctes("events_b")
    + """
    SELECT r.g AS event_type, CAST(t.n_g AS BIGINT) AS n_cohort,
           max(abs(CAST(r.ca AS DOUBLE) / CAST(t.n_g AS DOUBLE)
                 - CAST(r.cc - r.ca AS DOUBLE) / CAST(t.n_all - t.n_g AS DOUBLE))) AS ks_d
    FROM run r JOIN tot t ON r.g = t.g
    GROUP BY 1, 2
    """,
)
def ks_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-ECDF KS drift monitor — the 100 TB production twin of
    `ks_drift`: values bin into {bins} fixed shared-edge buckets FIRST
    (one scan + map-side combine to |cohorts| x |bins| integer counts),
    then the identical leave-one-out ECDF chain runs on bin ids, so no
    window partition ever holds more than |bins| rows regardless of the
    value column's cardinality.  D is exact at bin edges and under-reads
    the true sup-distance by at most the within-bin CDF spread; on a
    value column whose distinct values land one-per-bin the twin equals
    the exact lane bit-for-bit (pinned in tests/test_stats_monitors.py).
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return ks_by_cohort(
        binned_value_frame(e, "event_type", "value"), "event_type", "value"
    )


@register(
    "rank_sum_binned",
    oracle="WITH "
    + _BINNED_SRC_CTES
    + ","
    + _ecdf_ctes("events_b")
    + """,
    ranked AS (
        SELECT g, sum(a * (2 * cc - c + 1)) AS twice_r FROM run GROUP BY g
    )
    SELECT r.g AS event_type,
           CAST(r.twice_r - t.n_g * (t.n_g + 1) AS BIGINT) AS u2,
           CAST(r.twice_r - t.n_g * (t.n_g + 1) AS DOUBLE)
             / (CAST(t.n_g AS DOUBLE) * CAST(t.n_all - t.n_g AS DOUBLE) * 2.0) AS auc
    FROM ranked r JOIN tot t ON r.g = t.g
    """,
)
def rank_sum_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Mann-Whitney production twin of `rank_sum_shift`: grouped
    midrank U over bin ids — every value in a bin ties at the bin's
    midrank (the standard grouped/interval rank-sum), which perturbs AUC
    by at most the within-bin mass product while collapsing per-cohort
    window state to |bins| integers.  Same binning, same exact-integer
    2xU bookkeeping, same one-final-division float discipline as the
    exact lane; equality on one-value-per-bin fixtures is pinned in
    tests/test_stats_monitors.py."""
    e = load_tables(spark, sf_dir, "events")["events"]
    return rank_shift_by_cohort(
        binned_value_frame(e, "event_type", "value"), "event_type", "value"
    )


def ks_from_counts(
    state: DataFrame, cohort_col: str, bins: int = 16
) -> DataFrame:
    """Leave-one-out binned KS from a wide (cohort, c0..c{bins-1}, n)
    bin-count matrix — the SAME state `streaming.pipeline.psi_bin_counts`
    folds (drift monitoring shares one mergeable summary across PSI and
    KS).  Per cohort the ECDF is a fixed-order literal running sum over
    the count columns; the rest-of-pool ECDF subtracts the cohort from
    the broadcast totals (one tiny aggregate).  Single-cohort states
    return NULL ks_d (no comparison population — DEVNOTES #44, never a
    divide-by-zero)."""
    tot = state.agg(
        *[F.sum(f"c{i}").alias(f"t{i}") for i in range(bins)],
        F.sum("n").alias("tn"),
    )
    j = state.crossJoin(F.broadcast(tot))
    ca = "0"
    ct = "0"
    d_terms = []
    for i in range(bins):
        ca = f"{ca} + c{i}"
        ct = f"{ct} + t{i}"
        d_terms.append(
            f"abs(CAST({ca} AS DOUBLE) / CAST(n AS DOUBLE)"
            f" - CAST(({ct}) - ({ca}) AS DOUBLE) / CAST(tn - n AS DOUBLE))"
        )
    d_expr = "greatest(" + ", ".join(d_terms) + ")"
    return j.selectExpr(
        f"{cohort_col}",
        "CAST(n AS BIGINT) AS n_cohort",
        f"CASE WHEN tn = n THEN CAST(NULL AS DOUBLE) ELSE {d_expr} END AS ks_d",
    )


def rank_sum_from_counts(
    state: DataFrame, cohort_col: str, bins: int = 16
) -> DataFrame:
    """Leave-one-out grouped-midrank Mann-Whitney from the same wide
    (cohort, c0..c{bins-1}, n) bin-count matrix `ks_from_counts` reads —
    the third monitor served by the one mergeable streaming summary
    (PSI, KS, rank-sum).  Per cohort: 2R = sum_b a_b * (2*cc_b - c_b + 1)
    over pooled running counts, u2 = 2R - n(n+1), auc = u2 / (2 n m);
    the state's integer-valued doubles are CAST back to BIGINT before
    the rank arithmetic (double products lose exactness past 2^53 —
    the batch lane is bigint end-to-end, so the read-out must be too),
    one final division.  Single-cohort states return NULL auc."""
    tot = state.agg(
        *[F.sum(f"c{i}").cast("bigint").alias(f"t{i}") for i in range(bins)],
        F.sum("n").cast("bigint").alias("tn"),
    )
    j = state.crossJoin(F.broadcast(tot))
    cc = "CAST(0 AS BIGINT)"  # pooled running count through bin i
    terms = []
    for i in range(bins):
        cc = f"{cc} + t{i}"
        terms.append(f"CAST(c{i} AS BIGINT) * (2 * ({cc}) - t{i} + 1)")
    twice_r = " + ".join(terms)
    u2 = f"(({twice_r}) - CAST(n AS BIGINT) * (CAST(n AS BIGINT) + 1))"
    return j.selectExpr(
        f"{cohort_col}",
        f"CAST({u2} AS BIGINT) AS u2",
        f"CASE WHEN tn = CAST(n AS BIGINT) THEN CAST(NULL AS DOUBLE) "
        f"ELSE CAST({u2} AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tn - CAST(n AS BIGINT) AS DOUBLE) * 2.0) "
        f"END AS auc",
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH cents AS (
        SELECT event_type, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    tot AS (SELECT event_type, sum(cents) AS s_n, count(*) AS n
            FROM cents GROUP BY 1),
    run AS (
        SELECT c.event_type, c.ts, c.event_id, t.n,
               sum(c.cents) OVER (PARTITION BY c.event_type ORDER BY c.ts, c.event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               row_number() OVER (PARTITION BY c.event_type ORDER BY c.ts, c.event_id) AS k,
               t.s_n
        FROM cents c JOIN tot t ON c.event_type = t.event_type
    ),
    stat AS (
        SELECT event_type, ts, event_id, n,
               abs(n * cum - k * s_n) AS stat2,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(n * cum - k * s_n) DESC, ts, event_id) AS rn
        FROM run
    )
    SELECT event_type, ts AS cp_ts, event_id AS cp_event_id,
           CAST(stat2 AS BIGINT) AS stat2,
           CAST(stat2 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS cusum_stat
    FROM stat WHERE rn = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint per series: the timestamp maximizing
    |S_k - (k/n) S_n| over the ts-ordered value series — where the
    running sum departs furthest from the global trend line, i.e. the
    most likely single mean-shift point (the batch twin of a streaming
    CUSUM alarm).  `cusum_stat` is the max deviation in value units.

    Exactness: values go to integer cents (same floor idiom as the
    merge-family oracles), the running sum / totals stay BIGINT, and
    the argmax compares the EXACT integer |n*S_k - k*S_n| — floats
    appear only in the final reported statistic.  Tiebreak (ts,
    event_id) per DEVNOTES #6.  Scale: one partitioned window + one
    broadcast totals join per series — no global sort; bigint headroom
    n*cum needs n * sum(cents) < 9e18, i.e. fine to ~1e8 rows/series at
    these magnitudes, past which the series shards by epoch first.
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return cusum_by_series(e, "event_type", "ts", "event_id", "value")


def cusum_by_series(
    df: DataFrame, series_col: str, ts_col: str, id_col: str, value_col: str
) -> DataFrame:
    """Generic CUSUM changepoint per series (facade twin of the
    `cusum_changepoint` catalog entry — same integer-exact plan)."""
    e = df.where(F.col(value_col).isNotNull())
    cents = e.select(
        F.col(series_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        F.floor(F.col(value_col) * 100).cast("bigint").alias("cents"),
    )
    tot = cents.groupBy("event_type").agg(
        F.sum("cents").alias("s_n"), F.count("*").alias("n")
    )
    ord_cols = [F.col("ts"), F.col("event_id")]
    w_run = (
        Window.partitionBy("event_type")
        .orderBy(*ord_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_num = Window.partitionBy("event_type").orderBy(*ord_cols)
    run = cents.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.sum("cents").over(w_run).alias("cum"),
        F.row_number().over(w_num).alias("k"),
        "s_n",
    )
    stat2 = F.abs(F.col("n") * F.col("cum") - F.col("k") * F.col("s_n"))
    w_arg = Window.partitionBy("event_type").orderBy(
        stat2.desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        run.select(
            "event_type",
            "ts",
            "event_id",
            "n",
            stat2.alias("stat2"),
            F.row_number().over(w_arg).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("event_type").alias(series_col),
            F.col("ts").alias("cp_ts"),
            F.col("event_id").alias("cp_event_id"),
            F.col("stat2").cast("bigint").alias("stat2"),
            (F.col("stat2").cast("double") / (F.col("n").cast("double") * F.lit(100.0))).alias(
                "cusum_stat"
            ),
        )
    )


_WINS_CTES = """
    sums AS (SELECT user_id, event_type,
                    sum(CAST(floor(value * 100) AS BIGINT)) AS s
             FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    duels AS (SELECT CASE WHEN a.s > b.s THEN a.event_type ELSE b.event_type END AS w,
                     CASE WHEN a.s > b.s THEN b.event_type ELSE a.event_type END AS l
              FROM sums a JOIN sums b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
              WHERE a.s <> b.s),
    wins AS (SELECT w, l, count(*) AS n FROM duels GROUP BY 1, 2)
"""


@register(
    "pairwise_wins",
    oracle="WITH "
    + _WINS_CTES
    + """
    SELECT w AS winner, l AS loser, CAST(n AS BIGINT) AS n_wins FROM wins
    """,
)
def pairwise_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-preference extraction: each user "judges" every pair of
    event types they touched — the type with the larger exact
    integer-cents value total wins the duel; exact ties abstain.  The
    aggregated (winner, loser, n) matrix is the input to any pairwise
    rating model (Bradley-Terry below, win-rate boards, Elo-style
    leaderboards) — the RLHF-comparison reduction step.

    This is the DISTRIBUTED part of the rating pipeline and stays fully
    declarative: one groupBy to per-user totals, a self-equi-join on
    user_id (each user contributes C(k,2) duels for the k types they
    touched), and a k^2-key aggregate.  Everything is integer-exact.
    """
    e = load_tables(spark, sf_dir, "events")["events"].where(F.col("value").isNotNull())
    sums = e.groupBy("user_id", "event_type").agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("s")
    )
    a, b = sums.alias("a"), sums.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .where(F.col("a.s") != F.col("b.s"))
        .select(
            F.when(F.col("a.s") > F.col("b.s"), F.col("a.event_type"))
            .otherwise(F.col("b.event_type"))
            .alias("w"),
            F.when(F.col("a.s") > F.col("b.s"), F.col("b.event_type"))
            .otherwise(F.col("a.event_type"))
            .alias("l"),
        )
    )
    return duels.groupBy(F.col("w").alias("winner"), F.col("l").alias("loser")).agg(
        F.count("*").cast("bigint").alias("n_wins")
    )


_BT_ITERS = 25
# bt_ratings_distributed round-state transport cutover: at or below
# this many items a round's (i, p) state is a few MB — comfortably
# under the 10 MB broadcast threshold — and rides a driver-local
# relation instead of a parquet round-trip (no work_dir given).  Above
# it (or with an explicit work_dir) rounds keep the restartable parquet
# discipline; SCALE_SMOKE.md ("Round-5 shapes") records that path at
# 10^5 items.
_BT_LOCAL_MAX = 50_000


def _bt_oracle_sql() -> str:
    """Unrolled 25-iteration Bradley-Terry MM chain over the wins CTEs.
    Float group-sums appear inside each iteration (order-unspecified),
    so the final ratings are round(6)ed on both engines — MM is a
    contraction, keeping cross-engine drift at the last-ULP level
    (precedent: agg_percentiles)."""
    # Every itK is referenced twice by itK+1 — without MATERIALIZED,
    # CTE inlining re-expands the chain exponentially (2^25 scans).
    ctes = [
        """items AS MATERIALIZED (SELECT w AS i FROM wins UNION SELECT l FROM wins),
    pairs AS MATERIALIZED (SELECT i, j, sum(n) AS n FROM (
                SELECT w AS i, l AS j, n FROM wins
                UNION ALL SELECT l AS i, w AS j, n FROM wins) u
              GROUP BY 1, 2),
    wtot AS MATERIALIZED (SELECT it.i, CAST(coalesce(s.wn, 0) AS DOUBLE) AS wi
             FROM items it LEFT JOIN
                  (SELECT w AS i, sum(n) AS wn FROM wins GROUP BY 1) s
               ON it.i = s.i),
    it0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM items)"""
    ]
    for k in range(1, _BT_ITERS + 1):
        ctes.append(
            f"""it{k} AS MATERIALIZED (
        SELECT w.i,
               CASE WHEN w.wi = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE w.wi / sum(CASE WHEN ri.p + rj.p = 0 THEN CAST(0.0 AS DOUBLE)
                                         ELSE CAST(p.n AS DOUBLE) / (ri.p + rj.p) END)
               END AS p
        FROM wtot w
        JOIN pairs p ON p.i = w.i
        JOIN it{k - 1} ri ON ri.i = p.i
        JOIN it{k - 1} rj ON rj.i = p.j
        GROUP BY w.i, w.wi)"""
        )
    return (
        "WITH "
        + _WINS_CTES
        + ",\n    "
        + ",\n    ".join(ctes)
        + f""",
    tot AS (SELECT sum(p) AS t FROM it{_BT_ITERS})
    SELECT f.i AS event_type,
           CAST(coalesce(g.wn, 0) AS BIGINT) AS n_wins,
           round(f.p / tot.t, 6) AS rating
    FROM it{_BT_ITERS} f
    LEFT JOIN (SELECT w AS i, sum(n) AS wn FROM wins GROUP BY 1) g ON f.i = g.i
    CROSS JOIN tot
    """
    )


@register("bradley_terry_ratings", oracle=_bt_oracle_sql())
def bradley_terry_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings from the pairwise duel matrix —
    the model-ranking / preference-strength estimator behind chat-arena
    leaderboards (vs raw win rate, BT corrects for opponent strength).

    100 TB shape: the heavy lifting is `pairwise_wins` (one shuffle to
    the k^2-row duel matrix); the MM solve then runs on the DRIVER over
    that matrix (guarded collect — k item types, never row-scale) and
    the k-row rating table broadcasts wherever it joins next.  An
    iterative k x k solve has no business shuffling a cluster.  Spark
    and the unrolled-CTE DuckDB oracle both run 25 MM iterations from
    p=1; ratings normalize to sum 1 and are round(6)ed on both sides
    (cross-engine sum-order drift is last-ULP, DEVNOTES #5).
    """
    return bt_ratings_from_wins(spark, pairwise_wins(spark, sf_dir), "event_type")


def bt_ratings_from_wins(
    spark: SparkSession, wins_df: DataFrame, item_col: str = "item"
) -> DataFrame:
    """MM solve over any (winner, loser, n_wins) frame (facade twin of
    `bradley_terry_ratings` — guarded driver collect, k^2 cells)."""
    rows = wins_df.collect()
    if len(rows) > 10_000:
        raise ValueError(
            f"duel matrix has {len(rows)} cells; expected k^2 item pairs — "
            "aggregate items before rating"
        )
    n: dict[tuple[str, str], int] = {}
    wi: dict[str, float] = {}
    items: set[str] = set()
    for r in rows:
        w, l, c = r["winner"], r["loser"], int(r["n_wins"])
        items.update((w, l))
        n[(w, l)] = n.get((w, l), 0) + c
        n[(l, w)] = n.get((l, w), 0) + c
        wi[w] = wi.get(w, 0.0) + c
    order = sorted(items)
    p = {i: 1.0 for i in order}
    for _ in range(_BT_ITERS):
        new = {}
        for i in order:
            w_i = wi.get(i, 0.0)
            if w_i == 0:
                new[i] = 0.0
                continue
            den = 0.0
            for j in order:
                nij = n.get((i, j))
                if nij:
                    s = p[i] + p[j]
                    den += nij / s if s != 0 else 0.0
            new[i] = w_i / den
        p = new
    tot = 0.0
    for i in order:
        tot += p[i]
    out = [(i, int(wi.get(i, 0.0)), round(p[i] / tot, 6)) for i in order]
    return local_frame(spark, out, f"{item_col} string, n_wins bigint, rating double")


@register("bradley_terry_distributed", oracle=_bt_oracle_sql())
def bradley_terry_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-scale Bradley-Terry: the DISTRIBUTED MM twin of
    `bradley_terry_ratings` for duel matrices the driver cannot hold
    (10^6 items — per-document preference data, where k^2 cells is not
    "a leaderboard" any more).  Each MM update is ONE join-aggregate —
    pairs ⋈ ratings (on i) ⋈ ratings (on j) → per-item denominator sums
    → wi/den — the pair matrix persists once, ratings are O(|items|),
    round state rides parquet (clean scan leaf per round — see
    bt_ratings_distributed / DEVNOTES #48 for why checkpoint loops
    compound), fixed {_BT_ITERS} iterations keep it
    SQL-expressible against the identical unrolled-CTE oracle.  Same
    p=1 start, same zero-guards, same round(6) normalized output as the
    driver solve — pinned equal to it in tests/test_preference_graph.py
    and smoked at 10^5 items (SCALE_SMOKE.md, "Round-5 shapes").
    """
    return bt_ratings_distributed(pairwise_wins(spark, sf_dir), "event_type")


def bt_ratings_distributed(
    wins_df: DataFrame,
    item_col: str = "item",
    iters: int = _BT_ITERS,
    work_dir: str | None = None,
) -> DataFrame:
    """MM solve over any (winner, loser, n_wins) frame as join-aggregate
    iterations (facade twin of `bradley_terry_distributed`); use
    `bt_ratings_from_wins` when k is leaderboard-sized — a k x k solve
    has no business shuffling a cluster, but a 10^6-item one has no
    business on the driver.

    Iteration state rides PARQUET, not checkpoint/cache: each round's
    O(|items|) ratings table is written out and re-read, so every round
    starts from a clean file-scan leaf — constant plan depth, constant
    (real) size statistics, zero recompute lineage.  The obvious
    alternatives compound across 25 rounds: a checkpointed LogicalRDD
    preserves its origin's sizeInBytes, and Catalyst's visitJoin
    MULTIPLIES child sizes, so the estimate SQUARES per round (measured:
    30+ min inside BigInteger.multiplyToomCook3 before any task ran);
    cache-and-unpersist loops stall on recompute races.  Persisting each
    round to storage is the standard iterative-job discipline at cluster
    scale anyway (it is what makes a 10^6-item run restartable).

    ``work_dir``: where round state lands.  On a REAL cluster this must
    be a shared filesystem path (S3/HDFS/NFS — e.g. a scratch area
    beside the warehouse; Engine.rate_pairwise_distributed passes one
    automatically).  When unset, `session.scratch_dir` resolves it: the
    ``tcdb.scratch.dir`` session conf if configured, a driver-local
    tempdir in local mode, and a hard error otherwise (a driver-local
    path is NOT shared with cluster executors).

    Round-state transport (round 9, VERDICT r8 #8): when no ``work_dir``
    is given AND the item set is broadcast-sized (<= {_BT_LOCAL_MAX}
    items — a few MB of (i, p) doubles, far under the 10 MB broadcast
    threshold), each round's O(|items|) ratings ride a DRIVER-LOCAL
    relation instead of a parquet round-trip: collect the round's
    output (bounded by construction) and re-inject it with a reused
    explicit schema — same joins, same aggregation, same float values
    (the persisted ``pairs`` partitioning is unchanged, and ``p`` is
    the broadcast side under either transport, so partial-sum order is
    identical), zero file I/O, constant plan depth.  This cuts the
    per-round fixed cost ~2x (write job + listing + re-read scan
    eliminated).  An explicit ``work_dir`` keeps the parquet rounds —
    that is the restartability contract a caller opts into — as does
    any item set past the local cap (the documented fallback; smoked at
    10^5 items, SCALE_SMOKE.md "Round-5 shapes")."""
    from tcdb_spark.session import scratch_dir

    spark = wins_df.sparkSession
    # the normalized duel matrix feeds BOTH the symmetrized pair table
    # and the per-item win totals; without a persist the whole upstream
    # derivation (e.g. pairwise_wins' self-join) ran once per consumer
    # (measured: 2x of the 7.3 s sf0.01 setup wall, round 9)
    w = wins_df.select(
        F.col("winner").alias("i"), F.col("loser").alias("j"),
        F.col("n_wins").cast("bigint").alias("n"),
    ).persist()
    pairs = (
        w.unionByName(w.select(F.col("j").alias("i"), F.col("i").alias("j"), "n"))
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"))
        .persist()
    )
    wtot = (
        pairs.select("i")
        .distinct()
        .join(w.groupBy("i").agg(F.sum("n").alias("wn")), "i", "left")
        .select("i", F.coalesce(F.col("wn"), F.lit(0)).cast("double").alias("wi"))
        .persist()
    )
    n_pairs = pairs.count()  # materializes the persisted duel matrix
    n_items = wtot.count()
    local_rounds = work_dir is None and n_items <= _BT_LOCAL_MAX
    tmp = None if local_rounds else (work_dir or scratch_dir(spark, "bt_mm_rounds_"))
    # Size-derived scan width over the CACHED frames (round 9): cached
    # plans are exempt from AQE partition coalescing
    # (canChangeCachedPlanOutputPartitioning is off by default), so a
    # leaderboard-sized duel matrix persisted across
    # spark.sql.shuffle.partitions tiny blocks made EVERY round schedule
    # one task per block per stage — 25 rounds x 3 stages x 32 tasks of
    # pure scheduling was ~2/3 of the sf0.01 wall.  Scans inside the
    # round loop ride a coalesce derived from the measured row counts
    # (~1M rows per task; coalesce never increases partition count, so
    # a genuinely large matrix keeps its parallelism).
    import math as _m

    pairs_s = pairs.coalesce(max(1, _m.ceil(n_pairs / 1_000_000)))
    wtot_s = wtot.coalesce(max(1, _m.ceil(n_items / 1_000_000)))
    # one session-scoped schema for every local round — explicit, so
    # re-injection never pays per-round schema inference
    from pyspark.sql.types import DoubleType, StructField, StructType

    p_schema = StructType(
        [wtot.schema["i"], StructField("p", DoubleType(), True)]
    )
    p = wtot_s.select("i", F.lit(1.0).alias("p"))
    for k in range(iters):
        den = (
            pairs_s.join(p.select(F.col("i"), F.col("p").alias("pi")), "i")
            .join(p.select(F.col("i").alias("j"), F.col("p").alias("pj")), "j")
            .select(
                "i",
                F.when(F.col("pi") + F.col("pj") == 0, F.lit(0.0))
                .otherwise(F.col("n").cast("double") / (F.col("pi") + F.col("pj")))
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("den"))
        )
        new_p = wtot_s.join(den, "i").select(
            "i",
            F.when((F.col("wi") == 0) | (F.col("den") == 0), F.lit(0.0))
            .otherwise(F.col("wi") / F.col("den"))
            .alias("p"),
        )
        if local_rounds:
            # bounded driver pull (<= _BT_LOCAL_MAX (i, p) rows) and
            # re-injection as a LocalRelation — no file I/O, no scan
            # leaf, constant plan depth; doubles round-trip exactly
            p = local_frame(spark, new_p.collect(), p_schema)
            continue
        # alternate two round dirs; the FINAL round keeps its files (the
        # returned DataFrame scans them lazily — retention contract in
        # session.remove_scratch: final dir is the caller's to delete
        # after materializing the result)
        path = f"{tmp}/round_{k % 2}" if k < iters - 1 else f"{tmp}/final"
        new_p.write.mode("overwrite").parquet(path)
        p = spark.read.parquet(path)
        if k == iters - 1:
            from tcdb_spark.session import remove_scratch

            for dead in (f"{tmp}/round_0", f"{tmp}/round_1"):
                remove_scratch(spark, dead)
    tot = p.agg(F.sum("p").alias("t"))
    out = (
        p.crossJoin(F.broadcast(tot))
        .join(wtot_s, "i")
        .select(
            F.col("i").alias(item_col),
            F.col("wi").cast("bigint").alias("n_wins"),
            F.round(F.col("p") / F.col("t"), 6).alias("rating"),
        )
    )
    return out


_CN_DEG_CAP = 96
# co-occurrence-key cap for the edge-construction self-join: max buyers
# per (supplier, week) before the key is dropped as a hub (testdata max
# is 11 at sf0.1 — the cap is lossless there and bounds a planted
# megahub to <= cap^2 pairs)
_CO_KEY_CAP = 64

# Edge construction with the (supp, wk) hot-key cap MIRRORED in SQL —
# the engine df-caps via drop_hot_keys(> _CO_KEY_CAP) before the
# self-join, so the oracle must exclude the same hot keys or the two
# silently diverge on any dataset with a co-occurrence key over the cap
# (graph_triangles' shared _TRI_EDGES_SQL stays uncapped because its
# engine twin builds edges uncapped).
_CN_EDGES_SQL = f"""
    co AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s,
                  CAST(floor(epoch(o.o_orderdate) / 604800) AS BIGINT) AS wk
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    hot AS (SELECT s, wk FROM co GROUP BY 1, 2 HAVING count(*) > {_CO_KEY_CAP}),
    cok AS (SELECT co.c, co.s, co.wk FROM co
            LEFT JOIN hot ON co.s = hot.s AND co.wk = hot.wk
            WHERE hot.s IS NULL),
    e AS (SELECT a.c AS u, b.c AS v FROM cok a JOIN cok b
          ON a.s = b.s AND a.wk = b.wk AND a.c < b.c GROUP BY 1, 2)
"""


@register(
    "graph_common_neighbors",
    oracle=(
        "WITH "
        + _CN_EDGES_SQL
        + f""",
    adj AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
    deg AS (SELECT x, count(*) AS d FROM adj GROUP BY 1),
    mid AS (SELECT a.x, a.y FROM adj a JOIN deg d ON a.y = d.x
            WHERE d.d <= {_CN_DEG_CAP}),
    cn AS (SELECT a.x AS u, b.x AS v, count(*) AS cn
           FROM mid a JOIN mid b ON a.y = b.y AND a.x < b.x
           GROUP BY 1, 2),
    ne AS (SELECT cn.u, cn.v, cn.cn FROM cn
           LEFT JOIN e ON cn.u = e.u AND cn.v = e.v
           WHERE e.u IS NULL),
    j AS (SELECT ne.u, ne.v, ne.cn, du.d AS du, dv.d AS dv
          FROM ne JOIN deg du ON ne.u = du.x JOIN deg dv ON ne.v = dv.x)
    SELECT u, v, CAST(cn AS BIGINT) AS common_neighbors,
           CAST(cn AS DOUBLE) / CAST(du + dv - cn AS DOUBLE) AS jaccard
    FROM j
    ORDER BY jaccard DESC, u, v LIMIT 50
    """
    ),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the customer co-purchase graph: top-50
    non-adjacent pairs by neighborhood Jaccard — "these two customers
    share most of their graph context but no edge yet", the
    recommendation / entity-consolidation primitive (same edge set as
    `graph_triangles`).

    Scale: the wedge join is the quadratic hazard (hub middle vertex b
    contributes deg(b)^2 candidate pairs), so middle vertices above a
    degree cap are excluded from CONNECTING pairs (cap {_CN_DEG_CAP};
    true degrees still drive the Jaccard) — hubs are terrible link
    evidence anyway (a megahub connecting everyone predicts nothing),
    the same df-cap discipline as `dedup_ngram_jaccard`.  The EDGE
    CONSTRUCTION self-join has the same hazard one step earlier: a hot
    (supp, wk) co-occurrence key with 10^6 buyers yields 10^12 candidate
    pairs before the wedge cap ever runs, so the co-purchase frame is
    df-capped on (supp, wk) at {_CO_KEY_CAP} first (`drop_hot_keys`) —
    lossless when no key is hot (testdata max is 11; the planted-hot-key
    test pins survival).  Candidate scoring is integer counts; Jaccard
    is the single final division; top-50 is orderBy+limit
    (TakeOrderedAndProject, never a global sort), tiebreak (u, v) per
    DEVNOTES #6.
    """
    from tcdb_spark.operators.graph import common_neighbor_links

    e = copurchase_edges(spark, sf_dir)
    return common_neighbor_links(e, deg_cap=_CN_DEG_CAP, top_n=50)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer co-purchase edge set `graph_common_neighbors` runs
    on — ONE derivation shared with bench.py's `graph_wedge_candidates`
    diagnostic, so the recorded candidate count can never silently
    describe a different edge set than the lane being timed."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    co = (
        t["orders"]
        .join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
            F.floor(F.unix_timestamp("o_orderdate") / 604800).cast("bigint").alias("wk"),
        )
    )
    # no .distinct() here (round 9): cooccurrence_edges dedups per
    # (node, key) internally, riding the same single exchange as its
    # hot-key count and member-list aggregation
    return cooccurrence_edges(co, ["supp", "wk"], "cust", key_cap=_CO_KEY_CAP)


def cooccurrence_edges(
    co: DataFrame, key_cols: list[str], node_col: str, key_cap: int
) -> DataFrame:
    """Undirected co-occurrence edges (u < v): two nodes connect when
    they share a key.  ``co`` need not be distinct per (node, key) —
    dedup happens inside, on the same exchange as everything else.

    ONE exchange end-to-end (round 9, guide §2.4 — was: a distinct
    exchange + a hot-key count exchange + the two-sided self-join
    exchange, measured 3.9 s of the graph lane's 9 s cold wall at
    sf0.1): repartition by the co-occurrence key once, then the
    per-(node, key) dedup, the hot-key member count (a whole-partition
    window), and the member-list aggregation all satisfy their
    distribution requirement from that single hash partitioning (each
    groups on a SUPERSET of the partitioning key).  Keys with more
    than ``key_cap`` members are dropped before any list is collected —
    the count filter runs ahead of collect_list, so a megahub key
    (near-zero co-occurrence evidence, quadratic hazard: 10^6 members
    = 10^12 pairs) crosses the plan only as counted-then-dropped rows,
    never as a collected list.  Pair emission is the same
    two-native-explode enumeration as the wedge stage: each key's
    sorted member list yields exactly its i < j pairs in codegen.
    Planted-hot-key survival is pinned in
    tests/test_preference_graph.py."""
    from pyspark.sql.window import Window as W

    keyed = co.repartition(*[F.col(k) for k in key_cols])
    dedup = keyed.dropDuplicates([node_col, *key_cols])
    n = F.count(F.lit(1)).over(W.partitionBy(*key_cols))
    kept = dedup.withColumn("__n", n).where(F.col("__n") <= key_cap)
    members = kept.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(node_col)).alias("ms")
    )
    return (
        members.select(F.posexplode("ms").alias("__i", "u"), "ms")
        .select(
            "u",
            F.explode(
                F.slice(F.col("ms"), F.col("__i") + F.lit(2), F.size("ms"))
            ).alias("v"),
        )
        .distinct()
    )


from tcdb_spark.plans.catalog import ORACLES as _ORACLES  # noqa: E402

_LANG_GUESS_SQL = _ORACLES["text_lang_id"]


@register(
    "annotator_kappa",
    oracle=f"""
    WITH guesses AS ({_LANG_GUESS_SQL}),
    lab AS (
        SELECT d.source, g.lang_label, g.lang_guess
        FROM guesses g JOIN documents d ON g.doc_id = d.doc_id
    ),
    conf AS (SELECT source, lang_label, lang_guess, count(*) AS n
             FROM lab GROUP BY 1, 2, 3),
    rows_ AS (SELECT source, lang_label AS k, sum(n) AS r FROM conf GROUP BY 1, 2),
    cols_ AS (SELECT source, lang_guess AS k, sum(n) AS c FROM conf GROUP BY 1, 2),
    tot AS (SELECT source, sum(n) AS n,
                   sum(CASE WHEN lang_label = lang_guess THEN n ELSE 0 END) AS agree
            FROM conf GROUP BY 1),
    pe AS (SELECT r.source, sum(r.r * c.c) AS pe_num
           FROM rows_ r JOIN cols_ c ON r.source = c.source AND r.k = c.k
           GROUP BY 1)
    SELECT t.source, CAST(t.n AS BIGINT) AS n_docs, CAST(t.agree AS BIGINT) AS n_agree,
           CASE WHEN t.n * t.n = p.pe_num THEN NULL
                ELSE CAST(t.agree * t.n - p.pe_num AS DOUBLE)
                     / CAST(t.n * t.n - p.pe_num AS DOUBLE) END AS kappa
    FROM tot t JOIN pe p ON t.source = p.source
    """,
)
def annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per source between the labeled language and the
    heuristic detector — chance-corrected agreement, the labeling-QA
    statistic behind every annotation/RLHF pipeline (raw accuracy
    rewards majority-class collapse; kappa does not).  Reuses the
    `text_lang_id` plan verbatim as one "annotator" (same convention as
    `lang_id_confusion`).

    kappa = (po-pe)/(1-pe) is computed entirely from integer marginals
    as (agree*n - pe_num)/(n*n - pe_num) — ONE float division at the
    end; NULL (not a DIVIDE_BY_ZERO crash — DEVNOTES #44) when a
    degenerate source has pe = 1.  Scale: a 25-cell confusion matrix
    per source; everything after the corpus scan is metadata-sized.
    """
    from tcdb_spark.plans.queries_text import text_lang_id

    # source rides the lang-id projection itself (same scan, same
    # non-empty filter) — the former join-back on doc_id was a corpus
    # self-join existing only to re-attach a column of the same table
    lab = text_lang_id(spark, sf_dir, _carry=("source",))
    return cohen_kappa(lab, "source", "lang_label", "lang_guess").withColumnRenamed(
        "n_rows", "n_docs"
    )


def cohen_kappa(
    df: DataFrame, group_col: str, label_col: str, pred_col: str
) -> DataFrame:
    """Generic per-group Cohen's kappa between two label columns
    (facade twin of `annotator_kappa` — integer marginals, one final
    division, NULL on the pe=1 degenerate)."""
    conf = df.groupBy(group_col, label_col, pred_col).agg(F.count("*").alias("n"))
    rows_ = conf.groupBy(group_col, F.col(label_col).alias("k")).agg(F.sum("n").alias("r"))
    cols_ = conf.groupBy(group_col, F.col(pred_col).alias("k")).agg(F.sum("n").alias("c"))
    tot = conf.groupBy(group_col).agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col(label_col) == F.col(pred_col), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    pe = (
        rows_.join(cols_, [group_col, "k"])
        .groupBy(group_col)
        .agg(F.sum(F.col("r") * F.col("c")).alias("pe_num"))
    )
    n2 = F.col("n") * F.col("n")
    return (
        tot.join(pe, group_col)
        .select(
            group_col,
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("agree").cast("bigint").alias("n_agree"),
            F.when(n2 == F.col("pe_num"), F.lit(None).cast("double"))
            .otherwise(
                (F.col("agree") * F.col("n") - F.col("pe_num")).cast("double")
                / (n2 - F.col("pe_num")).cast("double")
            )
            .alias("kappa"),
        )
    )


from tcdb_spark.plans.queries_text import STOPWORDS  # noqa: E402

_STOP_SQL = ", ".join("'" + s + "'" for s in STOPWORDS)


@register(
    "preference_pairs",
    oracle=f"""
    WITH scored AS (
        SELECT source, doc_id,
               3 * len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x IN ({_STOP_SQL})))
               + len(regexp_split_to_array(trim(text), '\\s+'))
               - 2 * length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS score
        FROM documents WHERE length(trim(text)) > 0
    ),
    ranked AS (
        SELECT source, doc_id, score,
               row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn_top,
               row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id) AS rn_bot
        FROM scored
    )
    SELECT t.source, t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           CAST(t.score - b.score AS BIGINT) AS margin
    FROM ranked t JOIN ranked b ON t.source = b.source
    WHERE t.rn_top = 1 AND b.rn_bot = 1
      AND t.doc_id <> b.doc_id AND t.score > b.score
    """,
)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: per group (source), pair
    the best- and worst-scoring documents under an integer composite
    quality score (stopword hits, token count, punctuation density —
    the same signals as `text_quality_score`, combined with integer
    weights so ranking and margin are exact).  Groups whose extremes
    tie (or collapse to one doc) emit no pair — a zero-margin pair is
    training noise.

    Scale: two row_number windows partitioned by group + a self-join on
    the two rank-1 rows — per-group cost, no global sort; margin stays
    BIGINT end to end.  Tiebreak doc_id per DEVNOTES #6.
    """
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    score = (
        F.lit(3) * F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
        + F.size(toks)
        - F.lit(2) * F.length(F.regexp_replace(F.col("text"), r"[^.,!?;:]", ""))
    )
    scored = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "source", "doc_id", score.cast("bigint").alias("score")
    )
    return preference_pairs_from(scored, "source", "doc_id", "score")


def preference_pairs_from(
    scored: DataFrame, group_col: str, id_col: str, score_col: str
) -> DataFrame:
    """Generic best-vs-worst pair construction over any scored frame
    (facade twin of `preference_pairs`): two partitioned rank windows +
    a rank-1 self-join; tied or single-member groups emit no pair."""
    ranked = scored.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
    ).select(
        "g",
        "id",
        "score",
        F.row_number().over(
            Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("id"))
        ).alias("rn_top"),
        F.row_number().over(
            Window.partitionBy("g").orderBy(F.col("score").asc(), F.col("id"))
        ).alias("rn_bot"),
    )
    t = ranked.where(F.col("rn_top") == 1).alias("t")
    b = ranked.where(F.col("rn_bot") == 1).alias("b")
    return (
        t.join(b, F.col("t.g") == F.col("b.g"))
        .where((F.col("t.id") != F.col("b.id")) & (F.col("t.score") > F.col("b.score")))
        .select(
            F.col("t.g").alias(group_col),
            F.col("t.id").alias("chosen_doc"),
            F.col("b.id").alias("rejected_doc"),
            (F.col("t.score") - F.col("b.score")).cast("bigint").alias("margin"),
        )
    )


# Poisson(1) CDF thresholds scaled to 2^32 and floored to EXACT integer
# literals: the bootstrap weight is decided by comparing the exact
# 32-bit hash integer against these — no floating point anywhere in the
# resampling, so both engines draw bit-identical weights.
_POISSON_T = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373, 4292415291, 4294609777]
_BOOT_REPS = 100


def _boot_u_sql(cast_type: str) -> str:
    """Exact 32-bit uniform integer from md5('boot1:'||event_id||':'||rep)
    — the engine-neutral hex-digit polynomial (DEVNOTES #46), kept as
    ONE shared SQL text modulo the string-type name (DEVNOTES #43)."""
    h = f"md5('boot1:' || CAST(event_id AS {cast_type}) || ':' || CAST(rep AS {cast_type}))"
    return " + ".join(
        f"CAST(position(substring({h}, {i + 1}, 1) IN '0123456789abcdef') - 1"
        f" AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )


def _boot_w_sql(cast_type: str) -> str:
    u = _boot_u_sql(cast_type)
    cases = " ".join(
        f"WHEN ({u}) < {t} THEN {k}" for k, t in enumerate(_POISSON_T)
    )
    return f"CASE {cases} ELSE 7 END"


@register(
    "bootstrap_ci_mean",
    oracle=f"""
    WITH expanded AS (
        SELECT e.event_type, e.event_id,
               CAST(floor(e.value * 100) AS BIGINT) AS cents,
               r.rep
        FROM events e
        CROSS JOIN (SELECT unnest(range(1, {_BOOT_REPS + 1})) AS rep) r
        WHERE e.value IS NOT NULL
    ),
    weighted AS (
        SELECT event_type, rep, cents, {_boot_w_sql('VARCHAR')} AS w
        FROM expanded
    ),
    reps AS (
        SELECT event_type, rep, sum(w * cents) AS swc, sum(w) AS sw
        FROM weighted GROUP BY 1, 2
    ),
    means AS (
        SELECT event_type,
               CASE WHEN sw = 0 THEN NULL
                    ELSE CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 END AS m
        FROM reps
    )
    SELECT event_type,
           round(quantile_cont(m, 0.025), 6) AS boot_lo,
           round(quantile_cont(m, 0.5), 6) AS boot_mid,
           round(quantile_cont(m, 0.975), 6) AS boot_hi
    FROM means GROUP BY event_type
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-cohort mean —
    THE distributed bootstrap: classical resampling needs n draws from
    a shared urn (sequential), while Poisson(1) weights are independent
    per row, so each of the {R} replicates is one weighted aggregate
    that partial-aggregates map-side like any other sum.  The 2.5/50/
    97.5 percentiles of the replicate means are the nonparametric CI a
    dashboard puts around every metric.

    Exactness: the resampling weight is decided by comparing the EXACT
    32-bit seeded-hash integer (DEVNOTES #46 polynomial) against
    integer-literal Poisson CDF thresholds — no float enters until the
    replicate mean's single division; percentile interpolation matches
    across engines with round(6) (agg_percentiles precedent).

    Scale: fan-out is rows x R with immediate map-side combine into
    |cohorts| x R partials — the shuffle carries R rows per cohort per
    partition, not the expanded data.  R=100 is the knob; the hash is
    seeded per (row, rep) so adding replicates never reshuffles old
    ones.
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    return bootstrap_ci(e, "event_type", "event_id", "value")


def bootstrap_ci(
    df: DataFrame, cohort_col: str, id_col: str, value_col: str, reps: int = _BOOT_REPS
) -> DataFrame:
    """Generic Poisson-bootstrap CI of the per-cohort mean (facade twin
    of `bootstrap_ci_mean`); `id_col` seeds the per-(row, rep) hash, so
    it must be unique per row for i.i.d. weights."""
    e = df.where(F.col(value_col).isNotNull()).select(
        F.col(cohort_col).alias("event_type"),
        F.col(id_col).alias("event_id"),
        F.col(value_col).alias("value"),
    )
    expanded = e.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.explode(F.sequence(F.lit(1), F.lit(reps))).alias("rep"),
    )
    w = F.expr(_boot_w_sql('STRING'))
    repagg = (
        expanded.select("event_type", "rep", "cents", w.alias("w"))
        .groupBy("event_type", "rep")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"), F.sum("w").alias("sw"))
    )
    m = F.when(F.col("sw") == 0, F.lit(None).cast("double")).otherwise(
        F.col("swc").cast("double") / F.col("sw").cast("double") / F.lit(100.0)
    )
    return (
        repagg.select("event_type", m.alias("m"))
        .groupBy(F.col("event_type").alias(cohort_col))
        .agg(
            F.round(F.percentile("m", F.lit(0.025)), 6).alias("boot_lo"),
            F.round(F.percentile("m", F.lit(0.5)), 6).alias("boot_mid"),
            F.round(F.percentile("m", F.lit(0.975)), 6).alias("boot_hi"),
        )
    )


@register(
    "ab_test_proportions",
    oracle="""
    WITH arms AS (
        SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
    ),
    denom AS (SELECT arm, count(*) AS n FROM arms GROUP BY 1),
    conv AS (
        SELECT e.event_type, a.arm, count(DISTINCT e.user_id) AS x
        FROM events e JOIN arms a ON e.user_id = a.user_id
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT c.event_type,
               sum(CASE WHEN c.arm = 0 THEN c.x ELSE 0 END) AS x_a,
               sum(CASE WHEN c.arm = 1 THEN c.x ELSE 0 END) AS x_b
        FROM conv c GROUP BY 1
    ),
    n_ AS (
        SELECT sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS n_a,
               sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS n_b
        FROM denom
    )
    SELECT w.event_type,
           CAST(w.x_a AS BIGINT) AS x_a, CAST(n_.n_a AS BIGINT) AS n_a,
           CAST(w.x_b AS BIGINT) AS x_b, CAST(n_.n_b AS BIGINT) AS n_b,
           CASE WHEN w.x_a + w.x_b = 0 OR w.x_a + w.x_b = n_.n_a + n_.n_b THEN NULL
                ELSE (CAST(w.x_a AS DOUBLE) / CAST(n_.n_a AS DOUBLE)
                    - CAST(w.x_b AS DOUBLE) / CAST(n_.n_b AS DOUBLE))
                     / sqrt((CAST(w.x_a + w.x_b AS DOUBLE) / CAST(n_.n_a + n_.n_b AS DOUBLE))
                          * (1.0 - CAST(w.x_a + w.x_b AS DOUBLE) / CAST(n_.n_a + n_.n_b AS DOUBLE))
                          * (1.0 / CAST(n_.n_a AS DOUBLE) + 1.0 / CAST(n_.n_b AS DOUBLE)))
           END AS z_stat
    FROM wide w CROSS JOIN n_
    """,
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type: users split into arms by
    id parity (the deterministic hash-split every experiment framework
    uses); "converted" = the user emitted at least one event of the
    type; z compares arm conversion rates under the pooled-variance
    normal approximation — the decision statistic of every A/B
    dashboard.  NULL z on the all-or-none degenerates (DEVNOTES #44).

    Exactness: x/n counts are integers; z is ONE shared-shape float
    expression (sub-expressions written identically on both engines;
    sqrt is correctly-rounded IEEE).  Scale: the arm is a pure function
    of user_id, so conversion counting and the denominator are two
    direct distinct-aggregates over the event scan — no materialized
    user dim and no events-x-users join (r8 §13: the former
    distinct + join-back re-derived a column the scan already holds);
    the denominator is a 1-row broadcast.
    """
    e = load_tables(spark, sf_dir, "events")["events"]
    arm = (F.col("user_id") % 2).alias("arm")
    conv = (
        # null user_id carries no arm — same rows the former inner join
        # against the user dim dropped
        e.where(F.col("user_id").isNotNull())
        .select("event_type", arm, "user_id")
        .groupBy("event_type", "arm")
        .agg(F.countDistinct("user_id").alias("x"))
    )
    wide = conv.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).alias("x_b"),
    )
    n_ = e.groupBy().agg(
        F.countDistinct(F.when(F.col("user_id") % 2 == 0, F.col("user_id"))).alias("n_a"),
        F.countDistinct(F.when(F.col("user_id") % 2 == 1, F.col("user_id"))).alias("n_b"),
    )
    x_pool = F.col("x_a") + F.col("x_b")
    n_pool = F.col("n_a") + F.col("n_b")
    p_pool = x_pool.cast("double") / n_pool.cast("double")
    z = (
        F.col("x_a").cast("double") / F.col("n_a").cast("double")
        - F.col("x_b").cast("double") / F.col("n_b").cast("double")
    ) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a").cast("double") + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    return wide.crossJoin(F.broadcast(n_)).select(
        "event_type",
        F.col("x_a").cast("bigint").alias("x_a"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_b").cast("bigint").alias("x_b"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.when((x_pool == 0) | (x_pool == n_pool), F.lit(None).cast("double"))
        .otherwise(z)
        .alias("z_stat"),
    )


# --- capped all-pairs preference expansion (round 8, session 3) -------------

_PREF_TOPK = 4


def preference_pairs_topk(
    scored: DataFrame, group_col: str, id_col: str, score_col: str, k: int = _PREF_TOPK
) -> DataFrame:
    """All strict-preference pairs among each group's top-k candidates
    — the denser DPO construction between best-vs-worst (1 pair/group)
    and full all-pairs (quadratic in group size, the skew hazard).
    Capping at k bounds every group's contribution at C(k,2) pairs NO
    MATTER how many candidates a hot prompt accumulated, which is the
    100 TB guarantee: pair count is k(k-1)/2 x n_groups, not
    sum(n_i^2).

    One shuffle: the rank window and the pair aggregate share the
    group-key partitioning (Exchange reuse), the collect_list is
    k-bounded by the rank filter BEFORE aggregation, and pairs emit
    from a nested array transform (rank_i < rank_j AND score_i >
    score_j — equal-score pairs are training noise and excluded).
    Ties rank deterministically by (score DESC, id ASC); duplicate
    natural ids with equal scores are value-identical either way."""
    w = Window.partitionBy("g").orderBy(F.col("s").desc(), F.col("id").asc())
    topk = (
        scored.select(
            F.col(group_col).alias("g"),
            F.col(id_col).alias("id"),
            F.col(score_col).alias("s"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    arr = topk.groupBy("g").agg(
        F.sort_array(F.collect_list(F.struct("rn", "id", "s"))).alias("cands")
    )
    pairs = F.flatten(
        F.transform(
            "cands",
            lambda a: F.filter(
                F.transform(
                    "cands",
                    lambda b: F.when(
                        (a["rn"] < b["rn"]) & (a["s"] > b["s"]),
                        F.struct(
                            a["id"].alias("chosen"),
                            b["id"].alias("rejected"),
                            (a["s"] - b["s"]).alias("margin"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    return (
        arr.select("g", F.explode(pairs).alias("p"))
        .select(
            F.col("g").alias(group_col),
            F.col("p.chosen").alias("chosen"),
            F.col("p.rejected").alias("rejected"),
            F.col("p.margin").cast("bigint").alias("margin"),
        )
    )


@register(
    "preference_pairs_topk",
    oracle=f"""
    WITH scored AS (
        SELECT user_id, event_id,
               CAST(floor(value * 100) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT user_id, event_id, s,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY s DESC, event_id ASC) AS rn
        FROM scored
    ), topk AS (
        SELECT * FROM ranked WHERE rn <= {_PREF_TOPK}
    )
    SELECT a.user_id, a.event_id AS chosen, b.event_id AS rejected,
           CAST(a.s - b.s AS BIGINT) AS margin
    FROM topk a JOIN topk b
      ON a.user_id = b.user_id AND a.rn < b.rn AND a.s > b.s
    """,
)
def preference_pairs_topk_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped all-pairs DPO expansion over events: each user's top-4
    integer-cents-scored events pair chosen-over-rejected with exact
    margins (docstring of :func:`preference_pairs_topk`).  The output
    feeds the rating stack directly — aggregating (chosen, rejected)
    to win counts is the `pairwise_wins` duel-matrix shape
    (composition pinned in tests/test_preference_graph.py)."""
    e = load_tables(spark, sf_dir, "events")["events"].where(
        F.col("value").isNotNull()
    )
    scored = e.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("s"),
    )
    return preference_pairs_topk(scored, "user_id", "event_id", "s")

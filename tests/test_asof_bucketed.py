"""asof_join_bucketed must be result-identical to asof_join(backward)
on arbitrary data — the bucketing is a partitioning strategy, not a
semantics change (VERDICT r5 #5: hot-key skew in the asof/interval
family).  Fixtures deliberately include exact-timestamp ties (right row
must be visible to a left row at the same ts), keys with no right rows,
buckets with no right rows (boundary carry across empty buckets), and
tolerance expiry."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tcdb_spark.operators.joins import asof_join, asof_join_bucketed


def _mk(spark, n_left=400, n_right=150, n_keys=7, seed=3):
    rng = np.random.default_rng(seed)
    base = 1_600_000_000
    left = spark.createDataFrame(
        [
            (
                int(k),
                int(base + t),
                float(v),
            )
            for k, t, v in zip(
                rng.integers(0, n_keys, n_left),
                rng.integers(0, 40 * 86400, n_left),
                rng.normal(size=n_left),
            )
        ],
        "k long, lts long, lval double",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    # right side misses key 0 entirely; duplicate some timestamps so
    # exact-tie visibility is exercised
    rows = []
    for k, t, v in zip(
        rng.integers(1, n_keys, n_right),
        rng.integers(0, 40 * 86400, n_right),
        rng.normal(size=n_right),
    ):
        rows.append((int(k), int(base + t), float(v)))
    # duplicate some (key, ts) rows with DIFFERENT values: since r7 both
    # variants break equal-ts ties deterministically by content hash
    # (_asof_pack), so value-divergent duplicates are a STRONGER pin —
    # plain and bucketed must pick the same winner (r6 sidestepped this
    # with value-identical duplicates; ADVICE r6 called it out)
    rows += [(int(r[0]), int(r[1]), float(r[2]) + 17.5) for r in rows[:10]]
    right = spark.createDataFrame(rows, "k long, rts long, rval double").withColumn(
        "rts", F.col("rts").cast("timestamp")
    )
    return left, right


def _canon(df):
    return sorted(
        (r["k"], str(r["lts"]), round(r["lval"], 9),
         None if r["rval"] is None else round(r["rval"], 9))
        for r in df.collect()
    )


@pytest.mark.parametrize("tolerance", [None, 48.0])
@pytest.mark.parametrize("bucket_hours", [6.0, 24.0, 240.0])
def test_bucketed_equals_plain_backward(spark, tolerance, bucket_hours):
    left, right = _mk(spark)
    plain = asof_join(
        left, right, ["k"], "lts", "rts", ["rval"],
        direction="backward", tolerance_hours=tolerance,
    ).select("k", "lts", "lval", "rval")
    bucketed = asof_join_bucketed(
        left, right, ["k"], "lts", "rts", ["rval"],
        bucket_hours=bucket_hours, tolerance_hours=tolerance,
    ).select("k", "lts", "lval", "rval")
    assert _canon(bucketed) == _canon(plain)
    assert plain.count() == left.count()  # left-preserving


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_null_keys_and_null_right_ts_equal_plain(spark, direction):
    """ADVICE r8: null join keys group together in BOTH variants (window
    partitionBy and groupBy treat NULL as equal), and a null right_ts
    must never become anyone's match — pin bucketed == plain on exactly
    that edge so the folded bucket-universe aggregation can't drift."""
    left = spark.createDataFrame(
        [(None, 1_600_000_100, 1.0), (None, 1_600_050_000, 2.0),
         (1, 1_600_000_200, 3.0), (2, 1_600_000_300, 4.0)],
        "k long, lts long, lval double",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(None, 1_600_000_000, 10.0), (None, 1_600_040_000, 11.0),
         (1, None, 99.0), (1, 1_600_000_150, 12.0), (2, None, 98.0)],
        "k long, rts long, rval double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    plain = asof_join(
        left, right, ["k"], "lts", "rts", ["rval"], direction=direction
    ).select("k", "lts", "lval", "rval")
    bucketed = asof_join_bucketed(
        left, right, ["k"], "lts", "rts", ["rval"],
        bucket_hours=6.0, direction=direction,
    ).select("k", "lts", "lval", "rval")
    from collections import Counter

    assert Counter(
        (r["k"], str(r["lts"]), r["lval"], r["rval"]) for r in bucketed.collect()
    ) == Counter(
        (r["k"], str(r["lts"]), r["lval"], r["rval"]) for r in plain.collect()
    )


def test_exact_tie_right_row_visible(spark):
    """A right row AT the left timestamp matches (right sorts first)."""
    left = spark.createDataFrame([(1, 1000)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 1000, 7.0), (1, 900, 3.0)], "k long, rts long, rval double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join_bucketed(left, right, ["k"], "lts", "rts", ["rval"], 1.0)
    assert out.collect()[0]["rval"] == 7.0


def test_boundary_carries_across_empty_buckets(spark):
    """Right row long before the left row, many empty buckets between."""
    left = spark.createDataFrame([(1, 100 * 86400)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 86400, 5.0)], "k long, rts long, rval double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join_bucketed(left, right, ["k"], "lts", "rts", ["rval"], 24.0)
    assert out.collect()[0]["rval"] == 5.0


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_planted_hot_key_equivalence(spark, direction):
    """One key carries 95% of both sides (the planted-skew fixture
    shape from the dedup/graph family): results must stay identical in
    ALL THREE directions — the wall-clock rescue at scale is measured
    in SCALE_SMOKE.md ("Round-6 skew shapes"), correctness is pinned
    here."""
    rng = np.random.default_rng(5)
    n = 20_000
    keys = np.where(rng.random(n) < 0.95, 1, rng.integers(2, 20, n))
    base = 1_600_000_000
    lts = base + rng.integers(0, 30 * 86400, n)
    left = spark.createDataFrame(
        [(int(k), int(t)) for k, t in zip(keys, lts)], "k long, lts long"
    ).withColumn("lts", F.col("lts").cast("timestamp")).withColumn("lval", F.lit(0.0))
    rk = np.where(rng.random(2000) < 0.95, 1, rng.integers(2, 20, 2000))
    rt = base + rng.integers(0, 30 * 86400, 2000)
    right = spark.createDataFrame(
        [(int(k), int(t), float(v)) for k, t, v in zip(rk, rt, rng.normal(size=2000))],
        "k long, rts long, rval double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    plain = asof_join(
        left, right, ["k"], "lts", "rts", ["rval"], direction=direction
    ).select("k", "lts", "lval", "rval")
    bucketed = asof_join_bucketed(
        left, right, ["k"], "lts", "rts", ["rval"], bucket_hours=12.0,
        direction=direction,
    ).select("k", "lts", "lval", "rval")
    assert _canon(bucketed) == _canon(plain)


# ---------------------------------------------------------------------------
# round-7 surface (VERDICT r6 #4): forward / nearest directions
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 48.0])
@pytest.mark.parametrize("bucket_hours", [6.0, 240.0])
def test_bucketed_equals_plain_all_directions(spark, direction, tolerance, bucket_hours):
    left, right = _mk(spark)
    plain = asof_join(
        left, right, ["k"], "lts", "rts", ["rval"],
        direction=direction, tolerance_hours=tolerance,
    ).select("k", "lts", "lval", "rval")
    bucketed = asof_join_bucketed(
        left, right, ["k"], "lts", "rts", ["rval"],
        bucket_hours=bucket_hours, tolerance_hours=tolerance, direction=direction,
    ).select("k", "lts", "lval", "rval")
    assert _canon(bucketed) == _canon(plain)
    assert plain.count() == left.count()


def test_forward_exact_ts_right_row_matches(spark):
    """Regression pin for the round-7 forward fix: a right row AT the
    left timestamp is the forward match (right_ts >= left_ts includes
    equality).  The original row-frame formulation ([current, +inf)
    over a sort where right rows preceded left at equal ts) silently
    skipped it and returned the NEXT row."""
    left = spark.createDataFrame([(1, 1000)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 1000, 7.0), (1, 2000, 3.0)], "k long, rts long, rval double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    for fn, kw in (
        (asof_join, {}),
        (asof_join_bucketed, {"bucket_hours": 1.0}),
    ):
        out = fn(
            left, right, ["k"], "lts", "rts", ["rval"], direction="forward", **kw
        ).collect()
        assert out[0]["rval"] == 7.0, fn.__name__


def test_forward_boundary_carries_across_empty_buckets(spark):
    """Forward mirror of the backward carry test: the only right row is
    many empty buckets in the FUTURE."""
    left = spark.createDataFrame([(1, 86400)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 100 * 86400, 5.0)], "k long, rts long, rval double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join_bucketed(
        left, right, ["k"], "lts", "rts", ["rval"], 24.0, direction="forward"
    )
    assert out.collect()[0]["rval"] == 5.0


def test_nearest_prefers_closer_side_and_ties_backward(spark):
    """nearest must pick the closer of the two directions and resolve
    exact-distance ties backward — in both variants."""
    left = spark.createDataFrame([(1, 10_000), (2, 10_000)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [
            (1, 9_000, 1.0),   # 1000s back
            (1, 10_500, 2.0),  # 500s fwd -> closer, wins
            (2, 9_700, 3.0),   # 300s back -> tie with fwd, backward wins
            (2, 10_300, 4.0),  # 300s fwd
        ],
        "k long, rts long, rval double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    for fn, kw in ((asof_join, {}), (asof_join_bucketed, {"bucket_hours": 2.0})):
        got = {
            r["k"]: r["rval"]
            for r in fn(
                left, right, ["k"], "lts", "rts", ["rval"], direction="nearest", **kw
            ).collect()
        }
        assert got == {1: 2.0, 2: 3.0}, fn.__name__


def test_equal_ts_ties_resolve_deterministically(spark):
    """ADVICE r6: equal-ts right rows with DIFFERENT values used to tie
    arbitrarily (window last() vs boundary max_by could disagree).  Both
    variants now break ties by a content hash inside the comparison
    struct, so repeated runs and both implementations agree — pinned by
    running each 3x and cross-comparing."""
    left = spark.createDataFrame([(1, 1000)], "k long, lts long").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 900, 5.0), (1, 900, -3.0), (1, 900, 8.0)],
        "k long, rts long, rval double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    seen = set()
    for _ in range(3):
        for fn, kw in ((asof_join, {}), (asof_join_bucketed, {"bucket_hours": 1.0}),):
            out = fn(left, right, ["k"], "lts", "rts", ["rval"], **kw).collect()
            seen.add(out[0]["rval"])
    assert len(seen) == 1, f"tie resolution flapped: {seen}"


def test_facade_routes_skew_resistant_all_directions(spark, tmp_path):
    """Engine.asof(skew_resistant=True) no longer raises for
    forward/nearest (the r6 guard) and matches the plain operator."""
    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    left, right = _mk(spark, n_left=80, n_right=40)
    for direction in ("backward", "forward", "nearest"):
        plain = asof_join(
            left, right, ["k"], "lts", "rts", ["rval"], direction=direction
        ).select("k", "lts", "lval", "rval")
        routed = eng.asof(
            left, right, ["k"], "lts", "rts", ["rval"],
            direction=direction, skew_resistant=True, bucket_hours=12.0,
        ).select("k", "lts", "lval", "rval")
        assert _canon(routed) == _canon(plain), direction

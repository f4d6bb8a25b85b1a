"""Join + window operator tests (SURVEY.md §2.4/§2.7)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tcdb_spark.operators.aggregates import deterministic_mode, ensemble_mean
from tcdb_spark.operators.joins import asof_join, exists_gate, interval_join, nearest_match
from tcdb_spark.operators.windows import first_last_per_group, latest_per_key, topk_per_group


def test_nearest_match_threshold_and_argmin(spark):
    invests = spark.createDataFrame(
        [(100, "AL", 25.0, -70.0), (101, "AL", 0.0, 0.0)],
        "invest_id int, basin string, i_lat double, i_lon double",
    )
    storms = spark.createDataFrame(
        [
            (1, "AL", 25.2, -70.2),   # ~16 nm from invest 100 -> nearest
            (2, "AL", 26.0, -70.0),   # 60 nm -> candidate, loses
            (3, "AL", 50.0, -70.0),   # far from both
        ],
        "storm_id int, basin string, s_lat double, s_lon double",
    )
    out = nearest_match(
        invests, storms, on=["basin"],
        left_latlon=("i_lat", "i_lon"), right_latlon=("s_lat", "s_lon"),
        max_distance_nm=100.0, left_key="invest_id", tiebreak=["storm_id"],
    ).collect()
    # invest 101 (0,0) is >100nm from every storm -> no match row at all
    assert len(out) == 1
    assert out[0]["invest_id"] == 100 and out[0]["storm_id"] == 1
    assert out[0]["distance_nm"] < 20


def test_interval_join_boundary(spark):
    left = spark.createDataFrame(
        [(1, "k", dt.datetime(2022, 1, 2, 0, 0, 0))], "lid int, k string, lts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, "k", dt.datetime(2022, 1, 1, 0, 0, 0)),   # exactly 24h -> in
            (11, "k", dt.datetime(2022, 1, 3, 0, 0, 0)),   # exactly 24h -> in
            (12, "k", dt.datetime(2021, 12, 31, 23, 59, 59)),  # 24h+1s -> out
            (13, "x", dt.datetime(2022, 1, 2, 0, 0, 0)),   # wrong key -> out
        ],
        "rid int, k string, rts timestamp",
    )
    out = interval_join(left, right, ["k"], "lts", "rts", tolerance_hours=24.0)
    assert sorted(r["rid"] for r in out.collect()) == [10, 11]


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [
            (1, "u", dt.datetime(2022, 1, 1, 12, 0, 0)),
            (2, "u", dt.datetime(2022, 1, 1, 5, 0, 0)),   # before any right -> null
        ],
        "lid int, k string, lts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", dt.datetime(2022, 1, 1, 10, 0, 0), 1.0),
            ("u", dt.datetime(2022, 1, 1, 12, 0, 0), 2.0),  # equal ts visible
            ("u", dt.datetime(2022, 1, 1, 13, 0, 0), 3.0),  # after -> invisible
        ],
        "k string, rts timestamp, rv double",
    )
    out = {r["lid"]: r["rv"] for r in asof_join(left, right, ["k"], "lts", "rts", ["rv"]).collect()}
    assert out == {1: 2.0, 2: None}


def test_exists_gate(spark):
    incoming = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    existing = spark.createDataFrame([(2,), (2,)], "k int")
    new, present = exists_gate(incoming, existing, ["k"])
    assert sorted(r["k"] for r in new.collect()) == [1, 3]
    assert [r["k"] for r in present.collect()] == [2]


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2022, 1, 1), 1, "a"), (1, dt.datetime(2022, 1, 1), 2, "b")],
        "k int, ts timestamp, seq int, v string",
    )
    out = latest_per_key(df, ["k"], ["ts", "seq"]).collect()
    assert len(out) == 1 and out[0]["v"] == "b"


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(10)] + [(2, 0, 5.0)], "k int, i int, v double"
    )
    out = topk_per_group(df, ["k"], [F.col("v").desc(), F.col("i").asc()], 3)
    got = sorted((r["k"], r["v"]) for r in out.collect())
    assert got == [(1, 7.0), (1, 8.0), (1, 9.0), (2, 5.0)]


def test_first_last_per_group(spark):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2022, 1, 1), 1, 10.0),
            (1, dt.datetime(2022, 1, 3), 2, 30.0),
            (1, dt.datetime(2022, 1, 2), 3, 20.0),
        ],
        "k int, ts timestamp, seq int, v double",
    )
    r = first_last_per_group(df, ["k"], "ts", ["v"], tiebreak="seq").first()
    assert r["first_v"] == 10.0 and r["last_v"] == 30.0


def test_deterministic_mode_tie(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "b"), (1, "a"), (1, "a"), (1, None)], "k int, v string"
    )
    r = deterministic_mode(df, ["k"], "v").first()
    assert r["mode_value"] == "a"  # tie -> smallest value; nulls ignored


def test_ensemble_mean(spark):
    rows = []
    for ens, w in [(-1, 99.0), (0, 10.0), (1, 20.0), (2, 30.0)]:
        rows.append(("EC", ens, 0, w))
    df = spark.createDataFrame(rows, "model string, ensemble int, hour int, wind double")
    out = ensemble_mean(df, ["model"], "hour", ["wind"], deterministic_member=-1, mean_label=9000)
    mean_row = out.where(F.col("ensemble") == 9000).first()
    assert mean_row["wind"] == 20.0  # DET member (-1) excluded
    assert out.count() == 5


# ------------------------------------------------------- interval overlap


def _overlap_pairs(spark, rows, bin_s=3600):
    from tcdb_spark.operators.joins import interval_overlap_pairs

    iv = spark.createDataFrame(rows, ["k", "iid", "s", "e"])
    return {
        (r["key_a"], r["id_a"], r["key_b"], r["id_b"], r["ov"])
        for r in interval_overlap_pairs(iv, "k", "iid", "s", "e", bin_s).collect()
    }


def test_interval_overlap_basic_and_no_self_pairs(spark):
    rows = [
        (1, 0, 0, 10), (1, 1, 100, 110),   # user 1
        (2, 0, 5, 20), (2, 1, 200, 210),   # user 2
        (3, 0, 15, 16),                    # user 3
        (1, 2, 6, 8),                      # same-user overlap with (2,0): excluded? no —
                                           # pairs are cross-KEY only; (1,2)x(2,0) counts
    ]
    got = _overlap_pairs(spark, rows)
    assert (1, 0, 2, 0, 5) in got          # [0,10] x [5,20]
    assert (2, 0, 3, 0, 1) in got          # [5,20] x [15,16]
    assert (1, 2, 2, 0, 2) in got          # [6,8] x [5,20]
    # no same-key pair ever
    assert not any(a == b for a, _, b, _, _ in got)
    # users 1 and 3 never overlap
    assert not any((a, b) == (1, 3) for a, _, b, _, _ in got)


def test_interval_overlap_bin_crossing_dedup(spark):
    # both intervals span bins 0..2 -> 3 shared bins, exactly ONE pair
    rows = [(1, 0, 0, 7300), (2, 0, 100, 7200)]
    got = _overlap_pairs(spark, rows)
    assert got == {(1, 0, 2, 0, 7100)}


def test_interval_overlap_touching_endpoints_count(spark):
    # closed-interval semantics: touching endpoints overlap with ov=0
    rows = [(1, 0, 0, 100), (2, 0, 100, 200), (3, 0, 201, 300)]
    got = _overlap_pairs(spark, rows)
    assert got == {(1, 0, 2, 0, 0)}


def test_interval_overlap_bin_width_invariance(spark):
    rows = [
        (u, i, 1000 * u + 37 * i, 1000 * u + 37 * i + 500 + 13 * u)
        for u in range(1, 6)
        for i in range(4)
    ] + [(9, 0, 0, 10_000)]  # one long interval overlapping everything
    a = _overlap_pairs(spark, rows, bin_s=3600)
    b = _overlap_pairs(spark, rows, bin_s=97)
    assert a == b and len(a) > 0

"""Property test: ``resolve_storms`` (one band join, one window) against a
plain-Python model of the reference's three resolution rules applied one
after another (tcdb/etl/process_storms.py:24-168, 190-243).

Many small random catalogs run in ONE Spark call: each catalog gets its
own two-letter basin, and every rule needs the same basin, so catalogs
cannot see each other.  Distances come from the engine's own haversine
(the model tests the rules, not libm); positions come from a small grid,
so distance ties, the 100 nm boundary and the 24 h boundary all occur.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from tcdb_spark.functions.scalar import haversine
from tcdb_spark.operators.entity_resolution import (
    DRIFT_H,
    INVEST_MIN,
    MATCH_NM,
    NAMED_MAX,
    UPGRADE_SEARCH_MIN,
    resolve_storms,
)

BASE = dt.datetime(2022, 9, 1, 12)
# (lat, lon); from (0, 0): 0, 60, exactly 100 (checked below), just over
# 100, 120 and about 42 nm
GRID = [
    (0.0, 0.0),
    (1.0, 0.0),
    (5 / 3, 0.0),
    (1.6666666666666672, 0.0),
    (2.0, 0.0),
    (0.5, 0.5),
]
# start offsets in seconds: the 24 h boundary on both sides, one second past it
OFFSETS = [0, 6 * 3600, -6 * 3600, 86400, -86400, 86401, -86401, 30 * 3600]
EX_NUMBERS = [3, 9, 9, 12, 50, 51, 70, 75, 89, 90, 95, 99]
INC_NUMBERS = [3, 9, 50, 51, 75, 90, 95]
TOL_S = int(DRIFT_H * 3600)

STORM_COLS = (
    "nhc_id string, nhc_number int, basin string, season int, "
    "start_date timestamp, end_date timestamp, start_lat double, start_lon double"
)


def _storm(basin, number, season, offset_s, pos):
    start = BASE + dt.timedelta(seconds=offset_s)
    return (f"{basin}{number:02d}{season}", number, basin, season, start,
            start + dt.timedelta(days=2), pos[0], pos[1])


def _catalogs(seed: int, n: int):
    rng = random.Random(seed)
    existing, incoming = [], []
    sid = rng.sample(range(1, 10**6), 8 * n)
    for c in range(n):
        basin = f"{chr(ord('A') + c // 10)}{c % 10}"
        ex = []
        for _ in range(rng.randint(1, 6)):
            num, season = rng.choice(EX_NUMBERS), rng.choice([2021, 2022])
            ex.append((sid.pop(), *_storm(basin, num, season, rng.choice(OFFSETS), rng.choice(GRID))))
        if rng.random() < 0.3:
            # a distance tie: a second storm at the same place, same or
            # another start
            twin = list(rng.choice(ex))
            twin[0] = sid.pop()
            ex.append(tuple(twin))
        inc = {}
        for _ in range(rng.randint(1, 4)):
            num, season = rng.choice(INC_NUMBERS), rng.choice([2021, 2022])
            row = _storm(basin, num, season, rng.choice(OFFSETS), rng.choice(GRID))
            inc[row[0]] = row
        existing += ex
        incoming += inc.values()
    return existing, incoming


def _fixed_catalogs():
    """Named cases the random catalogs may miss."""
    ex, inc = [], []
    # exact nhc_id AND a nearer upgrade candidate: exact wins
    ex += [(11, *_storm("X0", 9, 2022, 3600, (0.0, 0.0))),
           (12, *_storm("X0", 95, 2022, 0, (0.0, 0.0)))]
    inc += [_storm("X0", 9, 2022, 0, (0.0, 0.0))]
    # upgrade of invests numbered 70-89; the nearer (75) wins over 85
    ex += [(21, *_storm("X1", 85, 2022, 0, (1.0, 0.0))),
           (22, *_storm("X1", 75, 2022, 0, (0.5, 0.5)))]
    inc += [_storm("X1", 4, 2022, 0, (0.0, 0.0))]
    # distance tie broken by start delta, then by storm_id
    ex += [(33, *_storm("X2", 95, 2022, 6 * 3600, (1.0, 0.0))),
           (32, *_storm("X2", 96, 2022, 0, (1.0, 0.0))),
           (31, *_storm("X2", 97, 2022, 0, (1.0, 0.0)))]
    inc += [_storm("X2", 5, 2022, 0, (0.0, 0.0))]
    # exactly 24 h and exactly 100 nm: a match; one second later: new
    ex += [(41, *_storm("X3", 95, 2022, 86400, (5 / 3, 0.0))),
           (42, *_storm("X4", 95, 2022, 86401, (5 / 3, 0.0)))]
    inc += [_storm("X3", 6, 2022, 0, (0.0, 0.0)), _storm("X4", 6, 2022, 0, (0.0, 0.0))]
    # two seasons reuse one number: each incoming season matches its own
    ex += [(51, *_storm("X5", 9, 2021, 0, (0.0, 0.0))),
           (52, *_storm("X5", 9, 2022, 0, (0.0, 0.0)))]
    inc += [_storm("X5", 9, 2021, 6 * 3600, (0.0, 0.0)), _storm("X5", 9, 2022, 0, (0.0, 0.0))]
    # an incoming invest on top of a named storm: duplicate_invest
    ex += [(61, *_storm("X6", 7, 2022, 0, (0.0, 0.0)))]
    inc += [_storm("X6", 93, 2022, 0, (1.0, 0.0))]
    return ex, inc


def _model(existing, incoming, dist):
    """Rules 1-3 one after another, each with its own argmin, the first
    rule with a candidate wins (the reference's processStorms order)."""
    out = {}
    for i in incoming:
        nhc, num, basin, _, start = i[:5]
        in_band = [e for e in existing
                   if abs((start - e[5]).total_seconds()) <= TOL_S]
        delta = {e[0]: abs((start - e[5]).total_seconds()) for e in in_band}

        exact = [(delta[e[0]], e[0]) for e in in_band if e[1] == nhc]
        if exact:
            out[nhc] = (min(exact)[1], "exact")
            continue

        def nearest(pred):
            c = [(dist[(nhc, e[0])], delta[e[0]], e[0]) for e in in_band
                 if e[3] == basin and pred(e[2]) and dist[(nhc, e[0])] <= MATCH_NM]
            return min(c)[2] if c else None

        if num <= NAMED_MAX and (m := nearest(lambda n: n >= UPGRADE_SEARCH_MIN)) is not None:
            out[nhc] = (m, "upgrade")
        elif num >= INVEST_MIN and (m := nearest(lambda n: n <= NAMED_MAX)) is not None:
            out[nhc] = (m, "duplicate_invest")
        else:
            out[nhc] = (None, "new")
    return out


def _engine_distances(spark, existing, incoming):
    pairs = [(i[0], e[0], i[6], i[7], e[7], e[8])
             for i in incoming for e in existing if i[2] == e[3]]
    df = spark.createDataFrame(
        pairs, "nhc_id string, storm_id long, a double, b double, c double, d double")
    return {(r[0], r[1]): r[2] for r in df.select(
        "nhc_id", "storm_id", haversine("a", "b", "c", "d", "nm")).collect()}


def test_resolve_storms_matches_rule_by_rule_model(spark):
    boundary = spark.range(1).select(haversine(F.lit(0.0), F.lit(0.0), F.lit(5 / 3), F.lit(0.0)))
    assert boundary.first()[0] == MATCH_NM  # the grid really holds the 100 nm boundary

    existing, incoming = _catalogs(seed=20221, n=60)
    fx_ex, fx_inc = _fixed_catalogs()
    existing, incoming = existing + fx_ex, incoming + fx_inc
    ex_df = spark.createDataFrame(existing, "storm_id long, " + STORM_COLS)
    inc_df = spark.createDataFrame(incoming, STORM_COLS)

    got = {r["nhc_id"]: (r["matched_storm_id"], r["match_rule"])
           for r in resolve_storms(inc_df, ex_df).collect()}
    want = _model(existing, incoming, _engine_distances(spark, existing, incoming))
    assert got == want

    # the named cases resolve as their comments say
    assert want["X0092022"] == (11, "exact")
    assert want["X1042022"] == (22, "upgrade")
    assert want["X2052022"] == (31, "upgrade")
    assert want["X3062022"] == (41, "upgrade")
    assert want["X4062022"] == (None, "new")
    assert want["X5092021"] == (51, "exact") and want["X5092022"] == (52, "exact")
    assert want["X6932022"] == (61, "duplicate_invest")
    # the random catalogs reach every rule
    assert {r for _, r in want.values()} == {"exact", "upgrade", "duplicate_invest", "new"}

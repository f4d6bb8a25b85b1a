"""Invest <-> named-storm entity resolution (SURVEY.md §2.4
``join-entity-resolution`` / §7 step 4).

The reference matches one incoming storm at a time with sequential,
order-dependent logic (tcdb/etl/process_storms.py:24-168):

- ``getClosestStorm`` (:24-60): among candidates, argmin haversine
  distance between start positions, <=100 nm else no match;
- ``investSearch`` (:63-125): an incoming *named* storm looks for an
  existing *invest* (nhc_number >= 90) in the same region whose start_date
  matches (JTWC drift: within 24 h) and start position within 100 nm —
  that invest is "upgraded" to the named storm;
- ``namedStormSearch`` (:128-168): an incoming *invest* conversely looks
  for an existing named storm (nhc_number <= 50) it duplicates.

Here resolution is one deterministic set-based plan: one equi-join of
the incoming batch against the catalog on basin + 24 h start-date bucket
(+/-1 bucket, so a hash join, not a BNLJ), one rule priority per pair,
and one window argmin (priority, distance, start delta, storm key). No
ordering effects: ties resolve identically regardless of arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.functions.scalar import haversine

INVEST_MIN = 90   # incoming nhc_number >= 90 -> invest (tcdb/etl/process_storms.py:211)
UPGRADE_SEARCH_MIN = 70  # existing invests searched for upgrade use >= 70
                         # (tcdb/etl/process_storms.py:149 — looser than the
                         # incoming gate, catching renumbered invests)
NAMED_MAX = 50    # nhc_number <= 50 -> named  (tcdb/pipeline/routines.py:53)
MATCH_NM = 100.0  # distance threshold (tcdb/etl/process_storms.py:56)
DRIFT_H = 24.0    # start-date drift window (tcdb/etl/process_storms.py:104-117)


def resolve_storms(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """Assign each incoming storm row the natural key it should MERGE on.

    Input schemas need: nhc_id, nhc_number, basin, season, start_date,
    end_date, start_lat, start_lon (plus payload columns, carried through).
    ``existing`` additionally needs storm_id. ``basin`` is the two-letter
    prefix of ``nhc_id`` on both sides.

    Resolution order (mirrors processStorms, tcdb/etl/process_storms.py:
    190-243, made set-based):
      1. exact nhc_id + start_date within 24 h  -> same storm;
      2. incoming named (<= NAMED_MAX) upgrades nearest existing invest
         (>= UPGRADE_SEARCH_MIN) within 100 nm / 24 h -> invest's
         storm_id, incoming identity (name, nhc_id) wins;
      3. incoming invest (>= INVEST_MIN) matching an existing named storm
         has already transitioned -> labeled ``duplicate_invest`` so the
         caller DROPS it (the reference makes no updates to transitioned
         invests: investSearch returns None and the record is skipped,
         tcdb/etl/process_storms.py:95-98,212-214);
      4. otherwise                               -> brand-new storm.

    Every rule needs the same basin and a start-date delta of at most
    24 h, so all three share one band join; each pair gets the priority
    of the first rule it satisfies, and the best pair per incoming
    nhc_id is the least (priority, distance (0 for an exact match),
    start delta, storm_id) — the order each rule's own argmin applies.

    Output: incoming columns + ``matched_storm_id`` (null -> insert) +
    ``match_rule`` in {exact, upgrade, duplicate_invest, new}.
    """
    tol_s = int(DRIFT_H * 3600)
    inc = incoming.select(
        "nhc_id",
        F.col("nhc_number").alias("__inum"),
        "basin",
        F.unix_timestamp("start_date").alias("__its"),
        F.col("start_lat").alias("__ilat"),
        F.col("start_lon").alias("__ilon"),
    ).withColumn("__bucket", F.floor(F.col("__its") / tol_s))
    ex = existing.select(
        F.col("storm_id").alias("matched_storm_id"),
        F.col("nhc_id").alias("__enhc"),
        F.col("nhc_number").alias("__enum"),
        "basin",
        F.unix_timestamp("start_date").alias("__ets"),
        F.col("start_lat").alias("__elat"),
        F.col("start_lon").alias("__elon"),
    )
    b = F.floor(F.col("__ets") / tol_s)
    ex = ex.withColumn("__bucket", F.explode(F.array(b - 1, b, b + 1)))

    pairs = (
        inc.join(ex, on=["basin", "__bucket"])
        .withColumn("__dt", F.abs(F.col("__its") - F.col("__ets")))
        .where(F.col("__dt") <= tol_s)
        .withColumn("__dist", haversine("__ilat", "__ilon", "__elat", "__elon", "nm"))
    )
    near = F.col("__dist") <= MATCH_NM
    exact = F.col("nhc_id") == F.col("__enhc")
    upgrade = (F.col("__inum") <= NAMED_MAX) & (F.col("__enum") >= UPGRADE_SEARCH_MIN) & near
    dup = (F.col("__inum") >= INVEST_MIN) & (F.col("__enum") <= NAMED_MAX) & near
    pairs = pairs.withColumn(
        "__prio", F.when(exact, 0).when(upgrade, 1).when(dup, 2)
    ).where(F.col("__prio").isNotNull())
    w = W.partitionBy("nhc_id").orderBy(
        "__prio",
        F.when(F.col("__prio") == 0, F.lit(0.0)).otherwise(F.col("__dist")),
        "__dt",
        "matched_storm_id",
    )
    rule = F.when(F.col("__prio") == 0, "exact").when(F.col("__prio") == 1, "upgrade")
    best = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "nhc_id",
            "matched_storm_id",
            rule.otherwise("duplicate_invest").alias("match_rule"),
        )
    )

    out = incoming.join(F.broadcast(best), on="nhc_id", how="left")
    return out.withColumn("match_rule", F.coalesce(F.col("match_rule"), F.lit("new")))

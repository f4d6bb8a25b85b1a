"""B-deck ingest job: parsed deck lines -> storms + observations MERGEs.

Spark redesign of the reference's per-file pipeline
(tcdb/pipeline/bdeck.py:42-124 -> tcdb/etl/process_storms.py:171-243 +
tcdb/etl/process_obs.py:26-91): stages 4-5 of SURVEY.md §3.1 as ONE batch
DataFrame job — read all staged decks in one scan, summarise the storms
once (both persisted for the job), entity-resolve the whole storm batch
with one band join, run two natural-key MERGEs whose writes also count
the rows the job returns. Idempotent under replay: a MERGE that changes
nothing publishes no new version.

Scale: storms is a small dimension (broadcast everywhere); observations
merge shuffles once on (storm_id, datetime_utc); at 100 TB observations
would be bucketed by storm_id so the MERGE join co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tcdb_spark.dims import regions_df
from tcdb_spark.functions.scalar import storm_status
from tcdb_spark.operators.entity_resolution import resolve_storms
from tcdb_spark.operators.merge import merge, merge_counts
from tcdb_spark.operators.validation import (
    LATITUDE,
    LONGITUDE,
    PRESSURE,
    VELOCITY,
    check_range_coerce,
)
from tcdb_spark.schemas import OBSERVATIONS_SCHEMA, STORMS_SCHEMA
from tcdb_spark.session import persisted
from tcdb_spark.sources.atcf import observations_from_bdeck, storms_from_bdeck
from tcdb_spark.sources.warehouse import Warehouse


def _storm_identity(nhc_id, start_date):
    """Stable storm surrogate: hash of the natural key
    (db/init_db_base.sql:137 unique(start_date, nhc_id))."""
    return F.xxhash64(F.lit("storm"), nhc_id, F.date_format(start_date, "yyyyMMddHH"))


def stage_storms(
    incoming: DataFrame, existing: DataFrame, regions: DataFrame, now=None
) -> DataFrame:
    """Entity-resolve and key the incoming storm batch against the table."""
    now = now if now is not None else F.current_timestamp()
    resolved = resolve_storms(incoming, existing.select(
        "storm_id", "nhc_id", "nhc_number", "basin", "start_date", "start_lat", "start_lon"
    ) if "basin" in existing.columns else existing.select(
        "storm_id", "nhc_id", "nhc_number",
        F.substring("nhc_id", 1, 2).alias("basin"), "start_date", "start_lat", "start_lon",
    ))

    staged = resolved.withColumn(
        "storm_id",
        F.coalesce(F.col("matched_storm_id"), _storm_identity(F.col("nhc_id"), F.col("start_date"))),
    )

    # an invest that matched an existing named storm has transitioned —
    # the reference makes NO updates in this case (investSearch returns
    # None and the record is skipped, tcdb/etl/process_storms.py:95-98,
    # 212-214), so the staged row is dropped, not merged
    staged = staged.where(F.col("match_rule") != "duplicate_invest")

    ex_idt = existing.select(
        F.col("storm_id"),
        F.col("annual_id").alias("__ex_annual_id"),
    )
    staged = staged.join(F.broadcast(ex_idt), on="storm_id", how="left")

    staged = staged.join(
        F.broadcast(regions.select(F.col("short_name").alias("basin"), "region_id")),
        on="basin",
        how="left",
    ).withColumn("status", storm_status("end_date", now, 16))

    # annual_id: keep the existing one for matched storms, sequence new
    # ones per (season, region) after the catalog's max
    # (tcdb/etl/process_storms.py:220-235); one window numbers both sides
    # of the is-new split, and only the new side reads its number
    maxes = existing.groupBy("season", "region_id").agg(F.max("annual_id").alias("__max_aid"))
    is_new = F.col("matched_storm_id").isNull()
    seq = W.partitionBy("season", "region_id", is_new).orderBy("start_date", "nhc_id")
    staged = staged.join(F.broadcast(maxes), on=["season", "region_id"], how="left").withColumn(
        "annual_id",
        F.when(is_new, F.coalesce(F.col("__max_aid"), F.lit(0)) + F.row_number().over(seq))
        .otherwise(F.col("__ex_annual_id")),
    )

    return staged.select(
        "storm_id",
        F.col("annual_id").cast("int").alias("annual_id"),
        "region_id",
        F.col("nhc_number").cast("int").alias("nhc_number"),
        "nhc_id",
        F.col("season").cast("int").alias("season"),
        "start_date",
        "end_date",
        "status",
        "name",
        "start_lat",
        "start_lon",
    )


def run_bdeck_job(
    spark: SparkSession,
    parsed_bdeck: DataFrame,
    warehouse: Warehouse,
    run_id: str,
    now=None,
    bucket_obs: bool = False,
    n_buckets: int = 16,
) -> dict[str, int]:
    """Full b-deck batch: storms MERGE then observations MERGE.

    ``bucket_obs`` writes observations hash-bucketed by storm_id (sorted
    by the natural key) — the at-scale layout: the next run's MERGE and
    every storm-keyed join read co-located buckets and leave the fact
    side un-shuffled (requireAllClusterKeysForCoPartition=false lets the
    storm_id bucketing serve the composite-key join).

    The parsed lines and the storm summary are persisted for the job, so
    the deck text is scanned and summarised once for both MERGEs, and
    released when the job returns or fails.

    Returns {'storms': n, 'observations': n} row counts after merge,
    counted by the MERGE writes themselves.
    """
    regions = regions_df(spark)
    existing = warehouse.read("storms", STORMS_SCHEMA)

    with persisted(parsed_bdeck) as parsed, persisted(storms_from_bdeck(parsed)) as incoming:
        staged = stage_storms(incoming, existing, regions, now=now)

        # "newer end_date wins" (tcdb/etl/process_storms.py:136-139)
        guard = F.col("inc.end_date") >= F.col("cur.end_date")
        merged_storms = merge(
            existing, staged, keys=["storm_id"], run_id=run_id, update_guards=guard
        )
        obs_inc = observations_from_bdeck(parsed)
        obs_inc = check_range_coerce(obs_inc, [LATITUDE, LONGITUDE, VELOCITY, PRESSURE])

        def _key_obs(storms_now: DataFrame) -> DataFrame:
            # storm_id lookup: same batch's storms by (basin, number) with
            # the cycle inside the storm's [start, end] window
            return (
                obs_inc.join(
                    F.broadcast(
                        storms_now.select(
                            "storm_id",
                            F.substring("nhc_id", 1, 2).alias("basin"),
                            "nhc_number",
                            "start_date",
                            "end_date",
                        )
                    ),
                    on=["basin", "nhc_number"],
                )
                .where(
                    (F.col("datetime_utc") >= F.col("start_date"))
                    & (F.col("datetime_utc") <= F.col("end_date"))
                )
                .drop("basin", "nhc_number", "start_date", "end_date")
            )

        if bucket_obs:
            # bucketed commits go through merge_scoped/write_bucketed, which
            # publish internally — storms commits FIRST so a crash between
            # the two table commits can only leave a parent without
            # children (benign: the idempotent MERGE re-lands them on
            # replay), never orphaned observations
            warehouse.write("storms", merged_storms)
            keyed = _key_obs(warehouse.read("storms"))
            if warehouse.is_bucketed("observations"):
                # incremental path: the batch only rewrites buckets its
                # storm_ids hash into; every other bucket file is carried
                # forward by link — O(touched buckets) per batch, not
                # O(table)
                n_obs = warehouse.merge_scoped(
                    "observations", keyed, keys=["storm_id", "datetime_utc"], run_id=run_id
                )["rows"]
            else:
                existing_obs = warehouse.read("observations", OBSERVATIONS_SCHEMA)
                merged_obs = merge(
                    existing_obs, keyed, keys=["storm_id", "datetime_utc"], run_id=run_id
                )
                warehouse.write_bucketed(
                    "observations",
                    merged_obs,
                    ["storm_id"],
                    n_buckets=n_buckets,
                    sort_cols=["storm_id", "datetime_utc"],
                )
                n_obs = merge_counts(merged_obs)["rows"]
        else:
            # one atomic commit for storms + observations (the reference's
            # per-file session transaction): readers see both tables
            # advance together or not at all
            with warehouse.transaction(["storms", "observations"]) as txn:
                txn.write("storms", merged_storms)
                keyed = _key_obs(txn.read("storms"))
                existing_obs = warehouse.read("observations", OBSERVATIONS_SCHEMA)
                merged_obs = merge(
                    existing_obs, keyed, keys=["storm_id", "datetime_utc"], run_id=run_id
                )
                txn.write("observations", merged_obs)
            n_obs = merge_counts(merged_obs)["rows"]

    return {"storms": merge_counts(merged_storms)["rows"], "observations": n_obs}

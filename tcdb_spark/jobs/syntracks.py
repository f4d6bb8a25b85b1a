"""Syntrack ensemble job: long-format ensemble batch -> track assignment
-> ensemble mean -> tracks/steps MERGE into the warehouse.

Spark redesign of the reference's ensemble load path
(tcdb/etl/syntracks.py: toSyntrackObjects -> parseSystemTracks ->
ensMean -> toStepDict loops): one DataFrame pipeline over the matched
members (decoded and assigned once), two MERGEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.operators.aggregates import ensemble_mean
from tcdb_spark.operators.merge import merge, merge_counts
from tcdb_spark.operators.syntracks import (
    TRACK_KEYS,
    assign_tracks_to_invest,
    drop_empty_tracks,
    syntrack_steps,
)
from tcdb_spark.schemas import STEPS_SCHEMA, TRACKS_SCHEMA
from tcdb_spark.session import persisted
from tcdb_spark.sources.warehouse import Warehouse

ENS_MEAN_LABEL = 9000


def run_syntrack_job(
    spark: SparkSession,
    ensemble: DataFrame,
    invests: DataFrame,
    warehouse: Warehouse,
    run_id: str,
    add_ens_mean: bool = True,
) -> dict[str, int]:
    """Assign unassigned members to invests, append the ensemble-mean
    pseudo-member, and MERGE tracks + steps.

    ``ensemble``: SYNTRACK_SCHEMA long format. ``invests``:
    (model, init, annual_id, name, lat, lon, valid).

    Returns {'tracks': n, 'steps': n} row counts after merge, counted by
    the MERGE writes themselves.
    """
    # the ensemble source (a .mat decode) feeds the members, the mean
    # and, through the caller's plan, often the invests: decode it once
    with persisted(ensemble) as ensemble:
        tracks = drop_empty_tracks(ensemble)
        assigned = assign_tracks_to_invest(tracks, invests)
        if add_ens_mean:
            assigned = ensemble_mean(
                assigned,
                ["model", "init"],
                "hour",
                ["lat", "lon", "wind", "mslp"],
                deterministic_member=-1,
                mean_label=ENS_MEAN_LABEL,
            )
            # the mean member inherits the (single) invest identity per cycle
            inv = invests.select(
                "model", "init",
                F.col("annual_id").alias("__aid"), F.col("name").alias("__nm"),
            )
            assigned = (
                assigned.join(F.broadcast(inv), on=["model", "init"], how="left")
                .withColumn(
                    "annual_id",
                    F.when(F.col("ensemble") == ENS_MEAN_LABEL, F.col("__aid"))
                    .otherwise(F.col("annual_id")),
                )
                .withColumn(
                    "storm_name",
                    F.when(F.col("ensemble") == ENS_MEAN_LABEL, F.col("__nm"))
                    .otherwise(F.col("storm_name")),
                )
                .drop("__aid", "__nm")
            )

        track_id = F.xxhash64(F.lit("syntrack"), F.col("model"), F.col("init"), F.col("ensemble"))
        # tracks and steps both derive from the matched members: persisted
        # for the job, so the assignment runs once
        with persisted(assigned.where(F.col("annual_id") > 0)) as matched:
            track_rows = (
                matched.select(
                    track_id.alias("track_id"),
                    F.xxhash64(F.lit("ens-storm"), F.col("storm_name"), F.col("annual_id"))
                    .alias("storm_id"),
                    F.xxhash64(F.lit("ens-forecast"), F.col("model"), F.col("init"))
                    .alias("forecast_id"),
                    F.col("ensemble").cast("int").alias("ensemble_number"),
                )
                .dropDuplicates(["track_id"])
            )
            step_rows = syntrack_steps(matched).dropDuplicates(["track_id", "hour"])

            merged_tracks = merge(
                warehouse.read("tracks", TRACKS_SCHEMA),
                track_rows,
                keys=["track_id"],
                run_id=run_id,
            )
            warehouse.write("tracks", merged_tracks)
            merged_steps = merge(
                warehouse.read("steps", STEPS_SCHEMA),
                step_rows.withColumn(
                    "step_id", F.xxhash64(F.lit("step"), F.col("track_id"), F.col("hour"))
                ),
                keys=["track_id", "hour"],
                run_id=run_id,
            )
            warehouse.write("steps", merged_steps)
    return {
        "tracks": merge_counts(merged_tracks)["rows"],
        "steps": merge_counts(merged_steps)["rows"],
    }

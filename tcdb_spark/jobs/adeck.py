"""A-deck ingest job: parsed forecast lines -> forecasts/tracks/steps
MERGEs.

Spark redesign of SURVEY.md §3.2: the reference splits each deck into one
CSV per (init, model) then loads row-at-a-time with a 3-level
get-or-create (tcdb/pipeline/adeck.py:40-121, tcdb/etl/atcf_forecasts.py:
25-141). The CSV-splitting stage exists only because that loader is
file-oriented — here it's one job: scan -> filter/derive -> three
natural-key MERGEs in dependency order. Surrogate FK ids are xxhash64 of
the natural keys (db/init_db_base.sql:141-145) so all three levels stage
in parallel with no sequential id handshake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.dims import MODEL_TECHS, data_sources_df, models_df, regions_df
from tcdb_spark.operators.merge import merge, merge_counts
from tcdb_spark.schemas import FORECASTS_SCHEMA, STEPS_SCHEMA, TRACKS_SCHEMA
from tcdb_spark.session import persisted
from tcdb_spark.sources.warehouse import Warehouse


def run_adeck_job(
    spark: SparkSession,
    parsed_adeck: DataFrame,
    warehouse: Warehouse,
    run_id: str,
    model_allowlist: list[str] | None = None,
    ref_time=None,
    freshness_hours: int = 24,
    backfill: bool = False,
) -> dict[str, int]:
    """Filter models/freshness, infer storms, MERGE forecasts->tracks->steps.

    - model allowlist: tcdb/pipeline/adeck.py:90 (settings.yml:28-52);
    - freshness: only forecasts within ``freshness_hours`` of ``ref_time``
      unless backfilling (tcdb/pipeline/adeck.py:69-76,96-104);
    - storm inference: (basin, number) + init inside the storm's activity
      window, the set-based form of inferStormFromAdeck
      (tcdb/models/database.py:26-66).

    Returns {'forecasts': n, 'tracks': n, 'steps': n} row counts after
    merge, counted by the MERGE writes themselves.
    """
    regions = regions_df(spark)
    models = models_df(spark)
    sources = data_sources_df(spark)
    storms = warehouse.read("storms")

    df = parsed_adeck.where(F.col("TECH").isin(model_allowlist or MODEL_TECHS))
    if ref_time is not None and not backfill:
        df = df.where(
            (F.unix_timestamp(F.lit(ref_time)) - F.unix_timestamp(F.col("DATETIME")))
            <= freshness_hours * 3600
        )

    df = df.withColumn("basin", F.upper(F.col("BASIN"))).withColumn(
        "org",
        F.when(F.col("basin").isin("AL", "EP", "CP"), "NHC").otherwise("JTWC"),
    )
    df = (
        df.join(F.broadcast(regions.select(F.col("short_name").alias("basin"), "region_id")), "basin")
        .join(F.broadcast(models.select(F.col("short_name").alias("TECH"), "model_id")), "TECH")
        .join(
            F.broadcast(
                sources.select(F.col("short_name").alias("org"), "data_source_id")
            ),
            "org",
        )
    )
    # storm inference: init time within [start_date, end_date + 5d]
    df = df.join(
        F.broadcast(
            storms.select(
                "storm_id",
                F.substring("nhc_id", 1, 2).alias("basin"),
                F.col("nhc_number").alias("SNUM"),
                "start_date",
                "end_date",
            )
        ),
        on=["basin", "SNUM"],
        how="inner",
    ).where(
        (F.col("DATETIME") >= F.col("start_date"))
        & (F.col("DATETIME") <= F.col("end_date") + F.expr("INTERVAL 5 DAYS"))
    )

    df = df.withColumn(
        "forecast_id",
        F.xxhash64(
            F.lit("forecast"), F.col("region_id"), F.col("data_source_id"),
            F.col("model_id"), F.col("DATETIME"),
        ),
    ).withColumn("ensemble_number", F.lit(1))  # ATCF decks are deterministic
    df = df.withColumn(
        "track_id",
        F.xxhash64(F.lit("track"), F.col("forecast_id"), F.col("storm_id"), F.col("ensemble_number")),
    )

    # the keyed batch feeds all three MERGEs: persisted for the job, so
    # the deck text is parsed and joined to storms once, not per table
    with persisted(df) as keyed:
        forecasts = keyed.select(
            "forecast_id", "data_source_id", "model_id", "region_id",
            F.col("DATETIME").alias("datetime_utc"),
        ).dropDuplicates(["forecast_id"])

        tracks = keyed.select(
            "track_id", "storm_id", "forecast_id",
            F.col("ensemble_number").cast("int").alias("ensemble_number"),
        ).dropDuplicates(["track_id"])

        # one step row per (track, TAU): first RAD row carries position
        # (stepFromDataFrame, tcdb/etl/atcf.py:388-415)
        first_ord = F.struct(F.col("RAD").try_cast("int"))
        steps = keyed.groupBy("track_id", F.col("TAU").cast("int").alias("hour")).agg(
            F.min_by("LAT", first_ord).alias("latitude"),
            F.min_by("LON", first_ord).alias("longitude"),
            F.min_by("VMAX", first_ord).alias("intensity_kts"),
            F.min_by("MSLP", first_ord).alias("mslp_mb"),
        )
        steps = steps.withColumn(
            "step_id", F.xxhash64(F.lit("step"), F.col("track_id"), F.col("hour"))
        )

        # one atomic commit across the 3-level hierarchy — the reference's
        # per-file session transaction (tcdb/etl/atcf_forecasts.py:51,136):
        # a crash mid-job leaves either all three tables advanced or none,
        # never a forecast without its tracks/steps
        with warehouse.transaction(["forecasts", "tracks", "steps"]) as txn:
            merged = {
                "forecasts": merge(warehouse.read("forecasts", FORECASTS_SCHEMA), forecasts,
                                   keys=["forecast_id"], run_id=run_id),
                "tracks": merge(warehouse.read("tracks", TRACKS_SCHEMA), tracks,
                                keys=["track_id"], run_id=run_id),
                "steps": merge(warehouse.read("steps", STEPS_SCHEMA), steps,
                               keys=["track_id", "hour"], run_id=run_id),
            }
            for table, frame in merged.items():
                txn.write(table, frame)
    return {table: merge_counts(frame)["rows"] for table, frame in merged.items()}

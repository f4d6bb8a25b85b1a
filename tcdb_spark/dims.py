"""Dimension seed data (reference: db/init_db_base.sql:11-42 seeds 6
regions + 5 data sources; the 492-technique model catalog and the a-deck
ingestion allowlist live in dims_models.py, extracted from
db/insert_full_models.sql / settings.yml; the engine still treats models
as an open dimension upserted on sight for uncataloged techniques).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.dims_models import ADECK_MODELS, MODEL_CATALOG
from tcdb_spark.session import local_frame

REGIONS = [
    (1, "North Atlantic", "AL", "L"),
    (2, "Eastern Pacific", "EP", "E"),
    (3, "Central Pacific", "CP", "C"),
    (4, "Western Pacific", "WP", "W"),
    (5, "Indian Ocean", "IO", "A"),
    (6, "Southern Hemisphere", "SH", "S"),
]

DATA_SOURCES = [
    (1, "National Hurricane Center", "NHC"),
    (2, "National Centers for Environmental Prediction", "NCEP"),
    (3, "Climate Forecast Applications Network", "CFAN"),
    (4, "Joint Typhoon Warning Center", "JTWC"),
    (5, "Japan Meteorological Agency", "JMA"),
]

# a-deck ingestion allowlist (settings.yml adeck.models), plus the
# deck bookkeeping techniques every pipeline keeps (CARQ carrier, BEST)
MODEL_TECHS = ADECK_MODELS + ["CARQ", "BEST"]


def regions_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, REGIONS, "region_id long, long_name string, short_name string, region_char string"
    ).withColumn("last_update", F.current_timestamp())


def data_sources_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, DATA_SOURCES, "data_source_id long, long_name string, short_name string"
    ).withColumn("last_update", F.current_timestamp())


def models_df(spark: SparkSession) -> DataFrame:
    """The full 492-technique catalog; model_id is the 1-based catalog
    position (stable: the catalog is append-only data)."""
    rows = [(i + 1, ln, sn) for i, (ln, sn) in enumerate(MODEL_CATALOG)]
    return local_frame(
        spark, rows, "model_id long, long_name string, short_name string"
    ).withColumn("last_update", F.current_timestamp())

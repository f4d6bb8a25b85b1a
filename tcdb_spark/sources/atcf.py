"""ATCF a-deck / b-deck readers — Spark-first.

The reference parses decks file-at-a-time with pandas
(tcdb/etl/atcf.py:19-171), pre-padding ragged rows in Python
(:227-250 ``parse_uneven_rows``: drop <18-field lines, right-pad).
Here the whole staged directory is ONE ``spark.read.text`` scan
(gzip transparent), lines are split/filtered/projected as column
expressions, and every downstream summary is a set-based aggregation —
no per-file loops, no Python row handling. At 100 TB of deck text this is
an embarrassingly parallel scan; ragged handling costs one ``size()``
filter instead of a driver-side rewrite of every file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.functions.scalar import (
    latlon_decode_lat,
    latlon_decode_lon,
    nhc_id,
    storm_type,
    ts_parse,
)
from tcdb_spark.operators.aggregates import deterministic_mode
from tcdb_spark.schemas import ADECK_COLUMNS, BDECK_COLUMNS

_NUMERIC_DOUBLE = {"VMAX", "MSLP", "NE", "SE", "SW", "NW", "POUTER", "ROCI", "RMW"}
_NUMERIC_INT = {"SNUM", "TAU"}
# ATCF b-deck file name, e.g. .../bal092022.dat[.gz]: group 1 = season
_DECK_FILE = r"(?i)(?:^|/)b[a-z]{2}\d{2}(\d{4})\.dat(?:\.gz)?$"


def _project(lines: DataFrame, columns: list[str], min_fields: int, value_col: str = "value") -> DataFrame:
    """Split raw deck lines into typed columns.

    Ragged-row policy mirrors the reference (tcdb/etl/atcf.py:227-250):
    lines with fewer than ``min_fields`` comma-separated fields are dropped;
    missing trailing fields read as NULL (element_at out-of-range), which is
    the columnar equivalent of right-padding with empty strings.
    """
    fields = F.split(F.col(value_col), ",")
    df = lines.withColumn("__f", fields).where(F.size("__f") >= min_fields)
    cols = []
    for i, name in enumerate(columns):
        raw = F.nullif(F.trim(F.element_at(F.col("__f"), i + 1)), F.lit(""))
        if name == "DATETIME":
            c = ts_parse(raw)
        elif name == "LAT":
            c = latlon_decode_lat(raw)
        elif name == "LON":
            c = latlon_decode_lon(raw)
        elif name in _NUMERIC_DOUBLE:
            c = raw.try_cast("double")
        elif name in _NUMERIC_INT:
            c = raw.try_cast("int")
        else:
            c = raw
        cols.append(c.alias(name))
    keep = [c for c in lines.columns if c != value_col]
    return df.select(*keep, *cols)


def parse_adeck_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """A-deck: 17 fixed positional columns (tcdb/etl/atcf.py:19-88),
    minimum 18 fields per line (tcdb/etl/atcf.py:245)."""
    return _project(lines, ADECK_COLUMNS, min_fields=18, value_col=value_col)


def parse_bdeck_lines(lines: DataFrame, value_col: str = "value", min_fields: int = 18) -> DataFrame:
    """B-deck: 36 fixed positional columns (tcdb/etl/atcf.py:91-171).
    ``min_fields=27`` gives the stricter observation-path variant
    (tcdb/pipeline/process_obs.py:30-71)."""
    return _project(lines, BDECK_COLUMNS, min_fields=min_fields, value_col=value_col)


def read_adeck(spark: SparkSession, path: str) -> DataFrame:
    """One scan over a deck directory/glob (.dat and .gz alike); keeps the
    source file for per-storm grouping, replacing per-file Python loops."""
    lines = spark.read.text(path).withColumn("source_file", F.input_file_name())
    return parse_adeck_lines(lines)


def read_bdeck(spark: SparkSession, path: str, min_fields: int = 18) -> DataFrame:
    lines = spark.read.text(path).withColumn("source_file", F.input_file_name())
    return parse_bdeck_lines(lines, min_fields=min_fields)


def observations_from_bdeck(parsed: DataFrame) -> DataFrame:
    """Per-cycle observation rows from parsed b-deck: one wide row per
    (basin, storm number, DATETIME) — first-row position/intensity plus the
    12 pivoted wind radii and pouter/roci/rmw.

    Set-based form of ``observationDictFromDataFrame``
    (tcdb/etl/atcf.py:340-385) + the per-cycle groupby loop in
    processObservations (tcdb/etl/process_obs.py:70-91): ONE groupBy over
    every cycle of every storm instead of a Python loop per (file, cycle).
    """
    from tcdb_spark.operators.pivot import QUADS, RAD_THRESHOLDS

    first_ord = F.struct(F.col("RAD").try_cast("int"))
    aggs = [
        F.min_by(F.col("LAT"), first_ord).alias("latitude"),
        F.min_by(F.col("LON"), first_ord).alias("longitude"),
        F.min_by(F.col("VMAX"), first_ord).alias("intensity_kts"),
        F.min_by(F.col("MSLP"), first_ord).alias("mslp_mb"),
        F.min_by(F.col("POUTER"), first_ord).cast("int").alias("pouter_mb"),
        F.min_by(F.col("ROCI"), first_ord).cast("int").alias("router_nmi"),
        F.min_by(F.col("RMW"), first_ord).cast("int").alias("rmw_nmi"),
    ]
    for r in RAD_THRESHOLDS:
        for q in QUADS:
            aggs.append(
                F.max(F.when(F.col("RAD").try_cast("int") == r, F.col(q).cast("int")))
                .alias(f"r{r}_{q.lower()}")
            )
    return parsed.groupBy(
        F.upper(F.col("BASIN")).alias("basin"),
        F.col("SNUM").alias("nhc_number"),
        F.col("DATETIME").alias("datetime_utc"),
    ).agg(*aggs)


def storms_from_bdeck(parsed: DataFrame) -> DataFrame:
    """Per-storm summary rows from parsed b-deck observations — the
    set-based form of the reference's per-file ``toStormDict``
    (tcdb/etl/atcf.py:289-337):

    - a storm is (BASIN, SNUM, season): the season is the year in the
      ATCF deck file name (``b<bb><nn><yyyy>.dat``) when the lines
      carry a ``source_file``, else the year of the storm's first fix —
      so one batch holding bal092021.dat and bal092022.dat gives two
      storms, not one spanning both seasons;
    - start/end = min/max DATETIME;
    - start lat/lon = first row's values (first = earliest DATETIME,
      lowest RAD as tiebreak, matching file order);
    - nhc_number / subregion = last row's values;
    - name: invests (number >= 70) get ORG-NN+subregion, else
      strongest-type + mode-filled STORMNAME;
    - nhc_id = BASIN + %02d + season.

    One aggregation over all storms at once instead of one pandas parse
    per file.
    """
    # 0 = no deck file name: the season is then the first fix's year
    file_season = (
        F.regexp_extract(F.col("source_file"), _DECK_FILE, 1).try_cast("int")
        if "source_file" in parsed.columns
        else F.lit(None)
    )
    parsed = parsed.withColumn("__season", F.coalesce(file_season, F.lit(0)))
    first_ord = F.struct(F.col("DATETIME"), F.coalesce(F.col("RAD"), F.lit("0")))
    grp = ["BASIN", "SNUM", "__season"]
    base = parsed.groupBy(*grp).agg(
        F.min("DATETIME").alias("start_date"),
        F.max("DATETIME").alias("end_date"),
        F.min_by(F.col("LAT"), first_ord).alias("start_lat"),
        F.min_by(F.col("LON"), first_ord).alias("start_lon"),
        F.max_by(F.col("SNUM"), first_ord).alias("nhc_number"),
        F.max_by(F.coalesce(F.col("SUBREGION"), F.lit("")), first_ord).alias("subregion"),
        F.max("VMAX").alias("max_wind"),
    )
    base = base.withColumn(
        "season",
        F.when(F.col("__season") > 0, F.col("__season")).otherwise(F.year(F.col("start_date"))),
    )
    names = deterministic_mode(parsed, grp, "STORMNAME", out="mode_name")
    base = base.join(names, on=grp, how="left")

    org = F.when(F.upper(F.col("BASIN")).isin("AL", "EP", "CP"), "NHC").otherwise("JTWC")
    stype = storm_type(F.col("max_wind"), F.upper(F.col("BASIN")))
    display_name = F.when(
        F.col("nhc_number") >= 70,
        F.format_string("%s-%02d%s", org, F.col("nhc_number"), F.coalesce(F.col("subregion"), F.lit(""))),
    ).otherwise(F.concat(stype, F.lit("-"), F.initcap(F.lower(F.col("mode_name")))))

    return base.select(
        F.upper(F.col("BASIN")).alias("basin"),
        F.col("nhc_number").cast("int").alias("nhc_number"),
        nhc_id(F.col("BASIN"), F.col("nhc_number"), F.col("season")).alias("nhc_id"),
        F.col("season").cast("int").alias("season"),
        "start_date",
        "end_date",
        display_name.alias("name"),
        F.col("start_lat").cast("double").alias("start_lat"),
        F.col("start_lon").cast("double").alias("start_lon"),
    )

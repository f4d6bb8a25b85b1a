"""Domain-specific ATCF operators, oracle-checked as GOLDEN tests.

The driver testdata has no deck files, so these queries parse fixture
lines embedded as literals (FIXTURES.md §A) with the real engine code
path, and the DuckDB oracle is the hand-computed expected output as a
``VALUES`` table. A hash match means the parser produced exactly the
golden rows — a stronger check than re-implementing the parse in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.operators.pivot import pivot_wind_radii
from tcdb_spark.plans.catalog import register
from tcdb_spark.session import local_frame
from tcdb_spark.sources.atcf import (
    parse_adeck_lines,
    parse_bdeck_lines,
    storms_from_bdeck,
)

# --- a-deck fixture (17 positional cols; >=18 fields kept, ragged dropped) --

ADECK_LINES = [
    "AL, 05, 2022092800, 01, OFCL, 0, 254N, 725W, 45, 1002, TS, 34, NEQ, 80, 60, 40, 70, 1008",
    "AL, 05, 2022092800, 01, OFCL, 12, 260N, 731W, 50, 999, TS, 50, NEQ, 40, 30, 20, 30, 1009",
    "AL, 05, 2022092806, 02, AVNO, 0, 257N, 728W, , , , , , , , , , 0",
    "EP, 90, 2022092806, , CARQ, 0, 151N, 1042W, 25, 1006, DB, 0, , 0, 0, 0, 0, x",
    "SH, 03, 2022011512, 03, JTWC, 24, 95S, 1230E, 65, 980, TC, 64, NEQ, 25, 25, 20, 20, y",
    "WP, 12, 2022081800, 01, OFCL, 48, 203N, 1354E, 130, 915, TY, 64, NEQ, 45, 40, 35, 38, z",
    "AL, 05, 2022092800, 01, OFCL",  # ragged (<18 fields) -> dropped
    "CP, 02, 2022070112, , TEST, 6, 0N, 0E, 0, 0, , , , , , , , pad",
]

# Hand-computed golden rows (BASIN, SNUM, DATETIME, TECHNUM, TECH, TAU,
# LAT, LON, VMAX, MSLP, TY, RAD, WINDCODE, NE, SE, SW, NW).
_ADECK_EXPECTED = [
    ("AL", 5, "2022-09-28 00:00:00", "01", "OFCL", 0, 25.4, -72.5, 45.0, 1002.0, "TS", "34", "NEQ", 80.0, 60.0, 40.0, 70.0),
    ("AL", 5, "2022-09-28 00:00:00", "01", "OFCL", 12, 26.0, -73.1, 50.0, 999.0, "TS", "50", "NEQ", 40.0, 30.0, 20.0, 30.0),
    ("AL", 5, "2022-09-28 06:00:00", "02", "AVNO", 0, 25.7, -72.8, None, None, None, None, None, None, None, None, None),
    ("EP", 90, "2022-09-28 06:00:00", None, "CARQ", 0, 15.1, -104.2, 25.0, 1006.0, "DB", "0", None, 0.0, 0.0, 0.0, 0.0),
    ("SH", 3, "2022-01-15 12:00:00", "03", "JTWC", 24, -9.5, 123.0, 65.0, 980.0, "TC", "64", "NEQ", 25.0, 25.0, 20.0, 20.0),
    ("WP", 12, "2022-08-18 00:00:00", "01", "OFCL", 48, 20.3, 135.4, 130.0, 915.0, "TY", "64", "NEQ", 45.0, 40.0, 35.0, 38.0),
    ("CP", 2, "2022-07-01 12:00:00", None, "TEST", 6, 0.0, 0.0, 0.0, 0.0, None, None, None, None, None, None, None),
]

_ADECK_OUT_TYPES = [
    ("BASIN", "VARCHAR"), ("SNUM", "INTEGER"), ("DATETIME", "TIMESTAMP"),
    ("TECHNUM", "VARCHAR"), ("TECH", "VARCHAR"), ("TAU", "INTEGER"),
    ("LAT", "DOUBLE"), ("LON", "DOUBLE"), ("VMAX", "DOUBLE"), ("MSLP", "DOUBLE"),
    ("TY", "VARCHAR"), ("RAD", "VARCHAR"), ("WINDCODE", "VARCHAR"),
    ("NE", "DOUBLE"), ("SE", "DOUBLE"), ("SW", "DOUBLE"), ("NW", "DOUBLE"),
]


def _sql_lit(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "VARCHAR":
        return "'" + str(v).replace("'", "''") + "'"
    if typ == "TIMESTAMP":
        return f"TIMESTAMP '{v}'"
    if typ == "DOUBLE":
        return f"CAST({v!r} AS DOUBLE)"
    return f"CAST({v} AS {typ})"


def _values_oracle(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    names = ", ".join(c for c, _ in cols)
    vals = ",\n      ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, (_, t) in zip(row, cols)) + ")" for row in rows
    )
    return f"SELECT * FROM (VALUES\n      {vals}\n    ) AS t({names})"


@register("scan_adeck_parse", oracle=_values_oracle(_ADECK_EXPECTED, _ADECK_OUT_TYPES))
def scan_adeck_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-deck scan: split/filter/typed projection (tcdb/etl/atcf.py:19-88;
    ragged handling :227-250). Golden-checked against hand-computed rows."""
    lines = local_frame(spark, [(l,) for l in ADECK_LINES], "value string")
    parsed = parse_adeck_lines(lines)
    return parsed.select(
        "BASIN", "SNUM", "DATETIME",
        F.col("`TECHNUM/MIN`").alias("TECHNUM"),
        "TECH", "TAU", "LAT", "LON", "VMAX", "MSLP", "TY", "RAD", "WINDCODE",
        "NE", "SE", "SW", "NW",
    )


# --- b-deck fixture: 3 storms incl. mode-name fill + invest naming --------

BDECK_LINES = [
    "AL, 09, 2022092600, , BEST, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, 1010, 150, 30, 45, 0, L, 8, ab, 270, 8, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "AL, 09, 2022092600, , BEST, 0, 251N, 740W, 35, 1003, TS, 50, NEQ, 30, 20, 10, 20, 1010, 150, 30, 45, 0, L, 8, ab, 270, 8, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "AL, 09, 2022092606, , BEST, 0, 258N, 748W, 45, 996, TS, 34, NEQ, 70, 50, 40, 60, 1009, 160, 25, 55, 0, L, 9, ab, 275, 9, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "EP, 91, 2022092600, , BEST, 0, 151N, 1041W, 25, 1007, DB, 34, NEQ, 0, 0, 0, 0, 1009, 100, 40, 35, 0, E, 5, cd, 280, 6, INVEST, S, 0, , 0, 0, 0, 0, ,",
    "SH, 03, 2022011512, , BEST, 0, 95S, 1230E, 70, 975, TC, 34, NEQ, 25, 25, 20, 20, 1004, 120, 20, 85, 0, S, 6, ef, 200, 10, DARIAN, D, 0, , 0, 0, 0, 0, ,",
]

_STORMS_EXPECTED = [
    ("AL", 9, "AL092022", 2022, "2022-09-26 00:00:00", "2022-09-26 06:00:00", "TS-Ian", 25.1, -74.0),
    ("EP", 91, "EP912022", 2022, "2022-09-26 00:00:00", "2022-09-26 00:00:00", "NHC-91E", 15.1, -104.1),
    ("SH", 3, "SH032022", 2022, "2022-01-15 12:00:00", "2022-01-15 12:00:00", "STC-Darian", -9.5, 123.0),
]

_STORMS_TYPES = [
    ("basin", "VARCHAR"), ("nhc_number", "INTEGER"), ("nhc_id", "VARCHAR"),
    ("season", "INTEGER"), ("start_date", "TIMESTAMP"), ("end_date", "TIMESTAMP"),
    ("name", "VARCHAR"), ("start_lat", "DOUBLE"), ("start_lon", "DOUBLE"),
]


@register("scan_bdeck_storms", oracle=_values_oracle(_STORMS_EXPECTED, _STORMS_TYPES))
def scan_bdeck_storms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-deck scan -> per-storm summary (toStormDict set-based,
    tcdb/etl/atcf.py:289-337): min/max dates, first-row lat/lon, invest vs
    named naming, nhc_id composition. Golden-checked."""
    lines = local_frame(spark, [(l,) for l in BDECK_LINES], "value string")
    return storms_from_bdeck(parse_bdeck_lines(lines))


_RADII_EXPECTED = [
    ("AL", 9, "2022-09-26 00:00:00", 60, 40, 30, 50, 30, 20, 10, 20, None, None, None, None),
    ("AL", 9, "2022-09-26 06:00:00", 70, 50, 40, 60, None, None, None, None, None, None, None, None),
    ("EP", 91, "2022-09-26 00:00:00", 0, 0, 0, 0, None, None, None, None, None, None, None, None),
    ("SH", 3, "2022-01-15 12:00:00", 25, 25, 20, 20, None, None, None, None, None, None, None, None),
]

_RADII_TYPES = [("BASIN", "VARCHAR"), ("SNUM", "INTEGER"), ("DATETIME", "TIMESTAMP")] + [
    (f"r{r}_{q}", "INTEGER") for r in (34, 50, 64) for q in ("ne", "se", "sw", "nw")
]


@register("pivot_wind_radii", oracle=_values_oracle(_RADII_EXPECTED, _RADII_TYPES))
def pivot_wind_radii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wind-radii long->wide reshape (tcdb/etl/atcf.py:340-385,418-427):
    <=3 RAD rows per cycle become 12 r{34,50,64}_{quad} columns."""
    lines = local_frame(spark, [(l,) for l in BDECK_LINES], "value string")
    parsed = parse_bdeck_lines(lines)
    return pivot_wind_radii(parsed, ["BASIN", "SNUM", "DATETIME"])


# --- full model-catalog enrichment (dims_models.py, 492 techniques) -------

_CATALOG_EXPECTED = [
    ("AVNO", 1, "GFS Model", True, True),
    ("CARQ", 1, "Combined ARQ Position", True, True),
    ("JTWC", 1, "JTWC official forecast", True, True),
    ("OFCL", 3, "NHC official forecast", True, True),
    ("TEST", 1, None, False, False),
]
_CATALOG_TYPES = [
    ("tech", "VARCHAR"), ("n", "BIGINT"), ("long_name", "VARCHAR"),
    ("in_catalog", "BOOLEAN"), ("in_allowlist", "BOOLEAN"),
]


@register("dim_model_catalog", oracle=_values_oracle(_CATALOG_EXPECTED, _CATALOG_TYPES))
def dim_model_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-technique counts enriched against the FULL 492-row model
    catalog (db/insert_full_models.sql via dims_models.py) with the
    a-deck allowlist as a flag.  LEFT join + in_catalog boolean: an
    uncataloged technique (TEST) surfaces with a NULL long_name instead
    of silently dropping — the failure mode a partial dim causes.  The
    catalog is driver-side data, so it broadcasts; the fact side never
    shuffles for the join."""
    from tcdb_spark.dims import MODEL_TECHS, models_df

    lines = local_frame(spark, [(l,) for l in ADECK_LINES], "value string")
    parsed = parse_adeck_lines(lines)
    cat = models_df(spark).select(
        F.col("short_name").alias("tech"), "long_name"
    )
    return (
        parsed.groupBy(F.col("TECH").alias("tech"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(cat), "tech", "left")
        .select(
            "tech",
            "n",
            "long_name",
            F.col("long_name").isNotNull().alias("in_catalog"),
            F.col("tech").isin(MODEL_TECHS).alias("in_allowlist"),
        )
    )


# --- forecast verification fixture: OFCL/AVNO forecasts vs best track ------

ADECK_VERIF_LINES = [
    "AL, 09, 2022092600, 01, OFCL, 0, 252N, 741W, 40, 1000, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 01, OFCL, 6, 258N, 749W, 45, 997, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 01, OFCL, 12, 268N, 759W, 55, 990, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 02, AVNO, 0, 250N, 739W, 38, 1001, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 02, AVNO, 6, 261N, 752W, 44, 998, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 02, AVNO, 12, 263N, 753W, 48, 995, TS, 34, NEQ, 0, 0, 0, 0, p",
    "AL, 09, 2022092600, 01, OFCL, 24, 280N, 770W, 60, 985, TS, 34, NEQ, 0, 0, 0, 0, p",  # no 24Z best point -> drops
]

BDECK_VERIF_LINES = [
    "AL, 09, 2022092600, , BEST, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, 1010, 150, 30, 45, 0, L, 8, ab, 270, 8, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "AL, 09, 2022092600, , BEST, 0, 251N, 740W, 35, 1003, TS, 50, NEQ, 30, 20, 10, 20, 1010, 150, 30, 45, 0, L, 8, ab, 270, 8, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "AL, 09, 2022092606, , BEST, 0, 258N, 748W, 45, 996, TS, 34, NEQ, 70, 50, 40, 60, 1009, 160, 25, 55, 0, L, 9, ab, 275, 9, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
    "AL, 09, 2022092612, , BEST, 0, 266N, 756W, 55, 990, TS, 34, NEQ, 80, 60, 50, 70, 1008, 170, 25, 60, 0, L, 9, ab, 280, 10, IAN, D, 12, NEQ, 0, 0, 0, 0, ,",
]

_HAV_SQL = """
    round(2.0 * asin(sqrt(
        pow(sin((radians(f.lat) - radians(b.lat)) / 2), 2)
      + cos(radians(f.lat)) * cos(radians(b.lat))
        * pow(sin((radians(f.lon) - radians(b.lon)) / 2), 2)
    )) * (180.0 / pi()) * 60.0, 4)
"""

_VERIF_FC = [
    ("OFCL", 0, "2022-09-26 00:00:00", 25.2, -74.1),
    ("OFCL", 6, "2022-09-26 06:00:00", 25.8, -74.9),
    ("OFCL", 12, "2022-09-26 12:00:00", 26.8, -75.9),
    ("OFCL", 24, "2022-09-27 00:00:00", 28.0, -77.0),
    ("AVNO", 0, "2022-09-26 00:00:00", 25.0, -73.9),
    ("AVNO", 6, "2022-09-26 06:00:00", 26.1, -75.2),
    ("AVNO", 12, "2022-09-26 12:00:00", 26.3, -75.3),
]
_VERIF_BT = [
    ("2022-09-26 00:00:00", 25.1, -74.0),
    ("2022-09-26 06:00:00", 25.8, -74.8),
    ("2022-09-26 12:00:00", 26.6, -75.6),
]


@register(
    "forecast_verification",
    oracle=(
        "WITH f(tech, tau, valid, lat, lon) AS (VALUES\n      "
        + ",\n      ".join(
            f"('{t}', {tau}, TIMESTAMP '{v}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
            for t, tau, v, la, lo in _VERIF_FC
        )
        + "),\n    b(dt, lat, lon) AS (VALUES\n      "
        + ",\n      ".join(
            f"(TIMESTAMP '{v}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
            for v, la, lo in _VERIF_BT
        )
        + f""")
    SELECT f.tech, f.tau, {_HAV_SQL} AS err_nm
    FROM f JOIN b ON f.valid = b.dt
    """
    ),
)
def forecast_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Track-forecast verification — position error (great-circle nm)
    per model per lead time, THE operational TC-forecasting metric (the
    read the reference's a-deck/b-deck star schema exists to serve):
    a-deck forecast positions advance to their valid time (issuance +
    TAU hours) and join the b-deck best track at that instant; the
    error is the shared pure-column haversine (functions/scalar.py).

    Both decks parse through the REAL scan path (fixture lines, like
    every ATCF golden — FIXTURES.md §A); the oracle re-derives the
    errors from the hand-decoded positions as VALUES, so the hash match
    attests parse + time arithmetic + join + formula together.  Best
    track dedupes its per-wind-radii row multiplicity (34/50 kt rows
    share a position) with a distinct BEFORE the join — forgetting that
    double-counts every verification at radii-bearing times.  Leads
    with no verifying best-track point (tau 24 here) drop via the inner
    join, as operational verification does.  Scale shape: best track is
    dimension-sized -> broadcast; forecasts never shuffle."""
    fc = parse_adeck_lines(
        local_frame(spark, [(l,) for l in ADECK_VERIF_LINES], "value string")
    ).select(
        F.col("TECH").alias("tech"),
        F.col("TAU").alias("tau"),
        F.timestamp_add("HOUR", F.col("TAU"), F.col("DATETIME")).alias("valid"),
        F.col("LAT").alias("lat"),
        F.col("LON").alias("lon"),
    )
    bt = (
        parse_bdeck_lines(
            local_frame(spark, [(l,) for l in BDECK_VERIF_LINES], "value string")
        )
        .select(F.col("DATETIME").alias("dt"), F.col("LAT").alias("blat"), F.col("LON").alias("blon"))
        .distinct()
    )
    from tcdb_spark.functions.scalar import haversine

    j = fc.join(F.broadcast(bt), fc.valid == bt.dt)
    return j.select(
        "tech",
        "tau",
        F.round(haversine(F.col("lat"), F.col("lon"), F.col("blat"), F.col("blon"), "nm"), 4).alias("err_nm"),
    )


@register(
    "forecast_skill",
    oracle=(
        "WITH f(tech, tau, valid, lat, lon) AS (VALUES\n      "
        + ",\n      ".join(
            f"('{t}', {tau}, TIMESTAMP '{v}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
            for t, tau, v, la, lo in _VERIF_FC
        )
        + "),\n    b(dt, lat, lon) AS (VALUES\n      "
        + ",\n      ".join(
            f"(TIMESTAMP '{v}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE))"
            for v, la, lo in _VERIF_BT
        )
        + f"""),
    err AS (
        SELECT f.tech, f.tau, {_HAV_SQL} AS err_nm
        FROM f JOIN b ON f.valid = b.dt
    ),
    base AS (SELECT tau, err_nm AS base_err FROM err WHERE tech = 'OFCL')
    SELECT e.tech, e.tau, e.err_nm,
           round((b.base_err - e.err_nm) / b.base_err, 6) AS skill
    FROM err e JOIN base b ON e.tau = b.tau
    WHERE e.tech <> 'OFCL'
    """
    ),
)
def forecast_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast skill relative to the baseline model (NHC convention:
    positive skill = beats the baseline at that lead): per-lead errors
    from forecast_verification's pipeline, baseline errors re-entering
    as a leads-sized broadcast join — the model-intercomparison read a
    verification warehouse serves daily.  Baseline errors are rounded
    BEFORE the skill ratio in both engines (the shared _HAV_SQL /
    haversine rounding), so the division operands are bit-identical."""
    from tcdb_spark.functions.scalar import haversine

    fc = parse_adeck_lines(
        local_frame(spark, [(l,) for l in ADECK_VERIF_LINES], "value string")
    ).select(
        F.col("TECH").alias("tech"),
        F.col("TAU").alias("tau"),
        F.timestamp_add("HOUR", F.col("TAU"), F.col("DATETIME")).alias("valid"),
        F.col("LAT").alias("lat"),
        F.col("LON").alias("lon"),
    )
    bt = (
        parse_bdeck_lines(
            local_frame(spark, [(l,) for l in BDECK_VERIF_LINES], "value string")
        )
        .select(F.col("DATETIME").alias("dt"), F.col("LAT").alias("blat"), F.col("LON").alias("blon"))
        .distinct()
    )
    err = fc.join(F.broadcast(bt), fc.valid == bt.dt).select(
        "tech",
        "tau",
        F.round(
            haversine(F.col("lat"), F.col("lon"), F.col("blat"), F.col("blon"), "nm"), 4
        ).alias("err_nm"),
    ).persist()
    base = err.where(F.col("tech") == "OFCL").select(
        F.col("tau").alias("tau"), F.col("err_nm").alias("base_err")
    )
    return (
        err.where(F.col("tech") != "OFCL")
        .join(F.broadcast(base), "tau")
        .select(
            "tech",
            "tau",
            "err_nm",
            F.round((F.col("base_err") - F.col("err_nm")) / F.col("base_err"), 6).alias("skill"),
        )
    )


_VERIF_BT_VMAX = [
    ("2022-09-26 00:00:00", 35.0),
    ("2022-09-26 06:00:00", 45.0),
    ("2022-09-26 12:00:00", 55.0),
]
_VERIF_FC_VMAX = [
    ("OFCL", 0, "2022-09-26 00:00:00", 40.0),
    ("OFCL", 6, "2022-09-26 06:00:00", 45.0),
    ("OFCL", 12, "2022-09-26 12:00:00", 55.0),
    ("OFCL", 24, "2022-09-27 00:00:00", 60.0),
    ("AVNO", 0, "2022-09-26 00:00:00", 38.0),
    ("AVNO", 6, "2022-09-26 06:00:00", 44.0),
    ("AVNO", 12, "2022-09-26 12:00:00", 48.0),
]


@register(
    "intensity_verification",
    oracle=(
        "WITH f(tech, tau, valid, vmax) AS (VALUES\n      "
        + ",\n      ".join(
            f"('{t}', {tau}, TIMESTAMP '{v}', CAST({vm!r} AS DOUBLE))"
            for t, tau, v, vm in _VERIF_FC_VMAX
        )
        + "),\n    b(dt, vmax) AS (VALUES\n      "
        + ",\n      ".join(
            f"(TIMESTAMP '{v}', CAST({vm!r} AS DOUBLE))" for v, vm in _VERIF_BT_VMAX
        )
        + """)
    SELECT f.tech,
           round(avg(abs(f.vmax - b.vmax)), 4) AS mae_kt,
           round(avg(f.vmax - b.vmax), 4) AS bias_kt,
           CAST(count(*) AS BIGINT) AS n_verified
    FROM f JOIN b ON f.valid = b.dt
    GROUP BY f.tech
    """
    ),
)
def intensity_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intensity verification — per-model VMAX mean-absolute-error and
    BIAS (signed: positive = over-forecast), the companion read to
    forecast_verification that decides whether a model's winds are
    trustworthy.  Same fixture decks through the real parsers, same
    valid-time join discipline (best-track radii rows deduped first,
    unverifiable leads drop); errors are exact kt differences averaged
    once — the only rounding is the output's."""
    fc = parse_adeck_lines(
        local_frame(spark, [(l,) for l in ADECK_VERIF_LINES], "value string")
    ).select(
        F.col("TECH").alias("tech"),
        F.timestamp_add("HOUR", F.col("TAU"), F.col("DATETIME")).alias("valid"),
        F.col("VMAX").alias("fvmax"),
    )
    bt = (
        parse_bdeck_lines(
            local_frame(spark, [(l,) for l in BDECK_VERIF_LINES], "value string")
        )
        .select(F.col("DATETIME").alias("dt"), F.col("VMAX").alias("bvmax"))
        .distinct()
    )
    return (
        fc.join(F.broadcast(bt), fc.valid == bt.dt)
        .groupBy("tech")
        .agg(
            F.round(F.avg(F.abs(F.col("fvmax") - F.col("bvmax"))), 4).alias("mae_kt"),
            F.round(F.avg(F.col("fvmax") - F.col("bvmax")), 4).alias("bias_kt"),
            F.count("*").alias("n_verified"),
        )
    )

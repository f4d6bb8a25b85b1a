"""Ensemble-path catalog entries (SURVEY.md §2.1 scan-mat-ensemble,
§2.4 join-track-assignment, §2.5 agg-ensemble-mean, §2.6
pivot-ensemble-matrix) — golden-checked over the deterministic fake
ensemble.  scan_mat_ensemble round-trips through a REAL MAT 5 file
(written and parsed by the pure-stdlib sources/mat5.py), so the golden
covers actual byte-level ingestion, not just the struct conversion.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.operators.aggregates import ensemble_mean
from tcdb_spark.operators.syntracks import (
    assign_tracks_to_invest,
    drop_empty_tracks,
    syntrack_steps,
)
from tcdb_spark.plans.catalog import register
from tcdb_spark.plans.queries_atcf import _values_oracle
from tcdb_spark.session import local_frame
from tcdb_spark.sources.mat_ensemble import fake_ensemble_df

_INIT = dt.datetime(2022, 9, 1, 0, 0, 0)
N_ENS, N_STEPS = 6, 4

# fake_ensemble_df(n_ens=6, n_steps=4): members 0..4 real (member e starts
# at lat 10+0.5e moving +0.4/step), member 5 all-NaN (dropped); member 0
# pre-assigned annual_id=1 name TEST.

_ASSIGN_EXPECTED = [
    (0, 1, "TEST", 4),
    (1, 1, "INVEST-95L", 4),
    (2, 1, "INVEST-95L", 4),
    (3, 1, "INVEST-95L", 4),
    (4, 1, "INVEST-95L", 4),
]
_ASSIGN_TYPES = [
    ("ensemble", "INTEGER"), ("annual_id", "INTEGER"),
    ("storm_name", "VARCHAR"), ("n_steps", "BIGINT"),
]


@register("join_track_assignment", oracle=_values_oracle(_ASSIGN_EXPECTED, _ASSIGN_TYPES))
def join_track_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unassigned-ensemble-track -> invest assignment with the linear
    distance-threshold ramp and longest-track tiebreak
    (tcdb/etl/syntracks.py:281-375), golden-checked: members 1-4 start
    within the step-0 threshold of the invest and must all be claimed;
    the pre-assigned member keeps its identity; the all-NaN member drops.
    """
    tracks = drop_empty_tracks(fake_ensemble_df(spark, n_ens=N_ENS, n_steps=N_STEPS, init=_INIT))
    invests = local_frame(
        spark,
        [("ECMWF", _INIT, 1, "INVEST-95L", 10.2, -40.2, _INIT)],
        "model string, init timestamp, annual_id int, name string, lat double, lon double, valid timestamp",
    )
    out = assign_tracks_to_invest(tracks, invests)
    return out.groupBy("ensemble").agg(
        # assignment is per-track, so these are constant within the
        # group — max is the order-free read (determinism audit)
        F.max("annual_id").alias("annual_id"),
        F.max("storm_name").alias("storm_name"),
        F.count(F.lit(1)).alias("n_steps"),
    )


def _mean(vals):
    return round(sum(vals) / len(vals), 6)


_MEAN_EXPECTED = [
    (
        9000,
        i * 6,
        _mean([10.0 + e * 0.5 + i * 0.4 for e in range(5)]),
        _mean([-40.0 - e * 0.5 - i * 0.5 for e in range(5)]),
        _mean([30.0 + e + 2.0 * i for e in range(5)]),
        _mean([1005.0 - e - i for e in range(5)]),
    )
    for i in range(N_STEPS)
]
_MEAN_TYPES = [
    ("ensemble", "INTEGER"), ("hour", "INTEGER"), ("lat", "DOUBLE"),
    ("lon", "DOUBLE"), ("wind", "DOUBLE"), ("mslp", "DOUBLE"),
]


@register("agg_ensemble_mean", oracle=_values_oracle(_MEAN_EXPECTED, _MEAN_TYPES))
def agg_ensemble_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step ensemble mean emitted as synthetic member 9000
    (ensMean, tcdb/etl/syntracks.py:152-191), golden-checked against the
    closed-form expectation of the fake ensemble."""
    tracks = drop_empty_tracks(fake_ensemble_df(spark, n_ens=N_ENS, n_steps=N_STEPS, init=_INIT))
    with_mean = ensemble_mean(
        tracks, ["model", "init"], "hour", ["lat", "lon", "wind", "mslp"],
        deterministic_member=-1, mean_label=9000,
    )
    return (
        with_mean.where(F.col("ensemble") == 9000)
        .select(
            "ensemble",
            "hour",
            F.round("lat", 6).alias("lat"),
            F.round("lon", 6).alias("lon"),
            F.round("wind", 6).alias("wind"),
            F.round("mslp", 6).alias("mslp"),
        )
    )


_STEPS_EXPECTED = [
    (h, 10.0 + e * 0.5 + (h // 6) * 0.4, 30.0 + e + 2.0 * (h // 6))
    for e in range(2)
    for h in [0, 6]
]
_STEPS_TYPES = [("hour", "INTEGER"), ("latitude", "DOUBLE"), ("intensity_kts", "DOUBLE")]


@register("scan_mat_ensemble", oracle=_values_oracle(_STEPS_EXPECTED, _STEPS_TYPES))
def scan_mat_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format ensemble ingestion -> rounded step rows (toStepDict,
    tcdb/etl/syntracks.py:378-389) for a 2-member, 2-step slice.
    The slice is written as a real compressed MAT 5 file and parsed back
    (sources/mat5.py), then structs_to_rows (NaN -> NULL) +
    syntrack_steps rounding produce the golden-checked rows."""
    import tempfile

    from tcdb_spark.sources.mat_ensemble import read_mat_ensemble, write_fake_mat

    path = os.path.join(tempfile.gettempdir(), "tcdb_spark_ECMWF_2022090100.mat")
    write_fake_mat(path, n_ens=3, n_steps=2, init=_INIT, compress=True)
    df = read_mat_ensemble(spark, path, model="ECMWF", init=_INIT)
    steps = syntrack_steps(drop_empty_tracks(df))
    return steps.select("hour", "latitude", "intensity_kts")

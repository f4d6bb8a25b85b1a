"""Pivot / reshape operators (SURVEY.md §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUADS = ["NE", "SE", "SW", "NW"]
RAD_THRESHOLDS = [34, 50, 64]


def pivot_wind_radii(df: DataFrame, keys: list[str], rad_col: str = "RAD") -> DataFrame:
    """B-deck wind-radii reshape: <=3 rows per (storm, datetime) — one per
    RAD threshold in {34,50,64} with NE/SE/SW/NW columns — to one wide row
    with 12 ``r{34,50,64}_{ne,se,sw,nw}`` columns.

    Reference: tcdb/etl/atcf.py:340-385 (``observationDictFromDataFrame``) +
    :418-427 (``getRadialValues``); wide schema tcdb/models/observations.py:19-30.

    Conditional aggregation (``max(when(RAD==r, quad))``) instead of
    ``.pivot()``: the pivot values are known constants, so this stays one
    groupBy with map-side partials and a fixed output schema (no second
    job to discover pivot values).
    """
    aggs = []
    for r in RAD_THRESHOLDS:
        for q in QUADS:
            aggs.append(
                F.max(F.when(F.col(rad_col).cast("int") == r, F.col(q).cast("int")))
                .alias(f"r{r}_{q.lower()}")
            )
    return df.groupBy(*keys).agg(*aggs)


def pivot_matrix(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    pivot_values: list,
    value_col: str,
    agg: str = "first",
) -> DataFrame:
    """Long -> wide dense matrix, e.g. ensemble long format ->
    (step x ensemble) matrix at the visualization edge
    (tcdb/etl/syntracks.py:91-149 ``to_xarray``). Explicit ``pivot_values``
    avoids the extra distinct-values job at scale.
    """
    g = df.groupBy(row_key).pivot(pivot_col, pivot_values)
    return getattr(g, "agg")(getattr(F, agg)(value_col))


def unpivot_radii(df: DataFrame, keys: list[str]) -> DataFrame:
    """Wide r34_ne..r64_nw back to long (RAD, quad, value) via ``stack`` —
    inverse of pivot_wind_radii (SURVEY.md §2.6 ``unpivot-step-rows``)."""
    pairs = []
    for r in RAD_THRESHOLDS:
        for q in QUADS:
            pairs.append(f"'{r}', '{q}', r{r}_{q.lower()}")
    expr = f"stack({len(pairs)}, {', '.join(pairs)}) as (RAD, quad, radius_nmi)"
    return df.select(*keys, F.expr(expr))

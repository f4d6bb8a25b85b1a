"""Maintenance job (reference: tcdb/pipeline/routines.py +
master_maintnence.sh): status archival sweep + old-invest cleanup with
cascade, as Delta-style UPDATE/DELETE over the warehouse.

Each step counts the rows it would change first (one small job) and
commits nothing when that count is 0, so a sweep with nothing to do
leaves every table at its version.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tcdb_spark.operators.merge import cascade_delete
from tcdb_spark.schemas import (
    OBSERVATIONS_SCHEMA,
    STORMS_SCHEMA,
    TRACKS_SCHEMA,
)
from tcdb_spark.sources.warehouse import Warehouse


def update_active_systems(
    spark: SparkSession, warehouse: Warehouse, run_id: str, now=None, idle_hours: int = 24
) -> int:
    """Flip status Active->Archive when now - end_date > idle_hours
    (updateActiveSystems, tcdb/pipeline/routines.py:14-31). Returns the
    number of archived rows; with none, storms is not rewritten."""
    now = now if now is not None else F.current_timestamp()
    storms = warehouse.read("storms", STORMS_SCHEMA)
    stale = (F.col("status") == "Active") & (
        (now.cast("long") - F.col("end_date").cast("long")) > idle_hours * 3600
    )
    # count against the pre-update frame: ``stale`` references status,
    # which the update itself rewrites
    n = storms.where(stale).count()
    if n == 0:
        return 0
    updated = storms.withColumn(
        "status", F.when(stale, F.lit("Archive")).otherwise(F.col("status"))
    ).withColumn(
        "run_id", F.when(stale, F.lit(run_id)).otherwise(F.col("run_id"))
    )
    warehouse.write("storms", updated)
    return n


def remove_old_invests(
    spark: SparkSession, warehouse: Warehouse, now=None, max_age_days: int = 30
) -> dict[str, int]:
    """Delete invests (nhc_number >= 90) idle for > max_age_days, cascading
    observations and tracks (removeOldInvests, tcdb/pipeline/routines.py:
    33-65; cascade via ORM relationships tcdb/models/storms.py:30-31 —
    here an ordered multi-table anti-join delete). With nothing to
    delete, no table is rewritten."""
    now = now if now is not None else F.current_timestamp()
    storms = warehouse.read("storms", STORMS_SCHEMA)
    doomed_pred = (F.col("nhc_number") >= 90) & (
        (now.cast("long") - F.col("end_date").cast("long")) > max_age_days * 86400
    )
    # storm_id is the storms MERGE key, one row per storm
    removed = storms.where(doomed_pred).count()
    if removed == 0:
        return {"removed_storms": 0}
    obs = warehouse.read("observations", OBSERVATIONS_SCHEMA)
    tracks = warehouse.read("tracks", TRACKS_SCHEMA)
    new_storms, children = cascade_delete(
        storms,
        {"observations": (obs, "storm_id"), "tracks": (tracks, "storm_id")},
        doomed_pred,
        "storm_id",
    )
    # cascade delete commits all-or-nothing (the ORM session's FK
    # cascade): a crash can never leave observations/tracks orphaned
    # from already-deleted parent storms
    with warehouse.transaction(["storms", "observations", "tracks"]) as txn:
        txn.write("storms", new_storms)
        txn.write("observations", children["observations"])
        txn.write("tracks", children["tracks"])
    return {"removed_storms": removed}

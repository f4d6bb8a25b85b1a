"""Natural-key MERGE (upsert) — the heart of the reference's write side
(SURVEY.md §2.8).

The reference upserts row-at-a-time through an ORM session with
field-level change detection (tcdb/models/base.py:50-79 ``updateFromDict``;
gates tcdb/etl/atcf_forecasts.py:75-133, tcdb/etl/process_obs.py:70-91,
tcdb/etl/process_storms.py:190-243). Here MERGE is one set-based plan:

    merged = FULL OUTER JOIN(current, incoming, natural key)
             -> matched & changed  => incoming fields + new audit stamp
             -> matched & unchanged => current row (audit untouched)
             -> right-only          => insert
             -> left-only           => keep

The output frame also counts its inserted / updated / unchanged rows
while the write runs it (:func:`merge_counts`), which is how the jobs
report table sizes and how the warehouse skips publishing a MERGE that
changed nothing.

Idempotent under replay (same input twice -> fixed point), which is what
the reference gets from unique indexes + one_or_none gates. On a real
lakehouse this maps 1:1 onto ``MERGE INTO`` (Delta/Iceberg — jars not in
this image; the writer below is the vanilla-parquet fallback and keeps the
same semantics). Scale notes: both sides shuffle once on the natural key
(or zero times if the table is bucketed on it); change detection is a
null-safe column comparison, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import MapType
from pyspark.sql.window import Window as W

# attribute of a merge() frame holding its Observation (see merge_counts)
_OBSERVATION = "_merge_observation"


def changed_predicate(left_prefix: str, right_prefix: str, cols: list[str]) -> Column:
    """OR of null-safe inequalities over ``cols`` — the reference's
    ``updateFromDict`` change detection (tcdb/models/base.py:50-79), where a
    row is only stamped dirty when a tracked field actually differs."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | ~F.col(f"{left_prefix}.{c}").eqNullSafe(F.col(f"{right_prefix}.{c}"))
    return pred


def merge(
    current: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    run_id: str | None = None,
    audit_ts: Column | None = None,
    update_guards: Column | None = None,
    dedupe_incoming: bool = True,
    null_safe_keys: bool = False,
    schema_evolution: bool = False,
) -> DataFrame:
    """Pure-Spark MERGE: returns the post-merge table as a DataFrame.

    Args:
        current: existing table (may be empty with correct schema).
        incoming: staged rows; must contain all ``keys`` and any compared
            columns. Columns missing from ``incoming`` keep current values.
        keys: natural key (MERGE ON clause).
        compare_cols: columns participating in change detection; default =
            all shared non-key, non-audit columns.
        run_id: audit stamp written to ``run_id`` only on rows actually
            inserted or changed (tcdb/etl/process_storms.py:239-240 dirty
            gate; run-id format tcdb/etl/process_obs.py:23).
        audit_ts: value for ``last_update`` on touched rows (defaults to
            ``current_timestamp()``).
        update_guards: extra WHEN MATCHED condition, e.g. the reference's
            "newer end_date wins" guard (tcdb/etl/process_storms.py:136-139):
            pass ``F.col("inc.end_date") >= F.col("cur.end_date")``.
        dedupe_incoming: drop duplicate incoming natural keys first
            (deterministic arbitrary-last semantics should be imposed
            upstream via latest_per_key when ordering matters).
        null_safe_keys: join keys with ``<=>`` instead of ``=``. Off by
            default: natural keys are NOT NULL by DDL in the reference
            (db/init_db_base.sql:137-145), and a null-safe join rewrites
            the key to ``(coalesce(k), isnull(k))``, which defeats
            bucket/partition co-location of the table side.
        schema_evolution: the Delta ``mergeSchema`` semantics — columns
            present only in ``incoming`` are APPENDED to the output
            schema (NULL for rows the batch didn't touch). Off by
            default: without the flag, incoming-only columns raise
            instead of being silently dropped.
    """
    audit_cols = {"run_id", "last_update"}
    shared = [c for c in incoming.columns if c in set(current.columns)]
    data_cols = [c for c in shared if c not in keys and c not in audit_cols]
    if compare_cols is None:
        compare_cols = data_cols
    current_only = [c for c in current.columns if c not in incoming.columns]
    incoming_only = [
        c for c in incoming.columns if c not in set(current.columns) and c not in audit_cols
    ]
    if incoming_only and not schema_evolution:
        raise ValueError(
            f"incoming has columns not in the target: {incoming_only}; "
            "pass schema_evolution=True to append them (mergeSchema semantics)"
        )

    if dedupe_incoming:
        # DETERMINISTIC dedup (round-8 retry audit): dropDuplicates keeps
        # whichever row a partition scan order surfaces first — a
        # recomputed task can surface a different one.  Rank duplicates
        # by the descending tuple of their orderable non-key columns
        # instead: stable under any partitioning, and full-duplicate
        # rows are interchangeable by definition.
        orderable = [
            c
            for c in incoming.columns
            if c not in keys and not isinstance(incoming.schema[c].dataType, MapType)
        ]
        if orderable:
            w_dedup = W.partitionBy(*keys).orderBy(
                *[F.col(c).desc_nulls_last() for c in orderable]
            )
            inc = (
                incoming.withColumn("__rn", F.row_number().over(w_dedup))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            inc = incoming.dropDuplicates(keys)
    else:
        inc = incoming
    cur = current.alias("cur")
    inc = inc.alias("inc")

    if null_safe_keys:
        on = [F.col(f"cur.{k}").eqNullSafe(F.col(f"inc.{k}")) for k in keys]
    else:
        on = [F.col(f"cur.{k}") == F.col(f"inc.{k}") for k in keys]
    joined = cur.join(inc, on=on, how="full_outer")

    # presence flags: a side exists iff its key columns are non-null
    cur_exists = F.col(f"cur.{keys[0]}").isNotNull()
    inc_exists = F.col(f"inc.{keys[0]}").isNotNull()

    changed = changed_predicate("cur", "inc", compare_cols)
    for c in incoming_only:
        # the current side's value for an evolved column is implicitly
        # NULL, so a non-null incoming value is a change
        changed = changed | F.col(f"inc.{c}").isNotNull()
    if update_guards is not None:
        # a guard comparing against a NULL current column yields NULL,
        # which when() treats as false — that would silently freeze rows
        # with e.g. cur.end_date IS NULL. NULL guard => update allowed.
        changed = changed & F.coalesce(update_guards, F.lit(True))
    take_incoming = inc_exists & (~cur_exists | changed)

    out_cols: list[Column] = []
    for k in keys:
        out_cols.append(F.coalesce(F.col(f"cur.{k}"), F.col(f"inc.{k}")).alias(k))
    for c in data_cols:
        out_cols.append(
            F.when(take_incoming, F.col(f"inc.{c}")).otherwise(F.col(f"cur.{c}")).alias(c)
        )
    for c in current_only:
        if c in audit_cols:
            continue
        out_cols.append(F.col(f"cur.{c}").alias(c))
    for c in incoming_only:
        dt = incoming.schema[c].dataType
        out_cols.append(
            F.when(take_incoming, F.col(f"inc.{c}"))
            .otherwise(F.lit(None).cast(dt))
            .alias(c)
        )

    if "run_id" in current.columns:
        stamp = F.lit(run_id) if run_id is not None else F.lit(None).cast("string")
        out_cols.append(
            F.when(take_incoming, stamp).otherwise(F.col("cur.run_id")).alias("run_id")
        )
    if "last_update" in current.columns:
        ts = audit_ts if audit_ts is not None else F.current_timestamp()
        out_cols.append(
            F.when(take_incoming, ts).otherwise(F.col("cur.last_update")).alias("last_update")
        )
    # the action that executes this frame (normally the warehouse write)
    # fills the counts, so reading them costs no extra job; Observation
    # does not take streaming frames
    obs = None if joined.isStreaming else Observation()
    if obs is not None:
        joined = joined.observe(
            obs,
            F.count_if(take_incoming & ~cur_exists).alias("inserted"),
            F.count_if(take_incoming & cur_exists).alias("updated"),
            F.count_if(~take_incoming).alias("unchanged"),
        )
    out = joined.select(*out_cols)
    out.__dict__[_OBSERVATION] = obs
    return out


def merge_counts(merged: DataFrame) -> dict[str, int] | None:
    """Row counts of a :func:`merge` frame, filled by the first action
    that ran it (normally the warehouse write): ``inserted``, ``updated``
    (matched and changed), ``unchanged`` (every other output row) and
    ``rows`` (their sum, the post-merge table size). None for a frame
    :func:`merge` did not return itself (any transformation of it loses
    the counts). Blocks until that first action has finished."""
    obs = merged.__dict__.get(_OBSERVATION)
    if obs is None:
        return None
    counts = {k: int(v) for k, v in obs.get.items()}
    counts["rows"] = counts["inserted"] + counts["updated"] + counts["unchanged"]
    return counts


def delete_where(table: DataFrame, predicate: Column) -> DataFrame:
    """Delta-style ``DELETE WHERE`` as a DataFrame transform
    (tcdb/pipeline/routines.py:33-65 ``removeOldInvests``)."""
    return table.where(~F.coalesce(predicate, F.lit(False)))


def cascade_delete(
    parent: DataFrame,
    children: dict[str, tuple[DataFrame, str]],
    predicate: Column,
    parent_key: str,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Ordered multi-table delete replacing FK ``ON DELETE CASCADE``
    (reference relies on ORM cascade, tcdb/models/storms.py:30-31; Spark has
    no FKs, so children are anti-joined against the deleted parent keys).

    Returns (new_parent, {name: new_child}).
    """
    doomed = parent.where(predicate).select(parent_key).dropDuplicates([parent_key])
    new_parent = parent.join(doomed, on=parent_key, how="left_anti")
    new_children = {}
    for name, (child, fk) in children.items():
        new_children[name] = child.join(
            doomed.withColumnRenamed(parent_key, fk), on=fk, how="left_anti"
        )
    return new_parent, new_children


def latest_wins_dedupe(incoming: DataFrame, keys: list[str], order_desc: list[str]) -> DataFrame:
    """Deterministic pre-MERGE dedup of staged rows: newest wins per key."""
    w = W.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_desc])
    return incoming.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def _latest_per_key(
    feed: DataFrame, keys: list[str], seq_col: str, op_col: str
) -> DataFrame:
    """Latest op per key by (seq DESC, destructive-op rank, payload DESC).

    The payload columns extend the ordering so a full tie on
    (seq, op) — duplicate natural keys in one batch, a real occurrence
    (shadow-sweep finding) — still resolves to the SAME row under task
    retry and any partitioning; without them row_number picks whichever
    duplicate the scan surfaced first."""
    payload = [
        c
        for c in feed.columns
        if c not in keys
        and c not in (seq_col, op_col)
        and not isinstance(feed.schema[c].dataType, MapType)
    ]
    w = W.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        # tie-break: destructive op wins (D > U > I lexicographically
        # inverted via explicit rank)
        F.when(F.col(op_col) == "D", 0).when(F.col(op_col) == "U", 1).otherwise(2),
        *[F.col(c).desc_nulls_last() for c in payload],
    )
    return (
        feed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc(
    current: DataFrame,
    feed: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    **merge_kwargs,
) -> DataFrame:
    """Apply a change-data-capture feed to a table (the Delta Live
    Tables ``APPLY CHANGES INTO`` semantics, built from this module's
    MERGE primitive):

    1. the feed — rows (keys..., seq, op in {'I','U','D'}, payload) —
       is reduced to the LATEST op per key by ``seq_col`` via one
       window (out-of-order and duplicate deliveries collapse here, so
       the apply is idempotent and replay-safe);
    2. keys whose final op is I/U upsert through :func:`merge`;
    3. keys whose final op is D anti-join out of the result.

    Shuffle accounting: one window shuffle on the feed (batch-sized),
    the MERGE full-outer join, and a broadcast-sized anti join — the
    table side never shuffles twice, and against a bucketed warehouse
    version the MERGE join is shuffle-free on the table side
    (sources/warehouse.py merge_scoped then bounds the rewrite to
    touched buckets).  Ordering contract: ``seq_col`` must be strictly
    monotone per key (a CDC log's LSN); ties would make latest-op
    selection nondeterministic, so they are broken by preferring 'D'
    then 'U' then 'I' — the destructive op wins, matching
    at-least-once delivery of a delete.
    """
    latest = _latest_per_key(feed, keys, seq_col, op_col)
    upserts = latest.where(F.col(op_col).isin("I", "U")).drop(seq_col, op_col)
    merged = merge(current, upserts, keys, dedupe_incoming=False, **merge_kwargs)
    deletes = latest.where(F.col(op_col) == "D").select(*keys)
    # no broadcast hint: delete sets are usually tiny (AQE converts to
    # broadcast at runtime) but a bulk-purge feed must not be forced
    # through the driver
    return merged.join(deletes, keys, "left_anti")


def cdc_bootstrap(
    df: DataFrame, seq_col: str = "seq", deleted_col: str = "__deleted"
) -> DataFrame:
    """Prepare a plain table for :func:`apply_cdc_soft`: stamp every
    existing row with sequence 0 and a live tombstone flag."""
    return df.withColumn(seq_col, F.lit(0).cast("long")).withColumn(
        deleted_col, F.lit(False)
    )


def cdc_view(
    table: DataFrame, seq_col: str = "seq", deleted_col: str = "__deleted"
) -> DataFrame:
    """The user-facing view of a soft-delete CDC table: live rows only,
    bookkeeping columns dropped."""
    return table.where(~F.col(deleted_col)).drop(seq_col, deleted_col)


def apply_cdc_soft(
    current: DataFrame,
    feed: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    deleted_col: str = "__deleted",
) -> DataFrame:
    """CDC apply that stays correct under out-of-order delivery ACROSS
    batches — the property :func:`apply_cdc` cannot give (a hard delete
    leaves nothing for a later-arriving stale update to compare
    against, so the stale row would resurrect).  Standard lakehouse
    remedy: tombstones.  Deletes become rows with ``deleted_col=true``,
    every row carries the sequence number that produced it, and a MERGE
    guard rejects any incoming op whose sequence is behind the row's —
    so batches may arrive in any order and replays are no-ops.  Ties
    resolve destructively (a delete at the same sequence as an update
    wins).  ``current`` must carry ``seq_col``/``deleted_col``
    (bootstrap with :func:`cdc_bootstrap`); read through
    :func:`cdc_view`.  Same shuffle shape as apply_cdc: one batch-sized
    window + the MERGE join.  Tombstone GC is a maintenance delete
    (delete_where on deleted rows older than the replay horizon).
    """
    latest = _latest_per_key(feed, keys, seq_col, op_col)
    inc = latest.withColumn(deleted_col, F.col(op_col) == "D").drop(op_col)
    # newer sequence always applies; equal sequence only if destructive
    guard = (F.col(f"inc.{seq_col}") > F.col(f"cur.{seq_col}")) | (
        (F.col(f"inc.{seq_col}") == F.col(f"cur.{seq_col}"))
        & F.col(f"inc.{deleted_col}")
    )
    compare = [c for c in inc.columns if c not in keys]
    return merge(
        current,
        inc,
        keys,
        compare_cols=compare,
        update_guards=guard,
        dedupe_incoming=False,
    )


def merge_sync(
    current: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    **merge_kwargs,
) -> DataFrame:
    """Full-snapshot synchronization: MERGE upsert semantics PLUS
    ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` — the load pattern for
    dimension snapshots where the incoming feed is authoritative and
    rows it no longer carries must disappear (the third MERGE clause
    Delta/SQL-2016 engines grew for exactly this; plain merge() keeps
    orphans forever and delete_where needs the caller to know WHAT
    vanished).

    One extra left-semi join on the (deduped) incoming keys after the
    upsert — same shuffle key as the merge itself, so the exchanges
    collapse; at 100 TB this composes with merge_scoped's bucket
    pruning unchanged."""
    merged = merge(current, incoming, keys, **merge_kwargs)
    return merged.join(incoming.select(*keys).distinct(), keys, "left_semi")


def frame_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Pure-DataFrame change classification between two table states:
    one row per changed key with ``change_type`` in {insert, update,
    delete} — the engine behind ``Warehouse.diff`` exposed for frames
    that never touched the warehouse (staging vs production, vendor
    re-deliveries).  Unlike the warehouse path (xxhash64 fingerprints,
    Spark-only), comparison here is null-safe column equality — the
    semantics an external system can reproduce, which is what the
    catalog oracle attests.  One full-outer join on the key; unchanged
    keys produce no row."""
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o, n = old.alias("o"), new.alias("n")
    on = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    j = o.join(n, on=on, how="full_outer")
    o_exists = F.col(f"o.{keys[0]}").isNotNull()
    n_exists = F.col(f"n.{keys[0]}").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(~o_exists, "insert")
        .when(~n_exists, "delete")
        .when(changed, "update")
    )
    out_keys = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    return (
        j.select(*out_keys, change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )

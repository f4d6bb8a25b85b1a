"""Versioned parquet warehouse — the vanilla-parquet stand-in for a
lakehouse table format (Delta/Iceberg jars are not in this image; on a
real cluster `merge()` maps onto MERGE INTO and this module disappears).

Each table lives at ``root/<name>/v=<n>/`` with a ``_LATEST`` pointer
written last, so readers never see a half-written version and MERGE
(read latest -> full-outer-join -> write next version -> repoint) is
atomic at the pointer swap. Old versions are retained (cheap time travel,
mirrors the reference's timestamped data-lake file versions,
tcdb/pipeline/bdeck.py:96-103).

Concurrency contract: **single writer per table**, now ENFORCED rather
than assumed: every write path commits through ``_commit``, which takes
a per-table advisory lock (``_LOCK`` created with O_EXCL — atomic on
POSIX and on the object-store semantics this maps to) and re-checks
under the lock that the version it read is still current
(compare-and-swap). A second writer fails fast with
``ConcurrentWriteError`` instead of silently clobbering ``v=n+1`` —
the same optimistic-commit shape a real lakehouse format runs; the
reference sidesteps it with one pipeline process per deck
(tcdb/pipeline/run.py). A crashed writer leaves a stale lock; ``force_
unlock`` (and the lock file's embedded pid/timestamp) is the operator
remedy, exactly like Delta's/Iceberg's stale-lock stories.

Incremental cost: ``write``/``write_bucketed`` rewrite the whole table per
version — O(table) bytes per batch, the 100 TB killer. ``merge_scoped``
fixes that for bucketed tables: only buckets containing touched keys are
re-merged and rewritten; untouched bucket files are hard-linked into the
new version (O(touched buckets) bytes + O(files) metadata), which is what
MERGE INTO does on a real lakehouse (rewrite matched files, keep the rest).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tcdb_spark.session import local_frame

# Spark bucketed file names carry the bucket id as the trailing _NNNNN
# group before the codec extensions: part-00000-<uuid>_00003.c000.snappy.parquet
_BUCKET_ID_RE = re.compile(r"_(\d+)(?:\.\w+)*$")


class ConcurrentWriteError(RuntimeError):
    """A second writer raced this table's commit (advisory lock held, or
    the version read before the write is no longer current)."""


def bucket_id_expr(bucket_cols: list[str], n_buckets: int):
    """The exact expression Spark uses to place a row in a bucket:
    ``pmod(murmur3_hash(cols), n)`` (HashPartitioning.partitionIdExpression).
    ``F.hash`` is the same Murmur3 with the same seed, so this computes the
    physical bucket id of any row without writing it — the basis for
    bucket-scoped MERGE (verified against written file names in
    tests/test_scale_ops.py)."""
    return F.pmod(F.hash(*[F.col(c) for c in bucket_cols]), F.lit(n_buckets))


def _has_changes(df: DataFrame) -> bool:
    """False only for a merge() frame, already written, that inserted and
    updated nothing (merge never deletes); any other frame counts as a
    change."""
    from tcdb_spark.operators.merge import merge_counts

    counts = merge_counts(df)
    return counts is None or counts["inserted"] + counts["updated"] > 0


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._dir(table), "_LATEST")

    def _lock_path(self, table: str) -> str:
        return os.path.join(self._dir(table), "_LOCK")

    @contextlib.contextmanager
    def _write_lock(self, table: str, expect_version: int | None = None):
        """Advisory per-table writer lock (O_EXCL create — atomic) plus
        an optional compare-and-swap: with ``expect_version``, the
        commit aborts if another writer advanced the table between the
        caller's read and this lock acquisition."""
        os.makedirs(self._dir(table), exist_ok=True)
        path = self._lock_path(table)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            with open(path) as f:
                holder = f.read().strip()
            raise ConcurrentWriteError(
                f"table {table} is locked by another writer ({holder}); if "
                f"that writer crashed, run force_unlock({table!r})"
            ) from None
        try:
            os.write(fd, f"pid={os.getpid()} ts={time.time():.3f}".encode())
            os.close(fd)
            if (
                expect_version is not None
                and (self.current_version(table) or 0) != expect_version
            ):
                raise ConcurrentWriteError(
                    f"table {table} moved to v={self.current_version(table)} "
                    f"(expected v={expect_version}) — re-read and retry"
                )
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)

    def force_unlock(self, table: str) -> bool:
        """Operator remedy for a crashed writer's stale lock."""
        try:
            os.remove(self._lock_path(table))
            return True
        except FileNotFoundError:
            return False

    # -- cross-table snapshot (multi-table atomic commit) ------------------
    #
    # The reference wraps forecast->track->step upserts in ONE MySQL
    # transaction per file (tcdb/etl/atcf_forecasts.py:51,136) and runs
    # cascade deletes in one ORM session.  Per-table version pointers
    # cannot reproduce that: a crash between the parent write and a child
    # write leaves orphans.  The fix is a single root-level
    # ``_SNAPSHOT.json`` mapping table -> version, swapped with ONE
    # os.replace: readers resolve versions through the snapshot first, so
    # a multi-table commit is visible all-or-nothing.  Per-table pointers
    # remain as a cache (and the resolution fallback for tables that
    # predate the first snapshot).  Every single-table commit path also
    # publishes through the snapshot, so the overlay can never go stale.

    def _snapshot_path(self) -> str:
        return os.path.join(self.root, "_SNAPSHOT.json")

    def _snaplock_path(self) -> str:
        return os.path.join(self.root, "_SNAPLOCK")

    @contextlib.contextmanager
    def _snapshot_lock(self, timeout: float = 10.0):
        """Short global lock serializing snapshot read-modify-write.
        Held only for the JSON swap (µs), never during data writes, so a
        bounded spin is enough."""
        deadline = time.time() + timeout
        path = self._snaplock_path()
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:
                    raise ConcurrentWriteError(
                        f"snapshot lock {path} held past {timeout}s; if the "
                        "holder crashed, delete the file"
                    ) from None
                time.sleep(0.01)
        try:
            os.write(fd, f"pid={os.getpid()}".encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)

    def _read_snapshot(self) -> dict | None:
        try:
            with open(self._snapshot_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _pointer_version(self, table: str) -> int | None:
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def _write_pointer(self, table: str, v: int) -> None:
        os.makedirs(self._dir(table), exist_ok=True)
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer(table))

    def _publish(self, versions: dict[str, int]) -> None:
        """Atomically publish new current versions for one or more
        tables: ONE os.replace of the snapshot makes every entry visible
        together, then the per-table pointer caches follow (crash in
        between is benign — readers prefer the snapshot)."""
        # Always commit under the snapshot lock (held only microseconds).
        # A lock-free pointer-only fast path races with a concurrent
        # transaction bootstrapping the first _SNAPSHOT.json: it could
        # read the pre-commit pointer and seed the snapshot with the
        # stale version, shadowing this commit (readers prefer the
        # snapshot) and letting the next write reuse its v= directory.
        with self._snapshot_lock():
            snap = self._read_snapshot()
            if snap is None and len(versions) == 1:
                # no snapshot yet and a single-table commit: the pointer
                # swap alone is atomic, and under the lock no concurrent
                # bootstrap can interleave — don't force the overlay
                # into being
                ((table, v),) = versions.items()
                self._write_pointer(table, v)
                return
            if snap is None:
                # bootstrap from every table's pointer so the first
                # snapshot is a complete, consistent picture
                snap = {
                    t: pv
                    for t in (
                        d
                        for d in sorted(os.listdir(self.root))
                        if os.path.isdir(os.path.join(self.root, d))
                    )
                    if (pv := self._pointer_version(t)) is not None
                }
            snap.update(versions)
            tmp = self._snapshot_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(snap, f)
            os.replace(tmp, self._snapshot_path())  # the commit point
        for table, v in versions.items():
            self._write_pointer(table, v)

    def transaction(self, tables: list[str]) -> "WarehouseTransaction":
        """Multi-table atomic commit: stage writes to any of ``tables``,
        then one snapshot swap publishes them all-or-nothing::

            with wh.transaction(["storms", "observations"]) as txn:
                txn.write("storms", s)
                txn.write("observations", o)

        Per-table writer locks are taken up front in sorted order (no
        deadlock between concurrent transactions); data files land under
        unpointed ``v=`` directories while staging, so a crash before the
        snapshot swap leaves every table at its old version."""
        return WarehouseTransaction(self, tables)

    def current_version(self, table: str) -> int | None:
        snap = self._read_snapshot()
        if snap is not None and table in snap:
            return snap[table]
        return self._pointer_version(table)

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def versions(self, table: str) -> list[int]:
        """Committed versions still on disk (time-travel targets)."""
        d = self._dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(p.split("=", 1)[1]) for p in os.listdir(d) if p.startswith("v=")
        )

    def is_bucketed(self, table: str) -> bool:
        v = self.current_version(table)
        return v is not None and os.path.exists(self._bucket_marker(table, v))

    def read(
        self,
        table: str,
        schema: T.StructType | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Latest version (or time-travel to ``version`` — old versions
        are retained until vacuumed, so any committed state stays
        queryable), or an empty frame with ``schema`` if absent.
        Bucketed versions are read through the session catalog — bucket
        metadata only exists there, and it is what lets joins/MERGEs on
        the bucket key skip their Exchange."""
        current = self.current_version(table)
        v = version if version is not None else current
        if v is None:
            if schema is None:
                raise FileNotFoundError(f"table {table} missing and no schema given")
            return local_frame(self.spark, [], schema)
        if current is None or v > current or v < 1:
            raise FileNotFoundError(
                f"table {table} has no version {v} (current: {current})"
            )
        if not os.path.isdir(os.path.join(self._dir(table), f"v={v}")):
            raise FileNotFoundError(
                f"table {table} version {v} was vacuumed "
                f"(retained: {self.versions(table)})"
            )
        if os.path.exists(self._bucket_marker(table, v)):
            return self.spark.table(self._ensure_registered(table, v))
        return self.spark.read.parquet(os.path.join(self._dir(table), f"v={v}"))

    def _ensure_registered(self, table: str, v: int) -> str:
        """The in-memory catalog dies with the session; the marker file
        carries the bucket spec + schema so any later session can
        re-register the external table and keep the shuffle-free plan."""
        name = self._catalog_name(table, v)
        path = os.path.join(self._dir(table), f"v={v}")
        if self.spark.catalog.tableExists(name):
            # the catalog name is root-agnostic — a registration left by a
            # Warehouse at a DIFFERENT root (tests, or two warehouses in
            # one session) would silently read the wrong location
            loc = (
                self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
                .where(F.col("col_name") == "Location")
                .collect()
            )
            if loc and loc[0]["data_type"].rstrip("/").endswith(path.rstrip("/")):
                return name
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        with open(self._bucket_marker(table, v)) as f:
            spec = json.load(f)
        schema = T.StructType.fromJson(spec["schema"])
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        sort = ", ".join(f"`{c}`" for c in spec["sort_cols"])
        cluster = ", ".join(f"`{c}`" for c in spec["bucket_cols"])
        path = os.path.join(self._dir(table), f"v={v}")
        self.spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({cluster}) SORTED BY ({sort}) "
            f"INTO {spec['n_buckets']} BUCKETS LOCATION '{path}'"
        )
        return name

    def _catalog_name(self, table: str, v: int) -> str:
        return f"wh_{table}__v{v}"

    def _bucket_marker(self, table: str, v: int) -> str:
        return os.path.join(self._dir(table), f"_BUCKETED_v{v}")

    def write_bucketed(
        self,
        table: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int = 16,
        sort_cols: list[str] | None = None,
        expect_version: int | None = None,
    ) -> int:
        """Write the next version hash-bucketed on ``bucket_cols`` —
        the 100 TB layout for observations/steps (bucket by storm_id):
        every MERGE and fact-fact join on the key reads co-located
        buckets and skips the table-side shuffle entirely.  Bucketing
        rides the catalog (``bucketBy`` requires ``saveAsTable``), so
        each version is an external catalog table over the same
        versioned path, and the pointer swap stays the commit (under
        the writer lock; ``expect_version`` makes it a CAS)."""
        with self._write_lock(table, expect_version):
            v = (self.current_version(table) or 0) + 1
            path = os.path.join(self._dir(table), f"v={v}")
            name = self._catalog_name(table, v)
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
            w = w.sortBy(*(sort_cols or bucket_cols))
            w.option("path", path).format("parquet").saveAsTable(name)
            spec = {
                "schema": df.schema.jsonValue(),
                "bucket_cols": bucket_cols,
                "sort_cols": sort_cols or bucket_cols,
                "n_buckets": n_buckets,
            }
            with open(self._bucket_marker(table, v), "w") as f:
                json.dump(spec, f)
            self._publish({table: v})
        return v

    def _bucket_spec(self, table: str, v: int) -> dict:
        with open(self._bucket_marker(table, v)) as f:
            return json.load(f)

    def _version_files(self, table: str, v: int) -> list[str]:
        path = os.path.join(self._dir(table), f"v={v}")
        return [
            n
            for n in sorted(os.listdir(path))
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        ]

    @staticmethod
    def _file_bucket_id(fname: str) -> int:
        m = _BUCKET_ID_RE.search(fname)
        if m is None:
            raise ValueError(f"not a bucketed data file: {fname}")
        return int(m.group(1))

    def merge_scoped(
        self,
        table: str,
        incoming: DataFrame,
        keys: list[str],
        **merge_kwargs,
    ) -> dict:
        """Bucket-scoped MERGE: upsert ``incoming`` into a bucketed table
        rewriting ONLY the buckets its keys hash into.

        The reference touches only drifted rows per batch
        (tcdb/etl/process_obs.py:70-91); a full-table rewrite per hourly
        batch is the vanilla-parquet anti-scale failure mode this removes.
        Procedure (all file moves are hard links — no data copy):

        1. bucket ids touched = distinct ``pmod(hash(bucket_cols), n)``
           over the incoming batch (≤ n_buckets ints, trivial collect);
        2. stage the touched buckets' files as their own bucketed catalog
           table (bucket ids live in file names, so a partial set of
           buckets is still a valid bucketed table — absent buckets read
           empty) and MERGE incoming into it: the table side stays
           co-located, zero Exchange;
        3. write the merged touched buckets bucketed into ``v=n+1``, then
           hard-link every untouched bucket file from ``v=n`` beside them;
        4. swap the pointer — unless the MERGE inserted and updated
           nothing: then ``v=n+1`` is removed and ``v=n`` stays current
           (as in :meth:`write`).

        Requires the table's bucket columns to be a subset of ``keys``
        (same-key rows must share a bucket or the scoped join misses
        matches). Runs under the per-table writer lock (ConcurrentWrite-
        Error on contention). Returns stats: {'version',
        'touched_buckets', 'rewritten_files', 'carried_files',
        'n_buckets', 'rows'} (rows: the resulting version's row count,
        read without scanning it).
        """
        with self._write_lock(table):
            return self._merge_scoped_locked(table, incoming, keys, **merge_kwargs)

    def _merge_scoped_locked(
        self,
        table: str,
        incoming: DataFrame,
        keys: list[str],
        **merge_kwargs,
    ) -> dict:
        import pyarrow.parquet as pq

        from tcdb_spark.operators.merge import merge as _merge
        from tcdb_spark.operators.merge import merge_counts

        v_old = self.current_version(table)
        if v_old is None or not os.path.exists(self._bucket_marker(table, v_old)):
            raise ValueError(
                f"merge_scoped requires an existing bucketed version of {table}; "
                "write one with write_bucketed first"
            )
        spec = self._bucket_spec(table, v_old)
        bucket_cols, n_buckets = spec["bucket_cols"], spec["n_buckets"]
        if not set(bucket_cols).issubset(keys):
            raise ValueError(
                f"bucket cols {bucket_cols} must be a subset of merge keys {keys}"
            )
        schema = T.StructType.fromJson(spec["schema"])

        touched = {
            r[0]
            for r in incoming.select(
                bucket_id_expr(bucket_cols, n_buckets).alias("b")
            ).distinct().collect()
        }
        old_path = os.path.join(self._dir(table), f"v={v_old}")
        old_files = self._version_files(table, v_old)
        touched_files = [f for f in old_files if self._file_bucket_id(f) in touched]
        carried_files = [f for f in old_files if self._file_bucket_id(f) not in touched]

        v_new = v_old + 1
        new_path = os.path.join(self._dir(table), f"v={v_new}")
        stage_path = os.path.join(self._dir(table), f"_stage_scope_v{v_new}")
        stage_name = f"wh_{table}__scope_v{v_new}"
        new_name = self._catalog_name(table, v_new)
        try:
            # stage the touched buckets as a bucketed external table so the
            # MERGE join reads them co-located (no table-side Exchange)
            if touched_files:
                shutil.rmtree(stage_path, ignore_errors=True)
                os.makedirs(stage_path)
                for f in touched_files:
                    os.link(os.path.join(old_path, f), os.path.join(stage_path, f))
                self.spark.sql(f"DROP TABLE IF EXISTS {stage_name}")
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
                )
                sort = ", ".join(f"`{c}`" for c in spec["sort_cols"])
                cluster = ", ".join(f"`{c}`" for c in bucket_cols)
                self.spark.sql(
                    f"CREATE TABLE {stage_name} ({cols}) USING parquet "
                    f"CLUSTERED BY ({cluster}) SORTED BY ({sort}) "
                    f"INTO {n_buckets} BUCKETS LOCATION '{stage_path}'"
                )
                current_touched = self.spark.table(stage_name)
            else:
                current_touched = local_frame(self.spark, [], schema)

            upsert = _merge(current_touched, incoming, keys, **merge_kwargs)
            # parquet resolves columns by name, but keep the table order so
            # every version shares one visible schema; with schema_evolution
            # the evolved columns are appended AFTER the existing order, and
            # carried files simply lack them (parquet schema-on-read fills
            # NULL — the same mechanics a lakehouse mergeSchema relies on)
            evolved = [c for c in upsert.columns if c not in {f.name for f in schema.fields}]
            order = [f.name for f in schema.fields] + evolved
            merged = upsert.select(*order)
            if evolved:
                spec = dict(spec)
                spec["schema"] = merged.schema.jsonValue()

            self.spark.sql(f"DROP TABLE IF EXISTS {new_name}")
            w = merged.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
            w = w.sortBy(*spec["sort_cols"])
            w.option("path", new_path).format("parquet").saveAsTable(new_name)
            changed = _has_changes(upsert)
            if changed:
                for f in carried_files:
                    os.link(os.path.join(old_path, f), os.path.join(new_path, f))
                # the saveAsTable cached its file listing before the links landed
                self.spark.catalog.refreshTable(new_name)
            else:
                # nothing inserted or updated: publish nothing (Warehouse.write)
                self.spark.sql(f"DROP TABLE IF EXISTS {new_name}")
                shutil.rmtree(new_path, ignore_errors=True)
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {stage_name}")
            shutil.rmtree(stage_path, ignore_errors=True)

        # rows of the resulting version: the merged buckets as the write
        # counted them, the carried files from their parquet footers
        carried_rows = sum(
            pq.ParquetFile(os.path.join(old_path, f)).metadata.num_rows for f in carried_files
        )
        if changed:
            with open(self._bucket_marker(table, v_new), "w") as f:
                json.dump(spec, f)
            self._publish({table: v_new})
        return {
            "version": v_new if changed else v_old,
            "touched_buckets": sorted(touched),
            "rewritten_files": len(touched_files) if changed else 0,
            "carried_files": len(carried_files) if changed else len(old_files),
            "n_buckets": n_buckets,
            "rows": merge_counts(upsert)["rows"] + carried_rows,
        }

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> dict:
        """Rewrite the current version into right-sized files as version
        n+1 (content-identical — only the file layout changes).

        Incremental ingest fragments a table: every ``merge_scoped`` adds
        a writer-task's worth of small files per touched bucket, and at
        hourly cadence a year of batches is ~10^4 files per bucket — scan
        wall-time becomes file-open overhead, the classic small-file
        problem. Compaction is the standard lakehouse answer (OPTIMIZE /
        rewrite_data_files); here:

        - bucketed tables: repartition on the bucket key into exactly
          ``n_buckets`` tasks (same murmur3 hash, so each task holds
          exactly one bucket) and rewrite — ONE file per bucket, bucket
          metadata preserved, MERGE stays shuffle-free;
        - plain tables: round-robin repartition to
          ``ceil(bytes / target_file_bytes)`` tasks.

        ``zorder_cols`` turns the rewrite into Delta's OPTIMIZE ZORDER
        BY for plain tables: rows are range-partitioned and sorted on
        the Morton key (sources/clustering.py) during the same rewrite,
        so multi-column box predicates skip row groups afterwards
        (re-collect file stats to also enable file-level skipping).
        Rejected for bucketed tables — their organizing principle is
        the bucket hash + sort spec, which z-ordering would fight.

        Old version stays readable until vacuumed. Single-writer contract
        applies. Returns {'version', 'files_before', 'files_after'}.
        """
        v_old = self.current_version(table)
        if v_old is None:
            raise FileNotFoundError(f"table {table} does not exist")
        old_path = os.path.join(self._dir(table), f"v={v_old}")
        files_before = sum(
            1
            for _, _, names in os.walk(old_path)
            for n in names
            if not n.startswith(("_", "."))
        )
        if os.path.exists(self._bucket_marker(table, v_old)):
            if zorder_cols:
                raise ValueError(
                    "zorder_cols applies to plain tables; bucketed tables "
                    "keep their bucket-hash clustering through compaction"
                )
            spec = self._bucket_spec(table, v_old)
            # read the files directly, NOT through the bucketed catalog
            # table: a bucketed scan reports HashPartitioning(cols, n), so
            # Catalyst elides the repartition as redundant while AQE's
            # auto-bucketed-scan may simultaneously drop the bucketed read
            # — the rows then land un-clustered and each writer task emits
            # a file per bucket. A plain scan (UnknownPartitioning) forces
            # the one real shuffle, giving exactly one file per bucket.
            schema = T.StructType.fromJson(spec["schema"])
            df = self.spark.read.schema(schema).parquet(old_path)
            packed = df.repartition(spec["n_buckets"], *[F.col(c) for c in spec["bucket_cols"]])
            v_new = self.write_bucketed(
                table,
                packed,
                spec["bucket_cols"],
                spec["n_buckets"],
                spec["sort_cols"],
                expect_version=v_old,  # CAS: compaction derived from v_old
            )
        else:
            df = self.read(table)
            total_bytes = sum(
                os.path.getsize(os.path.join(root, n))
                for root, _, names in os.walk(old_path)
                for n in names
                if not n.startswith(("_", "."))
            )
            n_files = max(1, -(-total_bytes // target_file_bytes))
            if zorder_cols:
                from tcdb_spark.sources.clustering import zorder_key

                keyed = df.withColumn(
                    "__zkey", zorder_key(df, zorder_cols, zorder_bits)
                )
                packed = (
                    keyed.repartitionByRange(n_files, F.col("__zkey"))
                    .sortWithinPartitions("__zkey")
                    .drop("__zkey")
                )
            else:
                packed = df.repartition(n_files)
            v_new = self.write(table, packed, expect_version=v_old)
        new_path = os.path.join(self._dir(table), f"v={v_new}")
        files_after = sum(
            1
            for _, _, names in os.walk(new_path)
            for n in names
            if not n.startswith(("_", "."))
        )
        return {"version": v_new, "files_before": files_before, "files_after": files_after}

    def vacuum(self, table: str, keep_last: int = 1) -> list[int]:
        """Delete all but the newest ``keep_last`` versions' directories
        (retention). The current version is always kept. Hard-linked
        files carried forward by ``merge_scoped`` stay alive through the
        newer versions' links — removing an old directory only drops its
        names, never bytes a retained version still references.
        Time-travel reads of a vacuumed version raise FileNotFoundError.
        A transaction's staged (not yet published) directory is the
        highest-numbered version, so it is always retained, and the
        current version is kept regardless — a concurrent vacuum can at
        worst shift the retention window by one, never break a commit.
        Returns the removed version numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self.current_version(table)
        if current is None:
            return []
        kept = set(sorted(self.versions(table))[-keep_last:]) | {current}
        removed = []
        for v in self.versions(table):
            if v in kept:
                continue
            shutil.rmtree(os.path.join(self._dir(table), f"v={v}"), ignore_errors=True)
            marker = self._bucket_marker(table, v)
            if os.path.exists(marker):
                os.remove(marker)
                self.spark.sql(f"DROP TABLE IF EXISTS {self._catalog_name(table, v)}")
            removed.append(v)
        return removed

    def clone(self, src_table: str, dst_table: str, version: int | None = None) -> int:
        """Shallow clone (the Delta ``CREATE TABLE ... SHALLOW CLONE``
        shape): publish ``dst_table`` v=1 whose data files are hard
        links into ``src_table``'s ``version`` (default: current) —
        O(files) metadata, zero bytes copied. The clone is immediately
        writable and fully independent: its MERGEs publish new versions
        under its own directory, never touching the source's files
        (hard-linked parquet is never modified in place — every write
        path here creates new files). Bucket spec and file stats carry
        over, so the clone keeps shuffle-free MERGE plans and skipping.
        The sandbox-experiment primitive: curate/repair on a clone,
        diff against the source, then either promote or drop it."""
        v_src = version if version is not None else self.current_version(src_table)
        if v_src is None:
            raise FileNotFoundError(f"table {src_table} does not exist")
        src = os.path.join(self._dir(src_table), f"v={v_src}")
        if not os.path.isdir(src):
            raise FileNotFoundError(
                f"table {src_table} version {v_src} was vacuumed "
                f"(retained: {self.versions(src_table)})"
            )
        if self.exists(dst_table):
            raise FileExistsError(f"table {dst_table} already exists")
        with self._write_lock(dst_table):
            dst = os.path.join(self._dir(dst_table), "v=1")
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(dst)
            for f in sorted(os.listdir(src)):
                if f.startswith(("_", ".")):
                    continue
                os.link(os.path.join(src, f), os.path.join(dst, f))
            src_marker = self._bucket_marker(src_table, v_src)
            if os.path.exists(src_marker):
                shutil.copyfile(src_marker, self._bucket_marker(dst_table, 1))
            stats = self._stats_path(src_table, v_src)
            if os.path.exists(stats):
                shutil.copyfile(stats, self._stats_path(dst_table, 1))
            self._publish({dst_table: 1})
        return 1

    def export_snapshot(
        self,
        table: str,
        path: str,
        version: int | None = None,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Open-format export bridge (VERDICT r6 #6): the warehouse
        layout (versioned ``v=N`` dirs + ``_LATEST`` pointers + bucket
        markers) is private to this repo, but a 100 TB user eventually
        needs their tables readable by OTHER engines.  Writes the
        requested snapshot as a self-contained plain-parquet directory
        at ``path`` — ``spark.read.parquet(path)``, DuckDB
        ``read_parquet``, Trino hive connector etc. all read it with no
        knowledge of the warehouse — plus two metadata artifacts:

        - ``_EXPORT_MANIFEST.json``: source table, version, schema
          (Spark JSON form), row count, and the exported file list —
          the export is auditable and re-importable
          (``import_snapshot``).
        - ``_symlink_format_manifest/manifest``: one absolute data-file
          path per line — the Hive/Presto/Trino symlink-manifest
          convention, so engines that consume file listings can mount
          the export without directory scans.

        The export is a hard-link copy when ``partition_by`` is None
        and source/destination share a filesystem (O(files) metadata,
        zero bytes moved — the ``clone`` trick pointed outward;
        warehouse files are never modified in place, so links are
        safe), falling back to a Spark rewrite otherwise.  Exported
        data is decoupled from the warehouse lifecycle: a later
        ``vacuum`` of the source version never breaks the export.
        A Delta-format writer would ride this same seam when
        ``delta-spark`` is present — see ``export_snapshot_delta``.
        """
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist")
        src = os.path.join(self._dir(table), f"v={v}")
        if not os.path.isdir(src):
            raise FileNotFoundError(
                f"table {table} version {v} was vacuumed "
                f"(retained: {self.versions(table)})"
            )
        if os.path.exists(path):
            raise FileExistsError(f"export destination {path} already exists")
        df = self.read(table, version=v)
        if partition_by:
            df.write.partitionBy(*partition_by).parquet(path)
        else:
            os.makedirs(path)
            try:
                for f in sorted(os.listdir(src)):
                    if f.startswith(("_", ".")):
                        continue
                    os.link(os.path.join(src, f), os.path.join(path, f))
            except OSError:  # cross-device: rewrite through Spark
                shutil.rmtree(path)
                df.write.parquet(path)
        exported = self.spark.read.parquet(path)
        data_files = []
        for root_, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    data_files.append(os.path.join(root_, f))
        data_files.sort()
        manifest = {
            "format": "parquet",
            "source_table": table,
            "source_version": v,
            "exported_at_unix": time.time(),
            "row_count": exported.count(),
            "n_files": len(data_files),
            "partition_by": partition_by or [],
            "schema": df.schema.jsonValue(),
            "files": [os.path.relpath(f, path) for f in data_files],
        }
        sym_dir = os.path.join(path, "_symlink_format_manifest")
        os.makedirs(sym_dir, exist_ok=True)
        with open(os.path.join(sym_dir, "manifest"), "w") as f:
            f.write("\n".join(data_files) + "\n")
        with open(os.path.join(path, "_EXPORT_MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        return manifest

    def export_snapshot_delta(self, table: str, path: str, version: int | None = None):
        """Delta-format export — capability-gated on ``delta-spark``,
        which is not in this image; the parquet bridge above is the
        always-available path."""
        try:
            import delta  # noqa: F401
        except ImportError as exc:
            raise RuntimeError(
                "delta-spark is not installed in this environment; "
                "`pip install delta-spark` (matching the Spark version) "
                "and configure spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension — or use "
                "export_snapshot() for the plain-parquet bridge"
            ) from exc
        df = self.read(table, version=version)
        df.write.format("delta").save(path)

    def import_snapshot(self, path: str, table: str) -> int:
        """Re-import a prior ``export_snapshot`` directory as v=1 of a
        new table — the round-trip counterpart (manifest schema is
        authoritative, so an export survives engines that rewrite
        parquet footers)."""
        mpath = os.path.join(path, "_EXPORT_MANIFEST.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(f"{path} has no _EXPORT_MANIFEST.json")
        with open(mpath) as f:
            manifest = json.load(f)
        schema = T.StructType.fromJson(manifest["schema"])
        df = self.spark.read.schema(schema).parquet(path)
        self.write(table, df)
        return self.current_version(table)

    def restore(self, table: str, version: int) -> int:
        """Roll the table back to a committed ``version`` by publishing
        it as the NEXT version (the Delta ``RESTORE TABLE ... TO
        VERSION`` shape): history stays linear and append-only, the
        rollback itself is auditable, and the cost is metadata-only —
        every data file of the target version is hard-linked into the
        new directory, zero bytes rewritten. Bucket spec (and hence the
        shuffle-free MERGE/join plans) carries over verbatim. Raises
        FileNotFoundError if the target was vacuumed."""
        with self._write_lock(table):
            current = self.current_version(table)
            if current is None:
                raise FileNotFoundError(f"table {table} does not exist")
            if version < 1 or version > current:
                raise FileNotFoundError(
                    f"table {table} has no version {version} (current: {current})"
                )
            src = os.path.join(self._dir(table), f"v={version}")
            if not os.path.isdir(src):
                raise FileNotFoundError(
                    f"table {table} version {version} was vacuumed "
                    f"(retained: {self.versions(table)})"
                )
            v_new = current + 1
            dst = os.path.join(self._dir(table), f"v={v_new}")
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(dst)
            for f in sorted(os.listdir(src)):
                if f.startswith(("_", ".")):
                    continue
                os.link(os.path.join(src, f), os.path.join(dst, f))
            src_marker = self._bucket_marker(table, version)
            if os.path.exists(src_marker):
                shutil.copyfile(src_marker, self._bucket_marker(table, v_new))
            stats = self._stats_path(table, version)
            if os.path.exists(stats):
                shutil.copyfile(stats, self._stats_path(table, v_new))
            self._publish({table: v_new})
        return v_new

    def diff(
        self,
        table: str,
        v_old: int,
        v_new: int,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions: one row per
        changed key with ``change_type`` in {insert, update, delete} —
        the primitive downstream incremental consumers poll instead of
        re-reading the table.

        ``keys`` defaults to the bucket columns of the newer version.
        Row identity is the key tuple (keys must be non-null, the same
        contract MERGE enforces); change detection hashes every
        non-key column with xxhash64 (null-safe, Spark-side only — no
        cross-engine hash equality is ever assumed).

        Scale shape: when both versions are bucketed on ``keys`` the
        full-outer join reads two co-partitioned catalog tables and
        needs NO Exchange (pinned in tests) — the diff costs two scans
        + a merge, not a terabyte shuffle. Versions are immutable, so
        the diff is reproducible until one side is vacuumed.
        """
        if keys is None:
            if not os.path.exists(self._bucket_marker(table, v_new)):
                raise ValueError(
                    f"diff({table}) needs explicit keys for non-bucketed versions"
                )
            with open(self._bucket_marker(table, v_new)) as f:
                keys = json.load(f)["bucket_cols"]
        old = self.read(table, version=v_old)
        new = self.read(table, version=v_new)
        val_cols = [c for c in new.columns if c not in keys]
        o = old.select(*keys, F.xxhash64(*val_cols).alias("__fp_old"))
        n = new.select(*keys, F.xxhash64(*val_cols).alias("__fp_new"))
        j = o.join(n, on=list(keys), how="full_outer")
        change = (
            F.when(F.col("__fp_old").isNull(), "insert")
            .when(F.col("__fp_new").isNull(), "delete")
            .when(F.col("__fp_old") != F.col("__fp_new"), "update")
        )
        return (
            j.withColumn("change_type", change)
            .where(F.col("change_type").isNotNull())
            .select(*keys, "change_type")
        )

    # -- file-level data skipping (Delta/Iceberg stats-in-log analog) ------

    def _stats_path(self, table: str, v: int) -> str:
        return os.path.join(self._dir(table), f"_STATS_v{v}.json")

    @staticmethod
    def _stats_jsonable(v):
        # min/max land in JSON; timestamps/dates as ISO strings (they
        # compare correctly as strings — ISO-8601 orders lexicographically)
        return v.isoformat() if hasattr(v, "isoformat") else v

    def collect_stats(
        self, table: str, cols: list[str], version: int | None = None
    ) -> dict:
        """Per-FILE min/max/null-count statistics for ``cols``, persisted
        beside the version as ``_STATS_v<n>.json`` — the vanilla-parquet
        analog of the stats a lakehouse format keeps in its transaction
        log. One scan computes everything: group by the hidden
        ``_metadata.file_path`` column, aggregate min/max per file.

        Parquet footers already carry row-group min/max, but a reader
        still has to OPEN every footer to use them; driver-side file
        stats prune the file LIST before anything is opened — at 10^5
        files per table that is the difference between a metadata lookup
        and 10^5 S3 GETs. Stats pay off in proportion to layout quality:
        collect them on the sort/Z-order columns (sources/clustering.py).
        """
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist")
        path = os.path.join(self._dir(table), f"v={v}")
        df = self.spark.read.parquet(path)
        aggs = []
        for c in cols:
            aggs += [
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            ]
        rows = (
            df.select(F.col("_metadata.file_path").alias("__f"), *cols)
            .groupBy("__f")
            .agg(*aggs)
            .collect()
        )
        stats = {
            "cols": cols,
            "files": {
                os.path.basename(r["__f"]): {
                    c: [
                        self._stats_jsonable(r[f"mn_{c}"]),
                        self._stats_jsonable(r[f"mx_{c}"]),
                        r[f"nulls_{c}"],
                    ]
                    for c in cols
                }
                for r in rows
            },
        }
        with open(self._stats_path(table, v), "w") as f:
            json.dump(stats, f)
        return stats

    def read_skipping(
        self,
        table: str,
        filters: dict[str, tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Read with driver-side file skipping: conjunctive inclusive
        range predicates ``{col: (lo, hi)}`` (either bound None = open)
        prune the file list against the persisted per-file stats BEFORE
        the scan plans; the residual filter still applies row-level (so
        the result is exact regardless of stats quality — stats only
        ever skip provably-disjoint files, a file with missing stats is
        always read). Returns (df, {'files_read', 'files_total'}).
        """
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist")
        sp = self._stats_path(table, v)
        if not os.path.exists(sp):
            raise FileNotFoundError(
                f"no stats for {table} v={v}; run collect_stats first"
            )
        with open(sp) as f:
            stats = json.load(f)
        path = os.path.join(self._dir(table), f"v={v}")
        # recursive walk so partition_by layouts (one directory per
        # partition value) prune too; stats keys are part-file basenames,
        # which Spark makes unique via the task UUID
        all_files = sorted(
            os.path.join(root, n)
            for root, _dirs, files in os.walk(path)
            for n in files
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        )
        keep = []
        for fname in all_files:
            fstats = stats["files"].get(os.path.basename(fname))
            hit = True
            if fstats is not None:
                for col, (lo, hi) in filters.items():
                    if col not in fstats:
                        continue
                    mn, mx, _nulls = fstats[col]
                    if mn is None or mx is None:
                        continue
                    lo_c = self._stats_jsonable(lo) if lo is not None else None
                    hi_c = self._stats_jsonable(hi) if hi is not None else None
                    if (hi_c is not None and mn > hi_c) or (
                        lo_c is not None and mx < lo_c
                    ):
                        hit = False
                        break
            if hit:
                keep.append(fname)
        if keep:
            # basePath keeps partition discovery alive when reading leaf
            # files, so partition_by columns stay in the schema (identical
            # to read() and to the keep=[] fallback below)
            df = self.spark.read.option("basePath", path).parquet(*keep)
        else:
            df = self.spark.read.parquet(path).limit(0)
        for col, (lo, hi) in filters.items():
            if lo is not None:
                df = df.where(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(col) <= F.lit(hi))
        return df, {"files_read": len(keep), "files_total": len(all_files)}

    def write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expect_version: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Write the next version and repoint. The full write lands before
        the pointer moves — crash mid-write leaves the old version live.
        Holds the writer lock for the duration; pass ``expect_version``
        (the version the caller's plan was derived from) to make the
        commit a compare-and-swap. ``stats_cols`` auto-collects per-file
        min/max stats on those columns BEFORE the pointer moves, so every
        published version is immediately servable by ``read_skipping``
        (the lakehouse stats-at-commit convention).

        A :func:`~tcdb_spark.operators.merge.merge` frame that inserted
        and updated nothing over an existing table publishes nothing: the
        written files are removed and the current version is returned."""
        with self._write_lock(table, expect_version):
            base = self.current_version(table)
            v = (base or 0) + 1
            path = os.path.join(self._dir(table), f"v={v}")
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            if base is not None and not _has_changes(df):
                shutil.rmtree(path, ignore_errors=True)
                return base
            if stats_cols:
                self.collect_stats(table, stats_cols, version=v)
            self._publish({table: v})
        return v


class WarehouseTransaction:
    """Multi-table atomic commit (Warehouse.transaction): the Spark
    answer to the reference's one-session-per-file MySQL transaction
    (tcdb/etl/atcf_forecasts.py:51,136; ORM cascade session
    tcdb/models/storms.py:30-31).

    Lifecycle: ``__enter__`` takes every named table's writer lock in
    sorted order (two transactions over overlapping table sets cannot
    deadlock); ``write`` stages data under the next ``v=`` directory of
    each table WITHOUT moving anything a reader resolves; ``__exit__``
    publishes all staged versions with ONE snapshot swap — readers see
    every table move together or none.  A table whose staged writes
    were all MERGEs that changed nothing keeps its version: its staged
    directories are removed at ``__exit__``, not at the write, since a
    later write in the same transaction may read them.  On error (or a
    crash), staged directories are orphans below unpointed versions:
    invisible to readers, removed by the explicit rollback path when the
    process survives, reclaimed by the next write's overwrite otherwise.
    """

    def __init__(self, wh: Warehouse, tables: list[str]):
        self._wh = wh
        self._tables = sorted(set(tables))
        self._stack: contextlib.ExitStack | None = None
        self._staged: dict[str, int] = {}
        self._base: dict[str, int | None] = {}
        self._changed: set[str] = set()

    def __enter__(self) -> "WarehouseTransaction":
        self._stack = contextlib.ExitStack()
        try:
            for t in self._tables:
                self._stack.enter_context(self._wh._write_lock(t))
        except BaseException:
            self._stack.close()
            raise
        return self

    def write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Stage the next version of ``table`` (must be in the
        transaction's table set). Data and stats land now; visibility
        waits for commit."""
        if table not in self._tables:
            raise ValueError(
                f"table {table!r} is not part of this transaction "
                f"(declared: {self._tables})"
            )
        if table not in self._base:
            self._base[table] = self._wh.current_version(table)
        v = self._staged.get(table, self._base[table] or 0) + 1
        path = os.path.join(self._wh._dir(table), f"v={v}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        if self._base[table] is None or _has_changes(df):
            self._changed.add(table)
        if stats_cols:
            self._wh.collect_stats(table, stats_cols, version=v)
        self._staged[table] = v
        return v

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """Read-your-own-writes: a table staged in this transaction reads
        at its staged (not yet published) version; anything else reads
        the committed state."""
        v = self._staged.get(table)
        if v is None:
            return self._wh.read(table, schema)
        return self._wh.spark.read.parquet(
            os.path.join(self._wh._dir(table), f"v={v}")
        )

    def __exit__(self, exc_type, exc, tb) -> bool:
        try:
            publish = {t: v for t, v in self._staged.items() if t in self._changed}
            if exc_type is None and publish:
                self._wh._publish(publish)  # the commit point
            # rollback (on error) and no-op tables: staged version dirs
            # were never visible; remove them so versions() and vacuum
            # never meet half a txn
            for table, v in self._staged.items():
                if exc_type is None and table in publish:
                    continue
                for sv in range((self._base[table] or 0) + 1, v + 1):
                    shutil.rmtree(
                        os.path.join(self._wh._dir(table), f"v={sv}"),
                        ignore_errors=True,
                    )
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(self._wh._stats_path(table, sv))
        finally:
            if self._stack is not None:
                self._stack.close()
        return False

"""SparkSession factory.

Local mode is a single JVM with N executor threads; the same configs are
what we would set on a 1000-executor cluster, with ``shuffle.partitions``
scaled to ~2-3x total cores and AQE left on to coalesce/re-plan at runtime.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterable, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "tcdb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Must run BEFORE the JVM launches: transformWithStateInPandas'
    # state-server client imports google.protobuf WORKER-side, and
    # local-mode workers inherit the JVM process environment — so the
    # vendored shim's dir has to be in PYTHONPATH at JVM-spawn time.
    # No-op when the real protobuf package is installed.
    from tcdb_spark.streaming.proto_compat import ensure_protobuf

    ensure_protobuf()

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A scan bucketed on a PREFIX of the join keys (observations
        # bucketed by storm_id, MERGE on storm_id+datetime_utc) counts
        # as co-partitioned — the other side shuffles on the subset and
        # the 100 TB table side never does.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # tz-naive parquet timestamps read as TimestampType (UTC wall
        # clock), not TIMESTAMP_NTZ — NTZ refuses epoch casts and broke
        # six queries when a data drop changed physical type (DEVNOTES
        # #24). load_tables also normalizes; this covers direct reads
        # and streaming file sources.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def persisted(df: DataFrame):
    """Persist ``df`` for the with-block and release it on the way out,
    error or not, so a job's cached frames never outlive the job. A frame
    whose plan is already cached (by the caller) is used as is and stays
    cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation``: ``rows``
    (tuples or ``Row``s, positional) and a DDL string or ``StructType``
    go to Spark as one Arrow table, so no Python RDD is built and no
    Python worker scans it, and the optimizer can size, fold and prune
    it. A list passed straight to ``createDataFrame`` is instead a
    Python-RDD scan of ``defaultParallelism`` tasks on every evaluation
    (DEVNOTES #59). Naive datetimes land as session-time-zone wall
    clock; a value Arrow cannot convert to its column's type raises, as
    does a NULL in a non-nullable column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    rows = [tuple(r) for r in rows]
    width = len(arrow)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row needs {width} values for schema {schema.simpleString()}")
    cols = list(zip(*rows)) if rows else [()] * width
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow)]
    for a, f in zip(arrays, arrow):
        if not f.nullable and a.null_count:
            raise ValueError(f"column {f.name} is not nullable but holds NULL")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Resolve a scratch directory for iterative round state
    (bt_ratings_distributed, connected_components, ...): a path BOTH the
    driver and every executor can read and write.

    Resolution order:

    1. ``tcdb.scratch.dir`` session conf — a shared-filesystem root
       (S3/HDFS/NFS, e.g. a scratch area beside the warehouse).  Each
       call gets a unique subdirectory so concurrent jobs never collide.
    2. In local mode only, a driver-local tempfile directory — correct
       there because driver and executors share one disk.

    Outside local mode with no configured scratch root this RAISES
    instead of silently handing out a driver-local path: executors on a
    real cluster would write round state to a directory that exists
    only on their own disks, and the next round's read would see
    missing/partial data.  (ADVICE r5: the catalog entry points never
    passed work_dir, so only the Engine facade was cluster-correct.)

    Retention: see ``remove_scratch`` — iterative callers delete dead
    intermediate round dirs as they go; the final round dir backs the
    returned DataFrame and is the caller's to delete after
    materializing the result.
    """
    import uuid

    root = spark.conf.get("tcdb.scratch.dir", None)
    if root:
        return f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise ValueError(
            "iterative round state needs a shared-filesystem scratch dir on "
            f"a real cluster (master={master!r}): set the 'tcdb.scratch.dir' "
            "session conf to an S3/HDFS/NFS path, or pass work_dir= explicitly"
        )
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


def remove_scratch(spark: SparkSession, path: str) -> bool:
    """Best-effort recursive delete of a scratch path through the Hadoop
    FileSystem API — works for any scheme the cluster can write
    (file://, hdfs://, s3a://...), unlike shutil.  Returns False instead
    of raising: scratch cleanup must never fail the job that produced
    the result.

    Retention contract for iterative round state (ADVICE r6): callers
    delete INTERMEDIATE round directories as soon as the next round
    lands, but the FINAL round's files back the returned DataFrame
    lazily and must outlive every scan of it — so the final directory
    is the caller's to remove once the result is materialized
    elsewhere.  Local-mode tempdirs live under the OS tmp reaper;
    cluster deployments should additionally put a lifecycle/TTL policy
    on the ``tcdb.scratch.dir`` prefix as a backstop."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        return bool(fs.delete(hpath, True))
    except Exception:  # noqa: BLE001 — cleanup is advisory by contract
        return False

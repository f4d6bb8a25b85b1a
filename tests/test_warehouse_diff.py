"""Warehouse.diff: change-data-feed between immutable versions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tcdb_spark.sources.warehouse import Warehouse


def _wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)],
        "storm_id bigint, wind double",
    )
    v2 = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (4, 40.0), (5, 50.0)],
        "storm_id bigint, wind double",
    )
    wh.write_bucketed("obs", v1, ["storm_id"], n_buckets=4)
    wh.write_bucketed("obs", v2, ["storm_id"], n_buckets=4)
    return wh


def test_diff_classifies_changes(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    got = {r["storm_id"]: r["change_type"] for r in wh.diff("obs", 1, 2).collect()}
    # 1 unchanged (absent), 2 updated, 3 deleted, 4 null->value update,
    # 5 inserted.
    assert got == {2: "update", 3: "delete", 4: "update", 5: "insert"}


def test_diff_defaults_keys_from_bucket_spec(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    assert wh.diff("obs", 1, 2).columns == ["storm_id", "change_type"]


def test_diff_bucketed_versions_join_without_exchange(spark, tmp_path):
    """Both sides are catalog tables bucketed on the diff keys: the
    full-outer join must be co-partitioned — no Exchange, so the diff
    never shuffles table bytes."""
    wh = _wh(spark, tmp_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = wh.diff("obs", 1, 2)
        d.collect()
        plan = d._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_diff_requires_keys_for_unbucketed(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    wh.write("t", df)
    wh.write("t", df)
    with pytest.raises(ValueError, match="explicit keys"):
        wh.diff("t", 1, 2)
    # explicit keys on plain versions still work
    assert wh.diff("t", 1, 2, keys=["k"]).count() == 0


def test_diff_identity_is_empty(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    assert wh.diff("obs", 2, 2).count() == 0


def test_writer_lock_blocks_and_force_unlock(spark, tmp_path):
    from tcdb_spark.sources.warehouse import ConcurrentWriteError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "whl"))
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    wh.write("t", df)
    # a crashed writer's stale lock blocks the next commit with an
    # actionable error naming the holder
    with open(wh._lock_path("t"), "w") as f:
        f.write("pid=99999 ts=0")
    with pytest.raises(ConcurrentWriteError, match="pid=99999"):
        wh.write("t", df)
    assert wh.current_version("t") == 1
    assert wh.force_unlock("t")
    assert wh.write("t", df) == 2
    # lock released after a successful commit
    assert not os.path.exists(wh._lock_path("t"))


def test_write_cas_rejects_stale_version(spark, tmp_path):
    from tcdb_spark.sources.warehouse import ConcurrentWriteError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "whc"))
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    wh.write("t", df)
    wh.write("t", df)  # another writer advanced the table to v2
    with pytest.raises(ConcurrentWriteError, match="expected v=1"):
        wh.write("t", df, expect_version=1)
    assert wh.current_version("t") == 2
    # and the failed CAS must not leave the lock behind
    assert wh.write("t", df, expect_version=2) == 3


def test_merge_scoped_holds_lock(spark, tmp_path):
    from tcdb_spark.sources.warehouse import ConcurrentWriteError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "whm"))
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "storm_id bigint, wind double"
    )
    wh.write_bucketed("obs2", df, ["storm_id"], n_buckets=4)
    with open(wh._lock_path("obs2"), "w") as f:
        f.write("pid=1 ts=0")
    with pytest.raises(ConcurrentWriteError):
        wh.merge_scoped("obs2", df, keys=["storm_id"], dedupe_incoming=False)
    wh.force_unlock("obs2")
    changed = spark.createDataFrame([(1, 5.0)], "storm_id bigint, wind double")
    stats = wh.merge_scoped("obs2", changed, keys=["storm_id"], dedupe_incoming=False)
    assert stats["version"] == 2


def test_crashed_writer_recovery_flow(spark, tmp_path):
    """A writer that died mid-commit leaves a stale _LOCK and possibly
    an orphan (unpointed) version directory. Readers keep serving the
    committed version; after force_unlock the next commit reuses the
    orphan's version number (mode=overwrite clobbers the partial dir)
    and the table is consistent."""
    from tcdb_spark.sources.warehouse import ConcurrentWriteError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "whr"))
    df1 = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    df2 = spark.createDataFrame([(2, 2.0)], "k bigint, v double")
    wh.write("t", df1)

    # simulate the crash: partial v=2 on disk, pointer untouched, lock held
    orphan = tmp_path / "whr" / "t" / "v=2"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"torn write")
    with open(wh._lock_path("t"), "w") as f:
        f.write("pid=424242 ts=0")

    # readers are unaffected; writers fail fast with the remedy named
    assert [r.k for r in wh.read("t").collect()] == [1]
    with pytest.raises(ConcurrentWriteError, match="force_unlock"):
        wh.write("t", df2)

    wh.force_unlock("t")
    assert wh.write("t", df2) == 2  # orphan dir clobbered, not skipped
    assert [r.k for r in wh.read("t").collect()] == [2]
    assert wh.current_version("t") == 2


def test_restore_publishes_old_version_as_new(spark, tmp_path):
    """RESTORE rolls back by publishing the target as version n+1:
    content equals the target, history stays linear, bucket spec (and
    the shuffle-free read path) carries over, and no bytes are copied
    (hard links share inodes with the restored version's files)."""
    wh = _wh(spark, tmp_path)
    v_new = wh.restore("obs", 1)
    assert v_new == 3
    assert wh.current_version("obs") == 3
    got = sorted((r.storm_id, r.wind) for r in wh.read("obs").collect())
    want = sorted((r.storm_id, r.wind) for r in wh.read("obs", version=1).collect())
    assert got == want
    assert wh.is_bucketed("obs")
    d1 = os.path.join(wh.root, "obs", "v=1")
    d3 = os.path.join(wh.root, "obs", "v=3")
    inodes1 = {f: os.stat(os.path.join(d1, f)).st_ino
               for f in os.listdir(d1) if f.endswith(".parquet")}
    for f, ino in inodes1.items():
        assert os.stat(os.path.join(d3, f)).st_ino == ino


def test_restore_vacuumed_version_raises(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.vacuum("obs", keep_last=1)
    with pytest.raises(FileNotFoundError):
        wh.restore("obs", 1)


def test_restore_bad_version_raises(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        wh.restore("obs", 9)


def test_two_roots_same_table_name_do_not_collide(spark, tmp_path):
    """The catalog name wh_<table>__v<n> is root-agnostic; a stale
    registration from another Warehouse root must not shadow this one
    (regression: restore() published a version without re-registering,
    reading another root's bytes)."""
    a = Warehouse(spark, str(tmp_path / "ra"))
    b = Warehouse(spark, str(tmp_path / "rb"))
    df_a = spark.createDataFrame([(1, 1.0)], "storm_id bigint, wind double")
    df_b = spark.createDataFrame([(2, 2.0)], "storm_id bigint, wind double")
    a.write_bucketed("obs", df_a, ["storm_id"], n_buckets=2)
    assert a.read("obs").collect()[0].storm_id == 1  # registers wh_obs__v1 at root A
    b.write_bucketed("obs", df_b, ["storm_id"], n_buckets=2)
    assert b.read("obs").collect()[0].storm_id == 2
    # root A's registration was replaced; reading A again must re-register
    assert a.read("obs").collect()[0].storm_id == 1


def test_shallow_clone_independent_and_zero_copy(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from tcdb_spark.operators.merge import merge
    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "whc"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    wh.write("base", df)

    assert wh.clone("base", "sandbox") == 1
    # zero-copy: same inodes
    b = {f: os.stat(os.path.join(tmp_path, "whc", "base", "v=1", f)).st_ino
         for f in os.listdir(tmp_path / "whc" / "base" / "v=1")
         if not f.startswith(("_", "."))}
    c = {f: os.stat(os.path.join(tmp_path, "whc", "sandbox", "v=1", f)).st_ino
         for f in os.listdir(tmp_path / "whc" / "sandbox" / "v=1")
         if not f.startswith(("_", "."))}
    assert b == c and len(b) > 0

    # writes to the clone do not leak into the source
    inc = spark.createDataFrame([(1, 999), (500, 1)], ["k", "v"])
    wh.write("sandbox", merge(wh.read("sandbox"), inc, ["k"]))
    assert wh.read("sandbox").count() == 101
    assert wh.read("base").count() == 100
    assert wh.read("base").where(F.col("v") == 999).count() == 0

    # cloning onto an existing name refuses
    try:
        wh.clone("base", "sandbox")
        raise AssertionError("expected FileExistsError")
    except FileExistsError:
        pass

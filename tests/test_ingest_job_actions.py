"""What the ingest jobs cost and leave behind: the b-deck text is scanned
once per job, the returned counts are the tables' sizes and come from the
writes themselves (no Spark job after the last commit), and every frame a
job persists is released when it returns or fails."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tcdb_spark.api import Engine
from tcdb_spark.jobs.adeck import run_adeck_job
from tcdb_spark.jobs.bdeck import run_bdeck_job
from tcdb_spark.jobs.syntracks import run_syntrack_job
from tcdb_spark.plans.queries_atcf import BDECK_LINES
from tcdb_spark.session import local_frame
from tcdb_spark.sources.atcf import parse_adeck_lines, read_bdeck
from tcdb_spark.sources.mat_ensemble import (
    fake_ensemble_df,
    read_mat_ensemble_distributed,
    write_fake_mat,
)
from tcdb_spark.sources.warehouse import ConcurrentWriteError, Warehouse

NOW = "2022-09-26 12:00:00"
INIT = dt.datetime(2022, 9, 1)
ADECK_LINES = [
    "AL, 09, 2022092600, 01, OFCL, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, x",
    "AL, 09, 2022092600, 01, OFCL, 12, 258N, 748W, 45, 998, TS, 34, NEQ, 70, 50, 40, 60, x",
    "AL, 09, 2022092600, 02, AVNO, 0, 252N, 741W, 33, 1004, , , , , , , , x",
]


def _now():
    return F.lit(NOW).cast("timestamp")


@pytest.fixture()
def deck_dir(tmp_path):
    d = tmp_path / "b"
    d.mkdir()
    (d / "deck.dat").write_text("\n".join(BDECK_LINES) + "\n")
    return str(d)


def _adeck(spark):
    return parse_adeck_lines(spark.createDataFrame([(l,) for l in ADECK_LINES], "value string"))


def _ensemble(spark):
    ensemble = fake_ensemble_df(spark, n_ens=4, n_steps=3, init=INIT)
    invests = spark.createDataFrame(
        [("ECMWF", INIT, 1, "INVEST-95L", 10.2, -40.2, INIT)],
        "model string, init timestamp, annual_id int, name string, lat double, "
        "lon double, valid timestamp",
    )
    return ensemble, invests


def _counting(spark, df, col="BASIN"):
    """``df`` behind a filter that counts every row it passes."""
    seen = spark.sparkContext.accumulator(0)

    def tick(_):
        seen.add(1)
        return True

    return df.where(F.udf(tick, "boolean").asNondeterministic()(F.col(col))), seen


def test_bdeck_job_scans_the_deck_text_once(spark, tmp_path, deck_dir):
    n_lines = read_bdeck(spark, deck_dir).count()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    parsed, seen = _counting(spark, read_bdeck(spark, deck_dir))
    run_bdeck_job(spark, parsed, wh, "B__1", now=_now())
    assert seen.value == n_lines

    # the replay resolves against a non-empty catalog: still one scan
    parsed, seen = _counting(spark, read_bdeck(spark, deck_dir))
    run_bdeck_job(spark, parsed, wh, "B__2", now=_now())
    assert seen.value == n_lines


class _Jobs:
    """Spark job ids run under one job group, as the status tracker
    lists them once the listener bus has caught up."""

    def __init__(self, spark, group):
        self.sc = spark.sparkContext
        self.group = group

    def ids(self) -> set[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _table_sizes(wh, tables):
    return {t: wh.read(t).count() for t in tables}


def test_jobs_count_during_the_write_and_run_nothing_after_commit(
    spark, tmp_path, deck_dir, monkeypatch
):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs = _Jobs(spark, "ingest-commit-test")
    at_commit: list[set[int]] = []
    publish = Warehouse._publish

    def spy(self, versions):
        publish(self, versions)
        at_commit.append(jobs.ids())

    monkeypatch.setattr(Warehouse, "_publish", spy)
    ensemble, invests = _ensemble(spark)
    runs = [
        (lambda: run_bdeck_job(spark, read_bdeck(spark, deck_dir), wh, "B__1", now=_now()),
         ["storms", "observations"]),
        (lambda: run_adeck_job(spark, _adeck(spark), wh, "A__1"), ["forecasts", "tracks", "steps"]),
        (lambda: run_syntrack_job(spark, ensemble, invests, wh, "S__1"), ["tracks", "steps"]),
    ]
    sc = spark.sparkContext
    for run, tables in runs:
        at_commit.clear()
        sc.setJobGroup(jobs.group, "ingest job under test")
        try:
            counts = run()
            after = jobs.ids()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert at_commit, "every first run commits"
        assert after == at_commit[-1], "a Spark job ran after the last commit"
        assert counts == _table_sizes(wh, tables)
        assert all(n > 0 for n in counts.values())


def test_a_merge_that_changes_nothing_publishes_nothing(spark, tmp_path, deck_dir):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tables = ["storms", "observations", "forecasts", "tracks", "steps"]
    ensemble, invests = _ensemble(spark)

    def tick(n):
        return (
            run_bdeck_job(spark, read_bdeck(spark, deck_dir), wh, f"B__{n}", now=_now()),
            run_adeck_job(spark, _adeck(spark), wh, f"A__{n}"),
            run_syntrack_job(spark, ensemble, invests, wh, f"S__{n}"),
        )

    first = tick(1)
    versions = {t: wh.current_version(t) for t in tables}
    dirs = {t: sorted(os.listdir(os.path.join(wh.root, t))) for t in tables}
    # the a-deck job's counts now include the syntrack rows
    b, a, s = first
    assert tick(2) == (b, {**a, **s}, s)
    assert {t: wh.current_version(t) for t in tables} == versions
    # no staged version directory is left behind either
    assert {t: sorted(os.listdir(os.path.join(wh.root, t))) for t in tables} == dirs

    # a changed row publishes again, for that table only
    drift = list(ADECK_LINES)
    drift[1] = drift[1].replace(" 45, 998,", " 46, 997,")
    run_adeck_job(spark, parse_adeck_lines(
        spark.createDataFrame([(l,) for l in drift], "value string")), wh, "A__3")
    assert wh.current_version("steps") == versions["steps"] + 1
    assert wh.current_version("forecasts") == versions["forecasts"]
    assert wh.current_version("tracks") == versions["tracks"]


def test_a_bucketed_replay_publishes_nothing(spark, tmp_path, deck_dir):
    """The bucketed layout's replay: the second run's observations MERGE
    goes through merge_scoped, which must publish no version and leave no
    staged directory when it changed no row."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tables = ["storms", "observations"]

    def tick(n):
        return run_bdeck_job(
            spark, read_bdeck(spark, deck_dir), wh, f"B__{n}", now=_now(),
            bucket_obs=True, n_buckets=4,
        )

    first = tick(1)
    assert wh.is_bucketed("observations")
    versions = {t: wh.current_version(t) for t in tables}
    dirs = {t: sorted(os.listdir(os.path.join(wh.root, t))) for t in tables}
    assert tick(2) == first
    assert {t: wh.current_version(t) for t in tables} == versions
    assert {t: sorted(os.listdir(os.path.join(wh.root, t))) for t in tables} == dirs
    assert not spark.catalog.tableExists(f"wh_observations__v{versions['observations'] + 1}")


def _cache_state(spark):
    jsc = spark.sparkContext._jsc
    return jsc.getPersistentRDDs().size(), spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ingest_jobs_release_what_they_persist(spark, tmp_path, deck_dir):
    spark.catalog.clearCache()
    start = _cache_state(spark)
    assert start[1], "the cache manager starts empty"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    eng = Engine(spark, wh.root)
    ensemble, invests = _ensemble(spark)

    run_bdeck_job(spark, read_bdeck(spark, deck_dir), wh, "B__1", now=_now())
    assert _cache_state(spark) == start
    run_adeck_job(spark, _adeck(spark), wh, "A__1")
    assert _cache_state(spark) == start
    run_syntrack_job(spark, ensemble, invests, wh, "S__1")
    assert _cache_state(spark) == start
    eng.maintain(now=F.lit("2022-11-06 00:00:00").cast("timestamp"))
    assert _cache_state(spark) == start

    # failed commits: a table held by another writer
    lock = os.path.join(wh.root, "steps", "_LOCK")
    with open(lock, "w") as f:
        f.write("pid=0 ts=0")
    try:
        with pytest.raises(ConcurrentWriteError):
            # tracks commits first, so the persisted members are built
            # before the steps commit fails
            run_syntrack_job(spark, ensemble, invests, wh, "S__2")
        assert _cache_state(spark) == start
        with pytest.raises(ConcurrentWriteError):
            run_adeck_job(spark, _adeck(spark), wh, "A__2")
        assert _cache_state(spark) == start
    finally:
        os.remove(lock)
    os.makedirs(os.path.join(wh.root, "observations"), exist_ok=True)
    lock = os.path.join(wh.root, "observations", "_LOCK")
    with open(lock, "w") as f:
        f.write("pid=0 ts=0")
    try:
        with pytest.raises(ConcurrentWriteError):
            run_bdeck_job(spark, read_bdeck(spark, deck_dir), wh, "B__2", now=_now())
        assert _cache_state(spark) == start
    finally:
        os.remove(lock)


def test_syntrack_job_decodes_the_ensemble_once(spark, tmp_path):
    """The members, the ensemble mean and the invests (built from the
    ensemble, as the cron composition does) all read one decode of the
    ``.mat`` files, and the job releases it, on error too."""
    land = tmp_path / "m"
    land.mkdir()
    for hour in (0, 12):
        init = INIT + dt.timedelta(hours=hour)
        write_fake_mat(str(land / f"ECMWF_{init:%Y%m%d%H}.mat"), n_ens=4, n_steps=3, init=init)
    pattern = str(land / "*.mat")
    n_rows = read_mat_ensemble_distributed(spark, pattern).count()
    inv = local_frame(
        spark,
        [(1, "INVEST-95L", 10.2, -40.2, INIT)],
        "annual_id int, name string, lat double, lon double, valid timestamp",
    )
    spark.catalog.clearCache()
    # ids, not a count: the context cleaner may drop an earlier test's
    # unreachable RDD at any time, but no RDD of this job may stay
    start = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def run(run_id):
        ensemble, seen = _counting(spark, read_mat_ensemble_distributed(spark, pattern), "model")
        invests = ensemble.select("model", "init").distinct().crossJoin(F.broadcast(inv))
        try:
            return run_syntrack_job(spark, ensemble, invests, wh, run_id)
        finally:
            assert seen.value == n_rows
            assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= start
            assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    assert run("S__1")["tracks"] > 0
    lock = os.path.join(wh.root, "steps", "_LOCK")
    with open(lock, "w") as f:
        f.write("pid=0 ts=0")
    try:
        with pytest.raises(ConcurrentWriteError):
            run("S__2")
    finally:
        os.remove(lock)

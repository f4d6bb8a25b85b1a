"""End-to-end ETL golden tests (SURVEY.md §5 item 3): bdeck -> storms +
observations, adeck -> forecasts/tracks/steps, replayed twice to assert
MERGE idempotence; entity-resolution transition scenarios
(tcdb/etl/process_storms.py:75-117)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tcdb_spark.jobs.adeck import run_adeck_job
from tcdb_spark.jobs.bdeck import run_bdeck_job
from tcdb_spark.jobs.maintenance import remove_old_invests, update_active_systems
from tcdb_spark.operators.entity_resolution import resolve_storms
from tcdb_spark.plans.queries_atcf import ADECK_LINES, BDECK_LINES
from tcdb_spark.sources.atcf import parse_adeck_lines, parse_bdeck_lines
from tcdb_spark.sources.ledger import admit_new, hash_files
from tcdb_spark.sources.warehouse import Warehouse

def NOW():
    return F.lit("2022-09-26 12:00:00").cast("timestamp")


def _lines(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_bdeck_job_end_to_end_and_idempotent(spark, wh):
    parsed = parse_bdeck_lines(_lines(spark, BDECK_LINES))
    counts1 = run_bdeck_job(spark, parsed, wh, run_id="BDECK__t1", now=NOW())
    assert counts1 == {"storms": 3, "observations": 4}

    storms = {r["nhc_id"]: r for r in wh.read("storms").collect()}
    assert storms["AL092022"]["name"] == "TS-Ian"
    assert storms["AL092022"]["annual_id"] == 1
    assert storms["AL092022"]["status"] == "Active"     # 6h old at NOW
    assert storms["SH032022"]["status"] == "Archive"    # january storm
    assert storms["AL092022"]["run_id"] == "BDECK__t1"

    # replay: same batch again -> fixed point, audit untouched
    counts2 = run_bdeck_job(spark, parsed, wh, run_id="BDECK__t2", now=NOW())
    assert counts2 == counts1
    storms2 = {r["nhc_id"]: r for r in wh.read("storms").collect()}
    for k in storms:
        assert storms2[k]["run_id"] == storms[k]["run_id"] == "BDECK__t1"
        assert storms2[k]["annual_id"] == storms[k]["annual_id"]

    obs = wh.read("observations")
    ian_obs = obs.join(
        wh.read("storms").where(F.col("nhc_id") == "AL092022").select("storm_id"), "storm_id"
    )
    assert ian_obs.count() == 2
    first = ian_obs.orderBy("datetime_utc").first()
    assert first["r34_ne"] == 60 and first["r50_ne"] == 30 and first["r64_ne"] is None
    assert first["latitude"] == 25.1 and first["intensity_kts"] == 35.0


def test_bdeck_job_bucketed_layout_same_results(spark, wh, tmp_path):
    """bucket_obs=True is a pure layout change: identical counts and
    per-row values vs the plain path, idempotent on replay, and the
    second run's MERGE reads the bucketed v1 through the catalog."""
    parsed = parse_bdeck_lines(_lines(spark, BDECK_LINES))
    counts1 = run_bdeck_job(
        spark, parsed, wh, run_id="BDECK__t1", now=NOW(), bucket_obs=True, n_buckets=4
    )
    assert counts1 == {"storms": 3, "observations": 4}
    counts2 = run_bdeck_job(
        spark, parsed, wh, run_id="BDECK__t2", now=NOW(), bucket_obs=True, n_buckets=4
    )
    assert counts2 == counts1

    plain = Warehouse(spark, str(tmp_path / "wh_plain"))
    run_bdeck_job(spark, parsed, plain, run_id="BDECK__t1", now=NOW())
    cols = sorted(
        c for c in plain.read("observations").columns if c not in ("run_id", "last_update")
    )
    a = {tuple(r) for r in wh.read("observations").select(*cols).collect()}
    b = {tuple(r) for r in plain.read("observations").select(*cols).collect()}
    assert a == b


def test_adeck_job_after_bdeck(spark, wh):
    run_bdeck_job(spark, parse_bdeck_lines(_lines(spark, BDECK_LINES)), wh, "B__1", now=NOW())
    # make an adeck batch for the AL09 storm (fixture ADECK_LINES is AL05
    # etc. -> build AL09 lines so storm inference matches)
    lines = [
        "AL, 09, 2022092600, 01, OFCL, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, x",
        "AL, 09, 2022092600, 01, OFCL, 12, 258N, 748W, 45, 998, TS, 34, NEQ, 70, 50, 40, 60, x",
        "AL, 09, 2022092600, 01, OFCL, 24, 265N, 757W, 55, 990, TS, 34, NEQ, 80, 60, 50, 70, x",
        "AL, 09, 2022092600, 02, AVNO, 0, 252N, 741W, 33, 1004, , , , , , , , x",
        "AL, 09, 2022092600, 02, AVNO, 12, 259N, 749W, 44, 999, , , , , , , , x",
        # not in allowlist -> filtered
        "AL, 09, 2022092600, 03, XTRP, 12, 260N, 750W, 40, 1000, , , , , , , , x",
    ]
    parsed = parse_adeck_lines(_lines(spark, lines))
    counts1 = run_adeck_job(spark, parsed, wh, run_id="A__1")
    assert counts1 == {"forecasts": 2, "tracks": 2, "steps": 5}

    counts2 = run_adeck_job(spark, parsed, wh, run_id="A__2")
    assert counts2 == counts1
    steps = wh.read("steps")
    assert steps.where(F.col("run_id") == "A__2").count() == 0  # idempotent

    # drifted re-forecast: OFCL hour 12 moves -> only that row re-stamped
    lines_drift = list(lines)
    lines_drift[1] = "AL, 09, 2022092600, 01, OFCL, 12, 259N, 749W, 46, 997, TS, 34, NEQ, 70, 50, 40, 60, x"
    counts3 = run_adeck_job(spark, parse_adeck_lines(_lines(spark, lines_drift)), wh, run_id="A__3")
    assert counts3 == counts1
    restamped = wh.read("steps").where(F.col("run_id") == "A__3").collect()
    assert len(restamped) == 1 and restamped[0]["hour"] == 12
    assert restamped[0]["intensity_kts"] == 46.0


def test_entity_resolution_invest_to_named_transition(spark):
    """An invest transitions to a named storm: same start date, start
    position within 100 nm (tcdb/etl/process_storms.py:75-101)."""
    existing = spark.createDataFrame(
        [(111, "AL952022", 95, "AL", 2022, dt.datetime(2022, 9, 24), dt.datetime(2022, 9, 25, 18), 24.8, -73.6)],
        "storm_id long, nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, start_lat double, start_lon double",
    )
    incoming = spark.createDataFrame(
        [
            # named storm, starts where the invest started (upgrade)
            ("AL092022", 9, "AL", 2022, dt.datetime(2022, 9, 24, 6), dt.datetime(2022, 9, 26, 6), 25.1, -74.0),
            # named storm same start date but ~600nm away (no match)
            ("AL102022", 10, "AL", 2022, dt.datetime(2022, 9, 24), dt.datetime(2022, 9, 26), 15.0, -74.0),
        ],
        "nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, start_lat double, start_lon double",
    )
    out = {r["nhc_id"]: r for r in resolve_storms(incoming, existing).collect()}
    assert out["AL092022"]["match_rule"] == "upgrade"
    assert out["AL092022"]["matched_storm_id"] == 111
    assert out["AL102022"]["match_rule"] == "new"
    assert out["AL102022"]["matched_storm_id"] is None


def test_entity_resolution_drift_window(spark):
    """24 h start-date drift tolerance (JTWC), >24 h -> no match
    (tcdb/etl/process_storms.py:104-117)."""
    existing = spark.createDataFrame(
        [(5, "SH902022", 90, "SH", 2022, dt.datetime(2022, 1, 10, 0), dt.datetime(2022, 1, 12), -9.0, 120.0)],
        "storm_id long, nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, start_lat double, start_lon double",
    )
    near = spark.createDataFrame(
        [("SH032022", 3, "SH", 2022, dt.datetime(2022, 1, 10, 23), dt.datetime(2022, 1, 13), -9.2, 120.3)],
        existing.drop("storm_id").schema,
    )
    far = spark.createDataFrame(
        [("SH042022", 4, "SH", 2022, dt.datetime(2022, 1, 11, 1), dt.datetime(2022, 1, 13), -9.2, 120.3)],
        existing.drop("storm_id").schema,
    )
    assert resolve_storms(near, existing).first()["match_rule"] == "upgrade"
    assert resolve_storms(far, existing).first()["match_rule"] == "new"


def test_maintenance_jobs(spark, wh):
    run_bdeck_job(spark, parse_bdeck_lines(_lines(spark, BDECK_LINES)), wh, "B__1", now=NOW())
    # archive sweep at +2 days: AL09 idle > 24h -> archived
    later = F.lit("2022-09-28 12:00:00").cast("timestamp")
    n = update_active_systems(spark, wh, run_id="M__1", now=later)
    assert n >= 1
    assert wh.read("storms").where(F.col("status") == "Active").count() == 0

    # invest EP91 ended 2022-09-26; at +40 days it is removed with cascade
    much_later = F.lit("2022-11-06 00:00:00").cast("timestamp")
    res = remove_old_invests(spark, wh, now=much_later)
    assert res["removed_storms"] == 1
    assert wh.read("storms").where(F.col("nhc_number") >= 90).count() == 0


def test_ingest_ledger(spark, wh):
    files = spark.createDataFrame(
        [("bal092022.dat", "line1\nline2"), ("bep912022.dat", "xyz"), ("empty.dat", "")],
        "source_name string, content string",
    )
    new1 = admit_new(spark, wh, hash_files(files), run_id="L__1")
    assert new1.count() == 2  # empty file guarded out
    # same batch again -> nothing admitted
    new2 = admit_new(spark, wh, hash_files(files), run_id="L__2")
    assert new2.count() == 0
    # changed content -> admitted
    files3 = spark.createDataFrame(
        [("bal092022.dat", "line1\nline2\nline3")], "source_name string, content string"
    )
    assert admit_new(spark, wh, hash_files(files3), run_id="L__3").count() == 1


def test_adeck_freshness_and_backfill(spark, wh):
    run_bdeck_job(spark, parse_bdeck_lines(_lines(spark, BDECK_LINES)), wh, "B__1", now=NOW())
    lines = [
        "AL, 09, 2022092600, 01, OFCL, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, x",
    ]
    parsed = parse_adeck_lines(_lines(spark, lines))
    # ref_time 3 days later: forecast older than 24h -> filtered out
    stale = run_adeck_job(
        spark, parsed, wh, run_id="A__F", ref_time="2022-09-29 00:00:00", freshness_hours=24
    )
    assert stale == {"forecasts": 0, "tracks": 0, "steps": 0}
    # backfill widens the window to infinity (tcdb/pipeline/adeck.py:69-76)
    back = run_adeck_job(
        spark, parsed, wh, run_id="A__B", ref_time="2022-09-29 00:00:00",
        freshness_hours=24, backfill=True,
    )
    assert back == {"forecasts": 1, "tracks": 1, "steps": 1}


def test_jdbc_gated(spark):
    import pytest as _pytest

    from tcdb_spark.sources.jdbc import read_jdbc_table

    with _pytest.raises(NotImplementedError, match="JDBC driver"):
        read_jdbc_table(spark, "jdbc:mysql://localhost/tcdb", "storms")


def test_upgrade_matches_invests_numbered_70_to_89(spark):
    """The existing-invest search for an upgrade uses nhc_number >= 70
    (tcdb/etl/process_storms.py:149), looser than the >= 90 incoming
    gate — a renumbered 75 invest must still be matched."""
    existing = spark.createDataFrame(
        [(7, "AL752022", 75, "AL", 2022, dt.datetime(2022, 9, 24), dt.datetime(2022, 9, 25, 18), 24.8, -73.6)],
        "storm_id long, nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, start_lat double, start_lon double",
    )
    incoming = spark.createDataFrame(
        [("AL092022", 9, "AL", 2022, dt.datetime(2022, 9, 24, 6), dt.datetime(2022, 9, 26, 6), 25.1, -74.0)],
        existing.drop("storm_id").schema,
    )
    out = resolve_storms(incoming, existing).first()
    assert out["match_rule"] == "upgrade" and out["matched_storm_id"] == 7


def test_transitioned_invest_is_dropped_from_staging(spark):
    """An incoming invest that matches an existing named storm has
    transitioned: the reference skips the record entirely (investSearch
    returns None, tcdb/etl/process_storms.py:95-98,212-214) — it must NOT
    merge its payload onto the named storm."""
    from tcdb_spark.dims import regions_df
    from tcdb_spark.jobs.bdeck import stage_storms

    existing = spark.createDataFrame(
        [(42, 1, 1, 9, "AL092022", 2022, dt.datetime(2022, 9, 24),
          dt.datetime(2022, 9, 26, 6), "Active", "Ian", 25.1, -74.0)],
        "storm_id long, annual_id int, region_id int, nhc_number int, nhc_id string, "
        "season int, start_date timestamp, end_date timestamp, status string, "
        "name string, start_lat double, start_lon double",
    )
    incoming = spark.createDataFrame(
        [
            # transitioned invest: same start date + position as Ian -> drop
            ("AL952022", 95, "AL", 2022, dt.datetime(2022, 9, 24),
             dt.datetime(2022, 9, 26, 12), "INVEST", 25.2, -74.1),
            # unrelated fresh invest far away -> staged as new
            ("EP902022", 90, "EP", 2022, dt.datetime(2022, 9, 25),
             dt.datetime(2022, 9, 26), "INVEST", 15.0, -110.0),
        ],
        "nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, name string, "
        "start_lat double, start_lon double",
    )
    staged = stage_storms(incoming, existing, regions_df(spark), now=NOW())
    ids = [r["nhc_id"] for r in staged.collect()]
    assert "AL952022" not in ids, "transitioned invest must be dropped, not merged"
    assert "EP902022" in ids


def test_stage_storms_numbers_new_storms_after_catalog_max(spark):
    """New storms take max(annual_id) + 1, 2, ... per (season, region) in
    (start_date, nhc_id) order, a fresh (season, region) starts at 1, and
    a matched storm keeps its own annual_id
    (tcdb/etl/process_storms.py:220-235)."""
    from tcdb_spark.dims import regions_df
    from tcdb_spark.jobs.bdeck import stage_storms

    regions = regions_df(spark)
    al = regions.where(F.col("short_name") == "AL").first()["region_id"]
    existing = spark.createDataFrame(
        [
            (1, 3, al, 5, "AL052022", 2022, dt.datetime(2022, 8, 1),
             dt.datetime(2022, 8, 5), "Archive", "Erin", 30.0, -40.0),
            (2, 7, al, 6, "AL062022", 2022, dt.datetime(2022, 8, 10),
             dt.datetime(2022, 8, 15), "Archive", "Fiona", 35.0, -50.0),
        ],
        "storm_id long, annual_id int, region_id long, nhc_number int, nhc_id string, "
        "season int, start_date timestamp, end_date timestamp, status string, "
        "name string, start_lat double, start_lon double",
    )
    incoming = spark.createDataFrame(
        [
            ("AL012022", 1, "AL", 2022, dt.datetime(2022, 6, 1), dt.datetime(2022, 6, 3), "A", 10.0, -20.0),
            ("AL022022", 2, "AL", 2022, dt.datetime(2022, 7, 1), dt.datetime(2022, 7, 3), "B", 12.0, -22.0),
            ("EP012023", 1, "EP", 2023, dt.datetime(2023, 6, 1), dt.datetime(2023, 6, 3), "C", 14.0, -100.0),
            # the existing AL05 again: matched, keeps annual_id 3
            ("AL052022", 5, "AL", 2022, dt.datetime(2022, 8, 1), dt.datetime(2022, 8, 6), "Erin", 30.0, -40.0),
        ],
        "nhc_id string, nhc_number int, basin string, season int, "
        "start_date timestamp, end_date timestamp, name string, "
        "start_lat double, start_lon double",
    )
    out = {r["nhc_id"]: r for r in stage_storms(incoming, existing, regions, now=NOW()).collect()}
    # existing max 7 -> 8, 9; fresh partition starts at 1
    assert {k: r["annual_id"] for k, r in out.items()} == {
        "AL012022": 8, "AL022022": 9, "EP012023": 1, "AL052022": 3,
    }
    assert out["AL052022"]["storm_id"] == 1

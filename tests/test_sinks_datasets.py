"""Sink + dataset-assembly tests (SURVEY.md §2.1 sinks, §2.6
reshape-denormalize)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tcdb_spark.datasets import storm_observations, storm_tracks
from tcdb_spark.jobs.adeck import run_adeck_job
from tcdb_spark.jobs.bdeck import run_bdeck_job
from tcdb_spark.plans.queries_atcf import BDECK_LINES
from tcdb_spark.sources.atcf import parse_adeck_lines, parse_bdeck_lines
from tcdb_spark.sources.sinks import (
    invest_documents,
    json_encode_row,
    write_json_documents,
    write_partitioned,
)
from tcdb_spark.sources.warehouse import Warehouse


def _lines(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def _load_wh(spark, root):
    wh = Warehouse(spark, str(root / "wh"))
    now = F.lit("2022-09-26 12:00:00").cast("timestamp")
    run_bdeck_job(spark, parse_bdeck_lines(_lines(spark, BDECK_LINES)), wh, "B__1", now=now)
    adeck = [
        "AL, 09, 2022092600, 01, OFCL, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, x",
        "AL, 09, 2022092600, 01, OFCL, 12, 258N, 748W, 45, 998, TS, 34, NEQ, 70, 50, 40, 60, x",
        "AL, 09, 2022092600, 02, AVNO, 0, 252N, 741W, 33, 1004, , , , , , , , x",
    ]
    run_adeck_job(spark, parse_adeck_lines(_lines(spark, adeck)), wh, "A__1")
    return wh


@pytest.fixture(scope="module")
def loaded_wh(spark, tmp_path_factory):
    """One loaded warehouse shared by the module's read-only tests;
    a test that writes to it builds its own with ``_load_wh``."""
    return _load_wh(spark, tmp_path_factory.mktemp("loaded"))


def test_partitioned_write(spark, tmp_path, loaded_wh):
    steps = loaded_wh.read("steps").withColumn("hour_part", F.col("hour"))
    out = str(tmp_path / "parts")
    write_partitioned(steps, out, ["hour_part"])
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("hour_part=")}
    assert dirs == {"hour_part=0", "hour_part=12"}
    back = spark.read.parquet(out)
    assert back.count() == steps.count()


def test_json_encode_iso_timestamps(spark, loaded_wh):
    storms = loaded_wh.read("storms")
    enc = json_encode_row(storms, exclude=["run_id", "last_update"])
    doc = json.loads(enc.where(F.col("nhc_id") == "AL092022").first()["json"])
    assert doc["start_date"] == "2022-09-26T00:00:00"  # isoformat contract
    assert doc["name"] == "TS-Ian"
    assert "run_id" not in doc


def test_write_json_documents(spark, tmp_path, loaded_wh):
    out = str(tmp_path / "json")
    write_json_documents(loaded_wh.read("storms"), out)
    back = spark.read.json(out)
    assert back.count() == 3
    assert back.where(F.col("start_date") == "2022-09-26T00:00:00").count() == 2


def test_invest_documents(spark, loaded_wh):
    docs = invest_documents(loaded_wh.read("storms"), loaded_wh.read("observations"))
    rows = docs.collect()
    assert len(rows) == 1  # only the EP91 invest
    doc = json.loads(rows[0]["json"])
    assert doc["nhc_id"] == "EP912022"
    assert doc["intensity_kts"] == 25.0  # latest obs inlined


def test_storm_tracks_dataset(spark, loaded_wh):
    df = storm_tracks(loaded_wh, nhc_id="AL092022")
    rows = df.collect()
    assert {r["model"] for r in rows} == {"OFCL", "AVNO"}
    ofcl12 = [r for r in rows if r["model"] == "OFCL" and r["hour"] == 12][0]
    assert str(ofcl12["valid_utc"]) == "2022-09-26 12:00:00"
    assert "run_id" not in df.columns

    only_ofcl = storm_tracks(loaded_wh, nhc_id="AL092022", models=["OFCL"])
    assert {r["model"] for r in only_ofcl.collect()} == {"OFCL"}

    obs = storm_observations(loaded_wh, nhc_id="AL092022")
    assert obs.count() == 2 and "run_id" not in obs.columns


def test_export_tables(spark, tmp_path, loaded_wh):
    from tcdb_spark.sources.sinks import export_tables

    out = str(tmp_path / "export")
    counts = export_tables(loaded_wh, out, ["storms", "observations"])
    assert counts == {"storms": 3, "observations": 4}
    back = spark.read.option("header", True).csv(f"{out}/storms")
    assert back.count() == 3
    assert back.where(F.col("start_date") == "2022-09-26T00:00:00").count() == 2


def test_export_tables_partitions_past_single_file_cap(spark, tmp_path, loaded_wh):
    """Above the row cap the export must NOT coalesce(1): one task
    writing one giant file is a stall at warehouse scale."""
    import glob

    from tcdb_spark.sources.sinks import export_tables

    small = str(tmp_path / "small")
    export_tables(loaded_wh, small, ["observations"])
    assert len(glob.glob(f"{small}/observations/part-*")) == 1  # golden-diff single CSV

    class _Wh:  # multi-partition source: the case the cap protects
        def read(self, _t):
            return spark.range(100).repartition(4).withColumn("v", F.col("id") * 2)

    big = str(tmp_path / "big")
    counts = export_tables(_Wh(), big, ["wide"], single_file_max_rows=50)
    assert counts == {"wide": 100}
    parts = glob.glob(f"{big}/wide/part-*")
    assert len(parts) > 1  # partitioned write, no single-task funnel
    back = spark.read.option("header", True).csv(f"{big}/wide")
    assert back.count() == 100


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC parity with parquet: roundtrip exact, predicate reaches the
    reader (search argument) and the scan schema is pruned."""
    from tcdb_spark.sources.sinks import read_columnar, write_columnar

    df = spark.range(0, 10_000).selectExpr(
        "id", "id % 7 as grp", "cast(id * 1.5 as double) as v", "concat('n', id) as name"
    )
    path = str(tmp_path / "orc_t")
    write_columnar(df, path, fmt="orc")
    back = read_columnar(spark, path, fmt="orc")
    assert back.count() == 10_000
    q = back.where(F.col("grp") == 3).select("id", "v")
    assert q.count() == df.where("id % 7 = 3").count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "grp" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "name" not in read_schema  # pruned projection


def test_xml_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from tcdb_spark.sources.sinks import read_columnar, write_columnar

    df = spark.createDataFrame(
        [(1, "alpha", 2.5), (2, "beta", -1.0)], "id long, name string, v double"
    )
    path = str(tmp_path / "xml_t")
    write_columnar(df, path, fmt="xml")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    back = read_columnar(spark, path, fmt="xml", schema=schema)
    assert {(r.id, r.name, r.v) for r in back.collect()} == {
        (1, "alpha", 2.5),
        (2, "beta", -1.0),
    }


def test_avro_routes_to_stdlib_fallback_without_jar(spark, tmp_path):
    """r7: with spark-avro absent, flat-schema Avro writes route to the
    pure-stdlib container writer instead of raising (the r6 'missing'
    item); the actionable jar error remains for spark-avro-only knobs
    (pinned in tests/test_avro_fallback.py)."""
    from tcdb_spark.sources.avro_fallback import read_avro_files
    from tcdb_spark.sources.sinks import write_columnar

    df = spark.range(3)
    path = str(tmp_path / "avro_t")
    write_columnar(df, path, fmt="avro")
    assert sorted(r[0] for r in read_avro_files(spark, path).collect()) == [0, 1, 2]


def test_storm_lookup_skips_files(spark, tmp_path):
    """Point lookups route through file-stats skipping: re-cluster
    observations on storm_id with stats at commit, then a storm-id
    lookup must read strictly fewer files than the table holds while
    returning the identical rows (VERDICT r3 item 6).  It rewrites the
    table, so it loads a private warehouse."""
    loaded_wh = _load_wh(spark, tmp_path)
    obs = loaded_wh.read("observations")
    # re-lay the table: range-clustered on storm_id, stats at commit
    loaded_wh.write(
        "observations",
        obs.repartitionByRange(3, "storm_id"),
        stats_cols=["storm_id"],
    )
    storms = loaded_wh.read("storms")
    sid = storms.where(F.col("nhc_id") == "AL092022").first()["storm_id"]
    pruned, info = loaded_wh.read_skipping("observations", {"storm_id": (sid, sid)})
    assert 0 < info["files_read"] < info["files_total"]
    assert pruned.count() == obs.where(F.col("storm_id") == sid).count()

    # the dataset facade takes the same pruned path and must agree with
    # the full-scan answer exactly
    got = storm_observations(loaded_wh, nhc_id="AL092022")
    assert got.count() == 2
    assert {r["nhc_id"] for r in got.collect()} == {"AL092022"}

"""ATCF source tests: ragged handling, typed projection, storm summary,
wind-radii pivot (reference: tcdb/etl/atcf.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcdb_spark.operators.pivot import pivot_wind_radii, unpivot_radii
from tcdb_spark.plans.queries_atcf import ADECK_LINES, BDECK_LINES
from tcdb_spark.sources.atcf import (
    parse_adeck_lines,
    parse_bdeck_lines,
    storms_from_bdeck,
)


def _lines(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_adeck_ragged_dropped(spark):
    parsed = parse_adeck_lines(_lines(spark, ADECK_LINES))
    assert parsed.count() == len(ADECK_LINES) - 1  # one ragged line


def test_adeck_types_and_blanks(spark):
    parsed = parse_adeck_lines(_lines(spark, ADECK_LINES))
    r = parsed.where((F.col("TECH") == "AVNO")).first()
    assert r["VMAX"] is None and r["MSLP"] is None and r["TY"] is None
    assert r["LAT"] == 25.7 and r["LON"] == -72.8
    assert dict(parsed.dtypes)["SNUM"] == "int"
    assert dict(parsed.dtypes)["DATETIME"] == "timestamp"


def test_bdeck_storm_summary(spark):
    storms = storms_from_bdeck(parse_bdeck_lines(_lines(spark, BDECK_LINES)))
    by_id = {r["nhc_id"]: r for r in storms.collect()}
    assert set(by_id) == {"AL092022", "EP912022", "SH032022"}
    ian = by_id["AL092022"]
    assert ian["name"] == "TS-Ian"
    assert ian["start_lat"] == 25.1 and ian["start_lon"] == -74.0
    assert by_id["EP912022"]["name"] == "NHC-91E"   # invest naming
    assert by_id["SH032022"]["name"] == "STC-Darian"


def test_pivot_unpivot_roundtrip(spark):
    parsed = parse_bdeck_lines(_lines(spark, BDECK_LINES))
    wide = pivot_wind_radii(parsed, ["BASIN", "SNUM", "DATETIME"])
    assert wide.count() == 4
    ian0 = wide.where(
        (F.col("SNUM") == 9) & (F.col("DATETIME") == F.lit("2022-09-26 00:00:00").cast("timestamp"))
    ).first()
    assert (ian0["r34_ne"], ian0["r50_ne"], ian0["r64_ne"]) == (60, 30, None)
    long = unpivot_radii(wide, ["BASIN", "SNUM", "DATETIME"])
    # 12 radii columns exploded per cycle
    assert long.count() == 4 * 12
    back = long.where(F.col("radius_nmi").isNotNull())
    # ian cycle0: r34+r50 (8), cycle1: r34 (4); invest r34 (4); SH r34 (4)
    assert back.count() == 8 + 4 + 4 + 4


def test_deckdir_python_datasource(spark, tmp_path):
    """Custom listing source: one partition per matched file, pattern
    filtering at listing time, transparent gzip, and the rows feed the
    existing b-deck parser unchanged."""
    import gzip as _gzip

    from tcdb_spark.sources import deck_source
    from tcdb_spark.sources.atcf import parse_bdeck_lines

    d = tmp_path / "decks"
    d.mkdir()
    (d / "bal012024.dat").write_text("\n".join(BDECK_LINES[:2]) + "\n")
    (d / "bal022024.dat").write_text(BDECK_LINES[2] + "\n")
    with _gzip.open(d / "bal032024.dat.gz", "wt") as f:
        f.write(BDECK_LINES[0] + "\n")
    (d / "README.txt").write_text("not a deck\n")

    deck_source.register(spark)
    df = spark.read.format("deckdir").option("path", str(d)).load()
    rows = df.collect()
    assert len(rows) == 4  # README excluded by the default *.dat* pattern
    assert df.select("path").distinct().count() == 3
    # partition-per-file: distinct partition ids == file count
    assert (
        df.select(F.spark_partition_id().alias("p")).distinct().count() == 3
    )
    # line numbering restarts per file
    two = {(r.line_no) for r in rows if r.path.endswith("bal012024.dat")}
    assert two == {1, 2}

    parsed = parse_bdeck_lines(df.select(F.col("line").alias("value")))
    assert parsed.count() == 4
    assert parsed.where(F.col("basin") == "AL").count() == 4


def test_deckdir_writer_roundtrip(spark, tmp_path):
    """Writer half of the custom Python DataSource: partitioned deck
    write with a staged-then-manifest commit, read back via the reader."""
    from pyspark.sql import functions as F

    from tcdb_spark.sources import deck_source

    deck_source.register(spark)
    out = tmp_path / "deckout"
    lines = [f"AL, 09, 2022091{i}00, {i:02d}" for i in range(20)]
    df = spark.createDataFrame([(ln,) for ln in lines], ["line"]).repartition(4)
    df.write.format("deckdir").option("path", str(out)).mode("overwrite").save()

    import os

    names = sorted(os.listdir(out))
    assert "_MANIFEST" in names
    assert not [n for n in names if n.startswith(".staged-")]
    manifest = (out / "_MANIFEST").read_text().split()
    assert manifest[0] == deck_source.MANIFEST_VERSION_HEADER
    assert all((out / m).exists() for m in manifest[1:])

    back = spark.read.format("deckdir").option("path", str(out)).load()
    got = sorted(r["line"] for r in back.select("line").collect())
    assert got == sorted(lines)

    # overwrite replaces prior content (no stale parts accumulate)
    df.limit(3).write.format("deckdir").option("path", str(out)).mode(
        "overwrite"
    ).save()
    again = spark.read.format("deckdir").option("path", str(out)).load()
    assert again.count() == 3


def test_deckdir_writer_append_merges_manifest(spark, tmp_path):
    """Round-2 ADVICE finding: append-mode commit must keep naming the
    previously published parts in _MANIFEST (the manifest-aware reader
    would otherwise silently drop them), job-uuid part names must not
    collide across jobs (attempt ids restart at 0 per application), and
    overwrite cleanup must tolerate subdirectories in the target."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from tcdb_spark.sources import deck_source

    deck_source.register(spark)
    out = tmp_path / "deckappend"

    first = spark.createDataFrame([(f"first-{i}",) for i in range(6)], ["line"]).coalesce(2)
    first.write.format("deckdir").option("path", str(out)).mode("overwrite").save()
    second = spark.createDataFrame([(f"second-{i}",) for i in range(4)], ["line"]).coalesce(2)
    second.write.format("deckdir").option("path", str(out)).mode("append").save()

    manifest = set((out / "_MANIFEST").read_text().split())
    assert deck_source.MANIFEST_VERSION_HEADER in manifest  # versioned format
    manifest.discard(deck_source.MANIFEST_VERSION_HEADER)
    parts = {n for n in os.listdir(out) if n.startswith("part-")}
    # every published part is manifested and vice versa — both jobs' files
    assert manifest == parts and len(parts) == 4, (manifest, parts)
    # job-scoped uuids: partition ids collide across the two jobs, names must not
    assert len({p.split("-")[1] for p in parts}) < len(parts)

    back = spark.read.format("deckdir").option("path", str(out)).load()
    got = sorted(r["line"] for r in back.select("line").collect())
    assert got == sorted([f"first-{i}" for i in range(6)] + [f"second-{i}" for i in range(4)])

    # a stray unmanifested file is invisible to the manifest-aware reader
    (out / "orphan.dat").write_text("GHOST LINE\n")
    assert "GHOST LINE" not in {
        r["line"] for r in spark.read.format("deckdir").option("path", str(out)).load().collect()
    }

    # overwrite with a subdirectory present must not raise (isfile guard)
    (out / "subdir").mkdir()
    first.limit(2).write.format("deckdir").option("path", str(out)).mode("overwrite").save()
    assert spark.read.format("deckdir").option("path", str(out)).load().count() == 2


def test_deckdir_writer_gz(spark, tmp_path):
    from tcdb_spark.sources import deck_source

    deck_source.register(spark)
    out = tmp_path / "deckgz"
    df = spark.createDataFrame([("a b c",), ("d e f",)], ["line"]).coalesce(1)
    df.write.format("deckdir").option("path", str(out)).option("gz", "true").mode(
        "overwrite"
    ).save()
    back = spark.read.format("deckdir").option("path", str(out)).load()
    assert sorted(r["line"] for r in back.collect()) == ["a b c", "d e f"]


def test_deckdir_legacy_manifest_falls_back_to_full_listing(spark, tmp_path):
    """Round-3 ADVICE: a header-less (pre-merge-writer) manifest may name
    only the last job's files — the reader must NOT trust it, or it would
    silently drop previously published parts. It falls back to the full
    listing; a versioned manifest is trusted strictly."""
    from tcdb_spark.sources import deck_source

    deck_source.register(spark)
    out = tmp_path / "legacy"
    out.mkdir()
    (out / "part-00000-1-aaaa.dat").write_text("old line\n")
    (out / "part-00000-2-bbbb.dat").write_text("new line\n")
    # legacy manifest: the old writer's append overwrote it with only the
    # last job's file
    (out / "_MANIFEST").write_text("part-00000-2-bbbb.dat\n")

    got = {
        r["line"]
        for r in spark.read.format("deckdir").option("path", str(out))
        .option("pattern", "*.dat").load().collect()
    }
    assert got == {"old line", "new line"}  # nothing silently dropped

    # versioned manifest: strict — unmanifested parts stay invisible
    (out / "_MANIFEST").write_text(
        deck_source.MANIFEST_VERSION_HEADER + "\npart-00000-2-bbbb.dat\n"
    )
    got = {
        r["line"]
        for r in spark.read.format("deckdir").option("path", str(out))
        .option("pattern", "*.dat").load().collect()
    }
    assert got == {"new line"}


def test_deckdir_http_backend_loopback(spark, tmp_path):
    """The HTTP backend of the deckdir source against a loopback
    http.server (VERDICT r3 item 8): ONE driver-side index fetch lists
    the names, each file downloads executor-side, .gz members
    decompress, pattern filtering applies at listing time, and the rows
    feed the b-deck parser unchanged — the reference's
    scrape-then-download pipeline (tcdb/pipeline/adeck.py:20-38) with
    the download loop distributed."""
    import gzip as _gzip
    import http.server
    import threading

    from tcdb_spark.sources import deck_source
    from tcdb_spark.sources.atcf import parse_bdeck_lines

    d = tmp_path / "httpdecks"
    d.mkdir()
    (d / "bal012024.dat").write_text("\n".join(BDECK_LINES[:2]) + "\n")
    (d / "bal022024.dat").write_text(BDECK_LINES[2] + "\n")
    with _gzip.open(d / "bal032024.dat.gz", "wt") as f:
        f.write(BDECK_LINES[3] + "\n")
    (d / "README.txt").write_text("not a deck\n")

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(d), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        deck_source.register(spark)
        df = spark.read.format("deckdir").option("path", url).load()
        rows = df.collect()
        assert len(rows) == 4  # README filtered at listing time
        assert df.select("path").distinct().count() == 3
        # partition-per-file: downloads are distributed, not a driver loop
        assert df.select(F.spark_partition_id().alias("p")).distinct().count() == 3
        gz_rows = [r for r in rows if r.path.endswith(".gz")]
        assert len(gz_rows) == 1 and gz_rows[0].line == BDECK_LINES[3]
        # Last-Modified flows into mtime (the server sets it from the fs)
        assert all(r.mtime.year >= 2024 for r in rows)
        parsed = parse_bdeck_lines(df.select(F.col("line").alias("value")))
        assert parsed.count() == 4
    finally:
        srv.shutdown()
        srv.server_close()


def test_bdeck_job_keeps_seasons_that_reuse_a_number_apart(spark, tmp_path):
    """One batch holding bal092021.dat and bal092022.dat (AL09 reused a
    season later) lands two storms keyed by the deck file's season, and
    every observation is keyed to its own season's storm."""
    from tcdb_spark.jobs.bdeck import run_bdeck_job
    from tcdb_spark.sources.atcf import read_bdeck
    from tcdb_spark.sources.warehouse import Warehouse

    land = tmp_path / "b"
    land.mkdir()
    ian = [l for l in BDECK_LINES if l.startswith("AL, 09")]
    larry = [l.replace(", 2022092", ", 2021090").replace("IAN", "LARRY") for l in ian]
    (land / "bal092022.dat").write_text("\n".join(ian) + "\n")
    (land / "bal092021.dat").write_text("\n".join(larry) + "\n")

    wh = Warehouse(spark, str(tmp_path / "wh"))
    now = F.lit("2022-09-26 12:00:00").cast("timestamp")
    counts = run_bdeck_job(spark, read_bdeck(spark, str(land)), wh, "B__x", now=now)
    assert counts == {"storms": 2, "observations": 4}

    storms = {r["nhc_id"]: r for r in wh.read("storms").collect()}
    assert {k: (v["season"], v["name"]) for k, v in storms.items()} == {
        "AL092021": (2021, "TS-Larry"),
        "AL092022": (2022, "TS-Ian"),
    }
    keyed = {
        (r["storm_id"], r["datetime_utc"].year)
        for r in wh.read("observations").collect()
    }
    assert keyed == {
        (storms["AL092021"]["storm_id"], 2021),
        (storms["AL092022"]["storm_id"], 2022),
    }

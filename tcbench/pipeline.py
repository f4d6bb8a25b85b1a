"""``season_ticks``: one cycle of the operational loop over a seeded season.

The cycle's files land, then the cron composition runs as one client in
a closed loop, in a fresh session (the tick is cold, as every cron cycle
of the CLI deployment is):

    Engine.ingest_bdeck(now=cycle) -> Engine.ingest_adeck(ref_time=cycle)
    -> read_mat_ensemble_distributed -> run_syntrack_job (invests from
       the warehouse, as the CLI's ``syntrack`` command builds them)
    -> Engine.maintain(now=cycle)

followed by one storm-dataset read per active storm
(``Engine.storm_tracks`` and ``Engine.storm_observations``, collected).
Traced runs add a second ingest of the landed decks with maintenance (a
fixed point), scans of the landed files and two analytic summaries
through ``Engine.sql``.  Every result is checked
against ``season.Season``'s own model or against DuckDB over the landed
deck text.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from season import ENS_MEAN, ENS_MODEL, FRESH_CYCLES, Season, bdeck_line

TABLES = ("storms", "observations", "forecasts", "tracks", "steps")

SUMMARIES = {
    "obs_by_basin": """
        SELECT substring(s.nhc_id, 1, 2) AS basin, count(*) AS n_obs,
               max(o.intensity_kts) AS vmax, min(o.mslp_mb) AS pmin
        FROM observations o JOIN storms s ON o.storm_id = s.storm_id
        WHERE s.nhc_number < 90 GROUP BY 1""",
    "steps_by_basin": """
        SELECT substring(s.nhc_id, 1, 2) AS basin, count(*) AS n_steps,
               CAST(sum(st.intensity_kts) AS BIGINT) AS sum_vmax
        FROM steps st JOIN tracks t ON st.track_id = t.track_id
        JOIN storms s ON t.storm_id = s.storm_id GROUP BY 1""",
}

_DUCK_LINES = """
    SELECT string_split(line, ',') AS f
    FROM read_csv('{glob}', columns={{'line': 'VARCHAR'}}, delim='|', quote='',
                  escape='', header=false, auto_detect=false)
"""

DUCK_SUMMARIES = {
    "obs_by_basin": """
        WITH p AS (
            SELECT trim(f[1]) AS basin, CAST(trim(f[2]) AS INT) AS snum, trim(f[3]) AS t,
                   CAST(trim(f[9]) AS DOUBLE) AS vmax, CAST(trim(f[10]) AS DOUBLE) AS mslp
            FROM ({lines}) WHERE len(f) >= 18),
        o AS (SELECT DISTINCT basin, snum, t, vmax, mslp FROM p WHERE snum < 90)
        SELECT basin, count(*) AS n_obs, max(vmax) AS vmax, min(mslp) AS pmin
        FROM o GROUP BY basin""",
    "steps_by_basin": """
        WITH p AS (
            SELECT trim(f[1]) AS basin, CAST(trim(f[2]) AS INT) AS snum,
                   strptime(trim(f[3]), '%Y%m%d%H') AS init, trim(f[5]) AS tech,
                   CAST(trim(f[6]) AS INT) AS tau, CAST(trim(f[9]) AS DOUBLE) AS vmax
            FROM ({lines}) WHERE len(f) >= 18),
        fresh AS (
            SELECT DISTINCT basin, snum, init, tech, tau, vmax FROM p
            WHERE tech IN ('OFCL', 'AVNO', 'HWRF') AND init >= TIMESTAMP '{oldest}')
        SELECT basin, count(*) AS n_steps, CAST(sum(vmax) AS BIGINT) AS sum_vmax
        FROM fresh GROUP BY basin""",
}


class Checks:
    """Collects failed comparisons; a run is correct when none failed."""

    def __init__(self):
        self.failures: list[str] = []

    def equal(self, what: str, got, want) -> bool:
        if got != want:
            self.failures.append(f"{what}: got {_short(got)} want {_short(want)}")
            return False
        return True

    def close(self, what: str, got: list, want: list, tol: float) -> bool:
        if len(got) != len(want) or any(
            (a != b) if isinstance(a, (str, dt.datetime, int)) and not isinstance(a, float)
            else abs(a - b) > tol
            for g, w in zip(got, want) for a, b in zip(g, w)
        ):
            self.failures.append(f"{what}: got {_short(got)} want {_short(want)}")
            return False
        return True


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


def _tick(spark, tr, eng, season: Season, land: str, syntrack: bool = True) -> dict:
    from pyspark.sql import functions as F

    cycle = season.cycle
    now = F.lit(cycle)
    out = {}
    with tr.span("jobs.bdeck"):
        out["bdeck"] = eng.ingest_bdeck(os.path.join(land, "b"), now=now)
    with tr.span("jobs.adeck"):
        out["adeck"] = eng.ingest_adeck(os.path.join(land, "a"), ref_time=cycle)
    if syntrack:
        with tr.span("jobs.syntracks"):
            out["syntrack"] = _syntrack(spark, eng, land, cycle)
    with tr.span("jobs.maintenance"):
        out["maintain"] = eng.maintain(now=now)
    return out


def _syntrack(spark, eng, land: str, cycle: dt.datetime) -> dict:
    """The CLI's syntrack composition: active invests with their latest
    observed position, one candidate set per (model, init) batch."""
    from pyspark.sql import functions as F

    from tcdb_spark.jobs.syntracks import run_syntrack_job
    from tcdb_spark.operators.windows import latest_per_key
    from tcdb_spark.sources.mat_ensemble import read_mat_ensemble_distributed

    wh = eng.warehouse
    ensemble = read_mat_ensemble_distributed(spark, os.path.join(land, "m", "*.mat"))
    obs = latest_per_key(wh.read("observations"), ["storm_id"], ["datetime_utc"]).select(
        "storm_id", "latitude", "longitude", "datetime_utc")
    inv = (
        wh.read("storms").where((F.col("nhc_number") >= 90) & (F.col("status") == "Active"))
        .join(obs, "storm_id")
        .select(F.col("annual_id").cast("int").alias("annual_id"), F.col("name"),
                F.col("latitude").alias("lat"), F.col("longitude").alias("lon"),
                F.col("datetime_utc").alias("valid"))
    )
    invests = ensemble.select("model", "init").distinct().crossJoin(F.broadcast(inv))
    return run_syntrack_job(spark, ensemble, invests, wh, f"SYNTRACK__{cycle:%Y%m%d%H}")


def _reads(tr, eng, season: Season, want: dict, checks: Checks) -> None:
    for s in season.active:
        nhc = season.nhc_id(s)
        with tr.span("datasets.storm_tracks", nhc):
            rows = eng.storm_tracks(nhc).collect()
        got = sorted((r["model"], r["init"], r["hour"], r["latitude"], r["longitude"],
                      r["intensity_kts"], r["mslp_mb"]) for r in rows)
        checks.close(f"storm_tracks {nhc}", got, want["tracks"][s.key], 1e-9)
        with tr.span("datasets.storm_observations", nhc):
            rows = eng.storm_observations(nhc).collect()
        got = sorted((r["datetime_utc"], r["latitude"], r["longitude"], r["intensity_kts"],
                      r["mslp_mb"]) for r in rows)
        checks.close(f"storm_observations {nhc}", got, want["observations"][s.key], 1e-9)


def _duck_summaries(land: str, season: Season) -> dict:
    import duckdb

    con = duckdb.connect()
    out = {}
    for name, sql in DUCK_SUMMARIES.items():
        sub = "b" if name == "obs_by_basin" else "a"
        lines = _DUCK_LINES.format(glob=os.path.join(land, sub, "*.dat"))
        sql = sql.format(lines=lines, oldest=f"{season.at(-FRESH_CYCLES):%Y-%m-%d %H:%M:%S}")
        out[name] = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()
    return out


def _run_ids(eng) -> dict:
    """table -> {run_id: rows} of every table's live version."""
    import pyarrow.parquet as pq

    out = {}
    for t in TABLES:
        v = eng.warehouse.current_version(t)
        if v is None:
            continue
        col = pq.read_table(os.path.join(eng.warehouse.root, t, f"v={v}"), columns=["run_id"])["run_id"]
        out[t] = {r["values"]: r["counts"] for r in col.value_counts().to_pylist()}
    return out


def cross_season_batch(spark, work: str) -> bool:
    """One b-deck batch holding two seasons that reuse AL09 (2021 and
    2022).  Storms are identified by (basin, number, season), so the
    batch's storm summary must hold two storms."""
    from tcdb_spark.sources.atcf import read_bdeck, storms_from_bdeck

    land = os.path.join(work, "cross_season")
    os.makedirs(land, exist_ok=True)
    seasons = {2021: ("LARRY", (150, -300)), 2022: ("IAN", (130, -650))}
    for year, (name, (lat10, lon10)) in seasons.items():
        t0 = dt.datetime(year, 9, 1)
        with open(os.path.join(land, f"bal09{year}.dat"), "w") as fh:
            for i in range(8):
                fix = (lat10 + 3 * i, lon10 - 4 * i, 40 + 5 * i, 1000 - 2 * i)
                fh.write(bdeck_line("AL", 9, t0 + dt.timedelta(hours=6 * i), fix, 34, name) + "\n")
    rows = storms_from_bdeck(read_bdeck(spark, land)).select("nhc_id", "season").collect()
    return sorted((r["nhc_id"], r["season"]) for r in rows) == [("AL092021", 2021), ("AL092022", 2022)]


def _wrap_warehouse_writes(tr) -> None:
    """Traced runs only: a span around every call into the warehouse's
    two write entry points (the action that executes a MERGE plan and
    writes its version files)."""
    from tcdb_spark.sources.warehouse import Warehouse, WarehouseTransaction

    for cls in (Warehouse, WarehouseTransaction):
        def make(orig):
            def write(self, table, *a, **kw):
                with tr.span("sources.warehouse", table):
                    return orig(self, table, *a, **kw)
            return write
        cls.write = make(cls.write)


def run(ctx) -> dict:
    from tcdb_spark.api import Engine

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    checks = Checks()
    season = Season(ctx.seed, n_members=ctx.size["members"])
    model = season.model()
    land = os.path.join(work, "land")
    if tr.enabled:
        _wrap_warehouse_writes(tr)

    with tr.span("setup", "inputs") as inputs_span:
        tallies = season.land(land)
    eng = Engine(spark, os.path.join(work, "wh"))

    with tr.span("round") as round_span:
        if tr.enabled:
            versions = {t: eng.warehouse.current_version(t) for t in TABLES}
        with tr.span("tick") as tick_span:
            got = _tick(spark, tr, eng, season, land)
        if tr.enabled:
            _account_writes(eng, versions, {}, tick_span)
        for job, counts in got.items():
            checks.equal(f"{job} counts", counts, model[job])
        _reads(tr, eng, season, model, checks)

    # the ensemble-mean track against a Python mean of the generated members
    rows = eng.sql(
        "SELECT st.hour, st.latitude, st.longitude, st.intensity_kts, st.mslp_mb "
        "FROM steps st JOIN tracks t ON st.track_id = t.track_id "
        f"WHERE t.ensemble_number = {ENS_MEAN} AND t.forecast_id = xxhash64("
        f"'ens-forecast', '{ENS_MODEL}', TIMESTAMP '{season.cycle:%Y-%m-%d %H:%M:%S}')"
    ).collect()
    want = sorted((h, *(round(v, 3) for v in vals)) for h, vals in season.ensemble_mean().items())
    checks.close("ensemble mean", sorted(tuple(r) for r in rows), want, 1.5e-3)

    reads = tr.find("datasets.storm_tracks") + tr.find("datasets.storm_observations")
    result = {
        "failures": checks.failures,
        # the tick, the reads, and the cross-season batch
        "attempted": 1 + len(reads) + 1,
        "failed": 0 if cross_season_batch(spark, work) else 1,
        "setup": [inputs_span],
        "round": round_span,
        "inputs": {"year": season.year, "cycle": f"{season.cycle:%Y%m%d%H}", **tallies},
    }
    if tr.enabled:
        result["trace"] = lambda: layer_metrics(ctx, eng, season, model, checks, tick_span)
    return result


def _account_writes(eng, versions: dict, ids_before: dict, span: dict) -> None:
    """Files, bytes and rows of every version a tick wrote, and the rows
    of the live versions that carry one of the tick's run_ids."""
    import pyarrow.parquet as pq

    files, changed = [], 0
    for t, v0 in versions.items():
        v1 = eng.warehouse.current_version(t) or 0
        for v in range((v0 or 0) + 1, v1 + 1):
            files += glob.glob(os.path.join(eng.warehouse.root, t, f"v={v}", "*.parquet"))
    old_ids = set().union(*ids_before.values())
    for t, ids in _run_ids(eng).items():
        changed += sum(n for rid, n in ids.items() if rid not in old_ids)
    span["files_written"] = len(files)
    span["bytes_written"] = sum(os.path.getsize(f) for f in files)
    span["rows_written"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    span["rows_changed"] = changed


def layer_metrics(ctx, eng, season, model, checks, tick_span) -> dict:
    """Traced runs: re-ingest the landed decks and maintain again (warm,
    and a fixed point), scan the landed files to a no-op sink, run the
    summaries, then read the status store and reduce the spans to the
    per-layer metrics."""
    from pyspark.sql import functions as F

    from tcdb_spark.sources.atcf import read_adeck, read_bdeck
    from tcdb_spark.sources.mat_ensemble import read_mat_ensemble_distributed

    from trace import median

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    land = os.path.join(work, "land")
    before = _run_ids(eng)
    versions = {t: eng.warehouse.current_version(t) for t in TABLES}
    with tr.span("replay") as replay:
        got = _tick(spark, tr, eng, season, land, syntrack=False)
    _account_writes(eng, versions, before, replay)
    # the same decks again: every job returns what it returned in the
    # round (the invest maintenance deleted is re-inserted and deleted
    # again), except that the a-deck job now also counts syntrack rows
    want = dict(model, adeck={"forecasts": model["adeck"]["forecasts"], **model["syntrack"]})
    for job in got:
        checks.equal(f"replay {job} counts", got[job], want[job])
    checks.equal("replay run_ids", _run_ids(eng), before)

    n_lines = 0
    for path in glob.glob(os.path.join(land, "[ab]", "*.dat")):
        with open(path) as fh:
            n_lines += sum(1 for _ in fh)
    with tr.span("sources.atcf", "scan") as sp_atcf:
        read_bdeck(spark, os.path.join(land, "b")).write.format("noop").mode("overwrite").save()
        read_adeck(spark, os.path.join(land, "a")).write.format("noop").mode("overwrite").save()
    with tr.span("sources.mat_ensemble", "decode") as sp_mat:
        ens = read_mat_ensemble_distributed(spark, os.path.join(land, "m", "*.mat"))
        n_rows = ens.select(F.count("*")).first()[0]
    sums = {}
    for name, sql in SUMMARIES.items():
        with tr.span("api.sql", name):
            sums[name] = sorted(tuple(r) for r in eng.sql(sql).collect())
    duck = _duck_summaries(land, season)
    for name in SUMMARIES:
        checks.equal(f"summary {name}", sums[name], duck[name])
    tr.attribute()

    tick_jobs = {s["layer"]: s for s in tr.spans if s["parent"] == tick_span["id"]}
    out = {
        "jobs.cold_tick_s": tick_span["s"],
        "jobs.replay_s": replay["s"],
        "jobs.spark_jobs": tick_span["tree"]["spark_jobs"],
    }
    for layer in ("bdeck", "adeck", "syntracks", "maintenance"):
        out[f"jobs.{layer}.s"] = tick_jobs[f"jobs.{layer}"]["s"]
    round_span = tr.find("round")[0]
    out.update({f"spark.{k}": round_span["tree"][k] for k in
                ("outside_jobs_s", "task_cpu_s", "shuffle_write_mb", "input_mb")})
    out["sources.atcf.lines_per_s"] = n_lines / sp_atcf["s"]
    out["sources.mat_ensemble.rows_per_s"] = n_rows / sp_mat["s"]
    out["sources.warehouse.write_s"] = sum(
        s["s"] for s in tr.find("sources.warehouse") if _within(s, tick_span))
    out["sources.warehouse.bytes_written_mb"] = tick_span["bytes_written"] / 1e6
    out["sources.warehouse.files_written"] = tick_span["files_written"]
    out["sources.warehouse.rows_written_per_changed_row"] = (
        tick_span["rows_written"] / max(1, tick_span["rows_changed"]))
    out["sources.warehouse.replay_rows_written"] = replay["rows_written"]
    out["sources.warehouse.live_mb"] = sum(
        os.path.getsize(f) for t in TABLES for f in glob.glob(os.path.join(
            eng.warehouse.root, t, f"v={eng.warehouse.current_version(t)}", "*.parquet"))) / 1e6
    reads = tr.find("datasets.storm_tracks") + tr.find("datasets.storm_observations")
    for kind in ("storm_tracks", "storm_observations"):
        out[f"datasets.{kind}.s"] = median(s["s"] for s in reads if s["layer"] == f"datasets.{kind}")
    out["datasets.spark_jobs"] = median(s["tree"]["spark_jobs"] for s in reads)
    out["api.sql.s"] = median(s["s"] for s in tr.find("api.sql"))
    return out


def _within(span: dict, outer: dict) -> bool:
    return outer["start"] <= span["start"] and span["end"] <= outer["end"]

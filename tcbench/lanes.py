"""``curation_lanes``: one cache-cold pass over the ten oracle-registered
vector, dedup and graph lanes of the catalog, on tables generated from
the seed.

Each lane: ``clearCache``; build the DataFrame (construct); force the
executed plan (plan); run it and collect the rows (exec).  The collected
rows are then compared, outside timing, with the lane's registered
DuckDB oracle run over the same parquet tables.  Persisted RDDs the
program leaves behind are counted, never released, so a leak's cost
stays in the timings.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

GROUPS = {
    "vector": ["sim_topk_cosine", "sim_ann_pq", "sim_ann_ivfpq", "hard_negative_mining",
               "dedup_embedding_cosine"],
    "dedup": ["dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash", "winnow_fingerprint"],
    "graph": ["graph_common_neighbors"],
}
LANES = [lane for group in GROUPS.values() for lane in group]


def generate(out: str, sf: float, seed: int) -> None:
    """Tables from the seed, via the repo's shadow-testdata generator."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import gen_shadow_testdata

    os.makedirs(out, exist_ok=True)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_shadow_testdata.generate(out, sf=sf, seed=seed)


def _normalize(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str).where(pdf[c].notna(), None)
    return pdf.sort_values(list(pdf.columns), kind="mergesort",
                           na_position="last").reset_index(drop=True)


def mismatch(got, want) -> str | None:
    """Exact comparison after column-name and row sort (floats compared
    exactly: every oracle rounds on both sides)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            na, nb = _null(a), _null(b)
            if na and nb:
                continue
            if na != nb or a != b:
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def _null(v) -> bool:
    import pandas as pd

    return v is None or (not isinstance(v, (list, tuple, dict)) and bool(pd.isna(v)))


def _warm_up(spark) -> None:
    """First-use costs the first lane would otherwise carry alone: a
    shuffle, Arrow collection and codegen of a small plan."""
    spark.range(4000).selectExpr("id % 17 AS k").groupBy("k").count().toPandas()


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tcdb_spark.schemas import TESTDATA_TABLES

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    sf = ctx.size["sf"]
    data = os.path.join(work, f"sf{sf}")
    with tr.span("setup", "inputs") as inputs_span:
        generate(data, sf, ctx.seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    with tr.span("setup", "warm_up") as warm_span:
        _warm_up(spark)
    jsc = spark.sparkContext._jsc
    rdds_before = jsc.getPersistentRDDs().size()
    results, failed = {}, 0
    with tr.span("round") as round_span:
        for lane in LANES:
            spark.catalog.clearCache()
            with tr.span("plans", lane) as sp:
                try:
                    t0 = time.perf_counter()
                    df = queries[lane](spark, data)
                    t1 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    results[lane] = df.toPandas()
                    t3 = time.perf_counter()
                    sp.update(construct_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
                except Exception as e:  # noqa: BLE001 - a failed lane is counted, not fatal
                    print(f"tcbench: lane {lane} failed: {e!r}"[:500], file=sys.stderr)
                    failed += 1
            sp["persisted_rdds"] = jsc.getPersistentRDDs().size() - rdds_before

    failures = []
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for lane, got in results.items():
        why = mismatch(got, con.execute(oracles[lane]).fetchdf())
        if why:
            failures.append(f"lane {lane} differs from its oracle: {why}")
    con.close()

    lane_spans = tr.find("plans")
    result = {
        "failures": failures,
        "attempted": len(LANES),
        "failed": failed,
        "setup": [inputs_span, warm_span],
        "round": round_span,
        "inputs": {"sf": sf, "tables": TESTDATA_TABLES},
    }
    if tr.enabled:
        result["trace"] = lambda: layer_metrics(ctx, data, lane_spans)
    return result


def layer_metrics(ctx, data: str, lane_spans: list[dict]) -> dict:
    from tcdb_spark.operators.graph import wedge_candidate_count
    from tcdb_spark.plans.queries_stats import _CN_DEG_CAP, copurchase_edges

    tr = ctx.tracer
    wedges = wedge_candidate_count(copurchase_edges(ctx.spark, data), deg_cap=_CN_DEG_CAP)
    tr.attribute()
    by_lane = {s["name"]: s for s in lane_spans}
    out = {f"plans.{g}_lanes_s": sum(by_lane[lane]["s"] for lane in lanes)
           for g, lanes in GROUPS.items()}
    for lane in LANES:
        s = by_lane[lane]
        for part in ("construct_s", "plan_s", "exec_s"):
            out[f"plans.{lane}.{part}"] = s.get(part, 0.0)
        out[f"plans.{lane}.spark_jobs"] = s["tree"]["spark_jobs"]
    out["plans.persisted_rdds_left"] = lane_spans[-1]["persisted_rdds"]
    out["operators.graph.wedge_candidates"] = wedges
    round_span = tr.find("round")[0]
    out.update({f"spark.{k}": round_span["tree"][k] for k in
                ("outside_jobs_s", "task_cpu_s", "shuffle_write_mb", "input_mb")})
    return out

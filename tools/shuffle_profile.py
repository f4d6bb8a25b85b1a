"""Measure, don't guess: per-query shuffle/input byte accounting for the
headline queries, taken from Spark's status REST API after executing
each plan to completion at $SPARK_GRAFT_SF_DIR (default sf0.1).

Writes SHUFFLE_PROFILE.md: for every headline query, the bytes actually
read from parquet, written to / read back from shuffle, and the stage
count.  This is the ground truth behind the plan-shape claims in
EXPLAINS.md / PLAN_LINT.md — a query whose shuffle bytes rival its
input bytes is moving the whole table through the network at 100 TB.

Usage: python tools/shuffle_profile.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _stages(ui: str, app: str) -> dict[int, dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
        data = json.loads(r.read())
    return {s["stageId"]: s for s in data}


def fmt_bytes(n: float) -> str:
    for unit in ["B", "KiB", "MiB", "GiB"]:
        if n < 1024:
            return f"{n:.1f} {unit}"
        n /= 1024
    return f"{n:.1f} TiB"


def main() -> None:
    from bench import HEADLINE, headline_impls

    from tcdb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(
        "shuffle-profile", extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4057"}
    )
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    QUERIES = headline_impls()  # bench's production-config overrides
    # warm-up so file listing / codegen compilation stages don't pollute q1
    QUERIES["q1_pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    rows = []
    extras = [
        "graph_pagerank",
        "cdc_apply",
        "conversation_assembly",
        # round-4 session-4 lanes
        "graph_triangles",
        "phrase_search",
        "interval_overlap_join",
        "cross_source_overlap",
        "market_basket_lift",
        "sliding_distinct_hll",
        "label_centroid_cosine",
        "weighted_sample_ares",
        "merge_sync_snapshot",
        "snapshot_diff",
    ]
    for name in HEADLINE + [e for e in extras if e not in HEADLINE]:
        seen = set(_stages(ui, app))
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        after = _stages(ui, app)
        new = [s for sid, s in after.items() if sid not in seen]
        rows.append(
            (
                name,
                sum(s["inputBytes"] for s in new),
                sum(s["shuffleWriteBytes"] for s in new),
                sum(s["shuffleReadBytes"] for s in new),
                len(new),
            )
        )
        print(rows[-1], flush=True)

    with open(os.path.join(REPO, "SHUFFLE_PROFILE.md"), "w") as f:
        f.write(
            "# SHUFFLE_PROFILE — measured bytes per headline query\n\n"
            f"`python tools/shuffle_profile.py {sf_dir}` — Spark status-API\n"
            "stage metrics summed per query (complete stages only; AQE\n"
            "re-used exchanges count once).  Shuffle-write ≈ shuffle-read;\n"
            "both far below input bytes means the plan aggregates/filters\n"
            "before moving data — the property that survives a 100 TB\n"
            "scale-up.  `shuffle=0` rows are broadcast-only or scan-local\n"
            "plans.\n\n"
            "| query | input read | shuffle write | shuffle read | stages |\n"
            "|---|---|---|---|---|\n"
        )
        for name, ib, sw, sr, ns in rows:
            f.write(
                f"| {name} | {fmt_bytes(ib)} | {fmt_bytes(sw)} | {fmt_bytes(sr)} | {ns} |\n"
            )
    print("wrote SHUFFLE_PROFILE.md")


if __name__ == "__main__":
    main()

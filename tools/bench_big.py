"""Big-bench: the headline catalog queries at an sf1-equivalent scale.

sub-second sf0.1 timings are noise-dominated; plan regressions only move
wall-time when the data is 10x bigger.  This tool materializes a
DETERMINISTIC sf1-equivalent dataset by replicating the sf0.1 parquet
10x with per-copy key offsets (joins keep their selectivity inside each
copy; dims region/nation stay as-is, exactly like TPC-H scaling), then
runs bench.py against it and appends the JSON line to BENCH_BIG.md so
rounds accumulate a regression series at a scale where plans matter.

Usage: python tools/bench_big.py [--rebuild] [round_tag]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BIG_DIR = "/tmp/tcdb_bench_sf1"
COPIES = 10

# table -> {column: offset_base}; offset for copy i is i * base.
# Bases are powers of 10 above the sf0.1 max so copies never collide and
# derivations on key arithmetic (doc_id % 10, +1_000_000 planting) keep
# their residues.
KEYED = {
    "customer": {"c_custkey": 100_000},
    "supplier": {"s_suppkey": 10_000},
    "part": {"p_partkey": 100_000},
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "lineitem": {"l_orderkey": 1_000_000, "l_partkey": 100_000, "l_suppkey": 10_000},
    "events": {"event_id": 1_000_000, "user_id": 100_000},
    "documents": {"doc_id": 10_000},
    "embeddings": {"vec_id": 100_000},
}
DIMS = ["region", "nation"]


def build(sf_dir: str = "/root/testdata/sf0.1") -> None:
    from pyspark.sql import functions as F

    from tcdb_spark.plans.catalog import load_tables
    from tcdb_spark.session import get_spark

    spark = get_spark("bench-big-build")
    os.makedirs(BIG_DIR, exist_ok=True)
    for t in DIMS:
        df = load_tables(spark, sf_dir, t)[t]
        df.write.mode("overwrite").parquet(f"{BIG_DIR}/{t}.parquet")
        print(f"{t}: copied dim", flush=True)
    for t, offsets in KEYED.items():
        df = load_tables(spark, sf_dir, t)[t]
        copies = []
        for i in range(COPIES):
            c = df
            for col, base in offsets.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * base))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{BIG_DIR}/{t}.parquet")
        print(f"{t}: x{COPIES} -> {BIG_DIR}", flush=True)
    spark.stop()


def main() -> None:
    rebuild = "--rebuild" in sys.argv
    tags = [a for a in sys.argv[1:] if not a.startswith("--")]
    tag = tags[0] if tags else "r?"
    if rebuild and os.path.exists(BIG_DIR):
        shutil.rmtree(BIG_DIR)
    if not os.path.exists(f"{BIG_DIR}/lineitem.parquet"):
        build()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=BIG_DIR)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")], env=env, capture_output=True, text=True
    )
    line = out.stdout.strip().splitlines()[-1]
    rec = json.loads(line)
    rec["sf"] = "1.0-equivalent (10x replicated sf0.1)"
    rec["round"] = tag
    print(json.dumps(rec))
    with open(os.path.join(REPO, "BENCH_BIG.md"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()

"""Catalog-wide physical-plan lint: execute EVERY catalog query and
flag scale anti-patterns in the final adaptive plan.

Flags:
- CartesianProduct — unbounded pair explosion.
- BroadcastNestedLoopJoin — legitimate ONLY for 1-row scalar-threshold
  cross joins (allowlisted per query); anywhere else it means a join
  lost its equi-condition.
- BatchEvalPython / row-at-a-time Python UDF — the interpreted slow
  path; Arrow ops (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas)
  are the sanctioned Python escape hatch and are reported but not
  flagged.
- Retry-nondeterminism (round-8 audit): at cluster scale stragglers
  RECOMPUTE partitions, so any expression whose value depends on
  partition order or on a per-task RNG silently breaks exactly-once
  output.  Two rules over the OPTIMIZED logical plan: (a) rand()/
  randn()/uuid()/shuffle()/monotonically_increasing_id/
  spark_partition_id anywhere (sampling must key on xxhash64(natural
  key, seed) instead — the enforced repo rule); (b) first()/last()/
  any_value()/collect_list()/collect_set() inside an Aggregate unless
  wrapped in array_sort()/sort_array() (window-function first/last
  over an explicit ordering are fine and not flagged).

Writes PLAN_LINT.md (per-query node counts) and exits 1 on any
non-allowlisted flag, so it doubles as a regression gate.

Usage: python tools/plan_lint.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries whose plan legitimately contains a 1-row broadcast nested-loop
# cross join (scalar threshold / global statistic broadcast back).
SCALAR_CROSS_OK = {
    "q11_important_stock",
    "q15_top_supplier",
    "q22_global_sales_opportunity",
    "mixture_sample",
    "quality_percentile_cut",
    "dsir_importance_weights",
    "lm_bigram_nll",
    "heavy_hitters",  # 1-row total-count threshold cross (operators/sketch.py)
    "unigram_drift",  # 1-row (vocab, totals) scalar cross
    "corpus_stats_summary",
    "contamination_check",
    "bm25_rank",  # 1-row corpus-stats (N, avgdl) broadcast cross
    "hybrid_rrf_rank",  # bm25 stats cross + 1-row query-vector cross
    "psi_drift",  # 1-row (min,max) range + 1-row pool-totals broadcasts
    "negative_pair_sample",  # 1-row corpus-count broadcast cross (ring modulus)
    "funnel_conversion",  # three 1-row stage counts crossed into one row
    "mix_temperature_sample",  # 1-row sum-of-isqrt quota denominator cross
    # 1-row live-max-timestamp threshold broadcasts:
    "filter_freshness",
    "merge_delete_old",
    # bounded broadcast query SET (N_QUERIES rows) x base scan — the
    # documented exact brute-force baseline the ANN queries are
    # recall-gated against; the base side never shuffles.
    "sim_topk_cosine",
    # same bounded query-set cross: ADC is a SCAN accelerator (m code
    # lookups instead of d multiplies per candidate), not a candidate
    # pruner — every candidate is scored cheaply, the shortlist prunes
    # the expensive exact re-rank. The base side never shuffles; cell
    # pruning composes via IVF when needed.
    "sim_ann_pq",
    # 2-query x 8-candidate integer FIXTURE cross (the MMR golden);
    # production pools come from an upstream top-n, never a cross
    "mmr_diversify",
    # 1-row basket-total broadcast cross (the lift denominator)
    "market_basket_lift",
    # bounded broadcast query SET x base scan (same shape as
    # sim_topk_cosine — the metrics run on the exact ranking)
    "retrieval_metrics",
    # 1-row class-centroid array broadcast cross
    "calibration_bins",
    # bounded |cohorts|-row broadcast dim cross over the pre-aggregated
    # DISTINCT (type, value) frame — the leave-one-out ECDF tagging
    # (queries_stats.py); fan-out is |cohorts| x distinct frame, audited
    "ks_drift",
    "rank_sum_shift",
    # binned production twins: 1-row (min,max) edge broadcast + the same
    # |cohorts|-row dim cross, but over at most |bins| distinct values
    "ks_drift_binned",
    "rank_sum_binned",
    # 1-row per-arm-denominator broadcast cross (the z-test n_a/n_b)
    "ab_test_proportions",
    # 1-row ratings-total normalization broadcast cross (MM twin)
    "bradley_terry_distributed",
}

# Per-query wall-time ceiling at sf0.01 (seconds). The driver's 50-row
# sample rotates, so a slow outlier anywhere in the catalog can surface
# in CORRECTNESS_r{N}; the lint executes every query anyway, so it
# enforces the budget in the same pass. Generous enough for the
# iterative lanes (25-iteration MM chains), strict enough to catch a
# runaway join before the driver does.
QUERY_BUDGET_S = 120.0

# Arrow-based Python ops are design choices documented per operator.
ARROW_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# Expressions that diverge when a task is retried / a stage recomputed.
NONDET_EXPR_PATTERNS = (
    r"(?<![a-z_])rand\(",
    r"(?<![a-z_])randn\(",
    r"(?<![a-z_])uuid\(",
    r"(?<![a-z_])shuffle\(",
    r"monotonically_increasing_id",
    r"spark_partition_id",
)

# Aggregate-context order-sensitive calls; sort-wrapped collects are
# exempt (array_sort/sort_array canonicalize the partition-order
# accident away), as is Catalyst's OWN multi-distinct rewrite artifact
# `first(<agg>(...)) FILTER (WHERE gid=...)` — first over the single
# expanded-group aggregate value, deterministic by construction.
_ORDER_AGG_RE = re.compile(r"(?<![a-z_])(first|last|any_value|collect_list|collect_set)\(")
_SORTED_COLLECT_RE = re.compile(r"(?:array_sort|sort_array)\((?:collect_list|collect_set)\(")
_DISTINCT_REWRITE_RE = re.compile(r"(?:first|last)\((?:count|min|max|sum|avg)\(")


def _retry_nondeterminism(opt_plan: str) -> list[str]:
    """Violation strings for the two retry-determinism rules over an
    optimized-logical-plan dump."""
    out = []
    for pat in NONDET_EXPR_PATTERNS:
        if re.search(pat, opt_plan):
            out.append(
                f"nondeterministic expression {pat!r} in optimized plan "
                "(diverges under task retry; key on xxhash64 instead)"
            )
    for line in opt_plan.splitlines():
        if not line.lstrip(" +-:").startswith("Aggregate"):
            continue
        hits = (
            len(_ORDER_AGG_RE.findall(line))
            - len(_SORTED_COLLECT_RE.findall(line))
            - len(_DISTINCT_REWRITE_RE.findall(line))
        )
        if hits > 0:
            out.append(
                f"{hits} order-sensitive aggregate call(s) "
                "(first/last/any_value/unsorted collect) — partition-order-"
                "dependent under retry; use min/max/min_by/max_by or wrap "
                "the collect in array_sort"
            )
    return out

# Queries allowed an UNPARTITIONED window over UNBOUNDED input (the
# single-reducer sort shape that dies at corpus scale). Only the
# documented global-cumsum attestation twin qualifies; its sharded
# production twin is pack_sequences_sharded.
# sliding_distinct_hll: the window input is one row per calendar DAY
# (a groupBy-day aggregate of KB-sized HLL registers) — physically
# bounded cardinality regardless of corpus size, so the lint's
# "unbounded subtree" heuristic is a false positive there.
GLOBAL_WINDOW_OK = {"pack_sequences", "sliding_distinct_hll"}

# Logical nodes that bound a subtree to driver-scale row counts, making
# a global window above them safe (rank_leg's top-k then rank pattern).
_BOUNDING_NODES = {"GlobalLimit", "LocalRelation", "OneRowRelation"}


def _unbounded_global_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec whose subtree has
    no row-bounding node (limit / literal relation / grand-total
    aggregate) — i.e. true single-reducer sorts over unbounded input."""

    def subtree_bounded(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls in _BOUNDING_NODES:
            return True
        if cls == "Aggregate" and node.groupingExpressions().isEmpty():
            return True  # grand total: one row
        return any(
            subtree_bounded(node.children().apply(i))
            for i in range(node.children().size())
        )

    offenders = 0

    def walk(node):
        nonlocal offenders
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            if not any(
                subtree_bounded(node.children().apply(i))
                for i in range(node.children().size())
            ):
                offenders += 1
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return offenders


def main() -> None:
    from tcdb_spark.plans import QUERIES
    from tcdb_spark.session import get_spark

    from pyspark.sql.types import ArrayType, MapType, StructType

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-lint")
    rows, violations = [], []
    import time

    for name, fn in sorted(QUERIES.items()):
        try:
            t0 = time.monotonic()
            df = fn(spark, sf)
            df.collect()
            elapsed = time.monotonic() - t0
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: failed to execute ({e})")
            continue
        if elapsed > QUERY_BUDGET_S:
            violations.append(
                f"{name}: {elapsed:.1f}s at sf0.01 exceeds the "
                f"{QUERY_BUDGET_S:.0f}s catalog budget"
            )
        # the driver's pandas canonicalizer sorts/hashes output values:
        # complex-typed columns are unhashable and crash it (round-2
        # embedding_pca finding) — catalog outputs must be scalar
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            violations.append(
                f"{name}: complex-typed output columns {complex_cols} "
                "(driver canonicalizer requires scalar columns)"
            )
        shuffles = len(re.findall(r"(?<![A-Za-z])Exchange (hash|range|Single)", plan))
        bcasts = plan.count("BroadcastExchange")
        cart = plan.count("CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        smj = plan.count("SortMergeJoin")
        pyrow = plan.count("BatchEvalPython")
        arrow = sum(plan.count(n) for n in ARROW_NODES)
        rows.append(
            (name, shuffles, bcasts, smj, bnlj, cart, pyrow, arrow, f"{elapsed:.2f}")
        )
        if cart:
            violations.append(f"{name}: CartesianProduct in final plan")
        if bnlj and name not in SCALAR_CROSS_OK:
            violations.append(f"{name}: BroadcastNestedLoopJoin (not allowlisted)")
        if pyrow:
            violations.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        try:
            gw = _unbounded_global_windows(df)
        except Exception:  # noqa: BLE001 — never let the walker mask a lint run
            gw = 0
        if gw and name not in GLOBAL_WINDOW_OK:
            violations.append(
                f"{name}: unpartitioned window over unbounded input "
                f"({gw} node(s) — single-reducer sort at scale)"
            )
        try:
            opt = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:  # noqa: BLE001
            opt = ""
        for v in _retry_nondeterminism(opt):
            violations.append(f"{name}: {v}")

    # CI-style completeness gate (round-2 verdict #2): the audit must
    # cover the ENTIRE catalog — a stale or partial run is itself a
    # violation, so PLAN_LINT.md can never silently lag the catalog.
    if len(rows) != len(QUERIES):
        audited = {r[0] for r in rows}
        missing = sorted(set(QUERIES) - audited)
        violations.append(
            f"audit covered {len(rows)}/{len(QUERIES)} catalog queries; missing: {missing}"
        )

    with open(os.path.join(REPO, "PLAN_LINT.md"), "w") as f:
        f.write(
            "# PLAN_LINT — executed-plan audit of every catalog query\n\n"
            f"Generated by `python tools/plan_lint.py {sf}`. Final adaptive\n"
            "plans only. BNLJ is allowlisted solely for 1-row scalar-threshold\n"
            "cross joins; row-at-a-time Python UDFs are never allowed; Arrow\n"
            "ops are the sanctioned Python path (counted, not flagged).\n"
            "Catalog outputs must be scalar-typed (the driver canonicalizer\n"
            "cannot hash array/map/struct columns), and the audit fails unless\n"
            "it covers every catalog query.  Each query also carries a\n"
            f"{QUERY_BUDGET_S:.0f}s wall-time budget at sf0.01 (a slow outlier\n"
            "anywhere in the catalog can rotate into the driver sample).\n\n"
            "| query | shuffles | broadcasts | SMJ | BNLJ | cartesian | pyUDF | arrow | sec |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        f.write(f"\n{len(rows)} queries audited; violations: {len(violations)}\n")
        for v in violations:
            f.write(f"- VIOLATION {v}\n")
    print(f"{len(rows)} audited, {len(violations)} violations")
    for v in violations:
        print("VIOLATION", v)
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()

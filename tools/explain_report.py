"""Generate EXPLAINS.md: formatted physical plans for the headline
queries with the scale-relevant facts extracted (broadcasts, exchanges,
pushed filters, read schemas, codegen spans).

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

INTERESTING = [
    "join_track_5way",
    "q1_pricing_summary",
    "agg_count_by_model",
    "topk_latest_event",
    "join_interval_1h",
    "join_asof",
    "join_asof_bucketed",
    "join_entity_resolution",
    "merge_upsert",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "curation_pipeline",
    "contamination_check",
    "window_zscore",
    "dedup_ngram_jaccard",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_priority_exists",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customers",
    "rollup_incremental",
    "scd2_history",
    "lm_bigram_nll",
    "dsir_importance_weights",
    "salted_join_equivalence",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_waiting_suppliers",
    "chunk_dedup",
    "mixture_sample",
    "span_dedup",
    "heavy_hitters",
    "unigram_drift",
    "variant_shred_props",
    "span_scrub",
    "token_budget_sample",
    "domain_cap_skewsafe",
    "embedding_pca",
    "conversation_assembly",
    "negative_pair_sample",
    "training_order_shuffle",
    "funnel_conversion",
    "mad_outlier_filter",
    "graph_pagerank",
    "cdc_apply_soft",
    "approx_quantile_hist",
    "grouped_arrow_ols",
    # round-3 additions
    "sim_ann_lsh",
    "sim_ann_ivf",
    "hard_negative_mining",
    "embedding_pca_decorrelation",
    "hybrid_rrf_rank",
    "ewma_smooth",
    "psi_drift",
    # round-4 additions
    "pack_sequences_sharded",
    "warehouse_skipping_lookup",
    "text_vocab_topk",
    "knn_join",  # blocked production config (bench impl override)
    # round-4 session-4 additions
    "graph_triangles",
    "phrase_search",
    "sliding_distinct_hll",
    "weighted_sample_ares",
    "interval_overlap_join",
    "market_basket_lift",
    "cross_source_overlap",
    "label_centroid_cosine",
    "merge_sync_snapshot",
    "snapshot_diff",
    "sax_similarity_candidates",
    "hierarchy_roots",
    # round-5 additions
    "ks_drift_binned",
    "rank_sum_binned",
    "bradley_terry_distributed",
    "graph_common_neighbors",
    "image_phash_dedup",
    # round-8 additions (web-corpus family)
    "html_extract_text",
    "url_normalize_canonical",
    "url_dedup_canonical",
    "warc_roundtrip_extract",
    "sketch_source_overlap",
    # round-8 session-3 additions: the rollup ladder (one Expand + one
    # aggregate for all rungs) and the null-safe suppression semi-join
    "privacy_k_anonymity",
    "privacy_suppress_small_groups",
    "preference_pairs_topk",
]


def plan_text(df) -> str:
    # Execute first: with AQE on, the pre-execution plan is
    # isFinalPlan=false and omits codegen-id annotations entirely —
    # explain() only shows the real physical strategy (and codegen spans)
    # for a plan that has actually run.
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict[str, int | list[str]]:
    # An executed AdaptiveSparkPlan prints the Final Plan tree, the
    # Initial Plan tree, then ONE numbered detail list covering both.
    # Count operators from the Final Plan tree only (what actually ran),
    # and restrict codegen ids to detail entries whose op number appears
    # in that tree.
    tree = plan.split("== Initial Plan ==")[0]
    final_ops = set()
    for line in tree.splitlines():
        m = re.match(r"[\s:+\-|]*(?:\* )?(\w+)", line)
        num = re.search(r"\((\d+)\)", line)
        if m and num:
            final_ops.add((m.group(1), num.group(1)))
    final_nums = {num for _, num in final_ops}
    codegen_ids = {
        cid
        for num, cid in re.findall(r"\((\d+)\) \w+[^\n]*\[codegen id : (\d+)\]", plan)
        if num in final_nums
    }
    return {
        "broadcast_joins": sum(1 for op, _ in final_ops if op == "BroadcastHashJoin"),
        "sortmerge_joins": sum(1 for op, _ in final_ops if op == "SortMergeJoin"),
        "shuffle_exchanges": sum(1 for op, _ in final_ops if op == "Exchange"),
        "codegen_spans": len(codegen_ids),
        "pushed_filters": sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))[:4],
        "read_schemas": sorted(set(re.findall(r"ReadSchema: (struct<[^\n]{0,120})", plan)))[:6],
    }


def main() -> None:
    from bench import headline_impls
    from tcdb_spark.session import get_spark

    # bench's production-config overrides (pruned ANN lanes, blocked
    # knn_join) so the report shows the plans users actually run
    QUERIES = headline_impls()

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain-report")
    out = ["# EXPLAINS — physical plans of the headline queries", ""]
    out.append(
        f"Generated by `tools/explain_report.py` at `{sf_dir}`. The summary "
        "lines are what matters at 100 TB: dims broadcast, facts pruned at "
        "the scan, codegen spans wide, no accidental shuffles.\n"
    )
    for name in INTERESTING:
        df = QUERIES[name](spark, sf_dir)
        plan = plan_text(df)
        s = summarize(plan)
        out.append(f"## {name}\n")
        out.append(
            f"- broadcast joins: {s['broadcast_joins']}, sort-merge joins: "
            f"{s['sortmerge_joins']}, shuffle exchanges: {s['shuffle_exchanges']}, "
            f"whole-stage-codegen spans: {s['codegen_spans']}"
        )
        if s["pushed_filters"]:
            out.append(f"- pushed filters: {'; '.join(s['pushed_filters'])}")
        for rs in s["read_schemas"]:
            out.append(f"- scan: `{rs}`")
        out.append("")
        out.append("<details><summary>full plan</summary>\n")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("</details>\n")
    with open(os.path.join(REPO, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(INTERESTING)} queries)")


if __name__ == "__main__":
    main()

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with the no-op sink (full plan runs,
nothing collected to the driver), timed after a session warm-up.  Since
round 9 every timed sample runs cache-cold (spark.catalog.clearCache()
first — a no-op for lanes that persist nothing) and the timed impls are
the oracle-registered catalog queries (headline_impls is the identity
map); warm steady-state and pruned-config figures ride the secondary
"warm_samples" / "pruned_config_samples" fields.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "join_track_5way",
    "q1_pricing_summary",
    "agg_count_by_model",
    "agg_mode",
    "topk_latest_event",
    "pivot_event_values",
    "join_interval_1h",
    "join_asof",
    "join_entity_resolution",
    "merge_upsert",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_quality_score",
    "text_lang_id",
    "fn_cycle_floor",
    "sim_topk_cosine",
    "sim_ann_lsh",
    # round-4 widening (VERDICT r3 item 7): the round-3 lanes join the
    # frozen set so their regressions are visible round-over-round.
    # Earlier entries keep their order — the original 20 stay directly
    # comparable to BENCH_r01..r03.
    "hybrid_rrf_rank",
    "psi_drift",
    "ewma_smooth",
    "pack_sequences_sharded",
    "knn_join",
    # round-5 widening (VERDICT r4 item 6): the round-4 lanes join the
    # frozen set; positions 1-20 and 1-25 stay comparable via the
    # core20_total / core25_total subtotals.
    "ks_drift",
    "bradley_terry_ratings",
    "retrieval_metrics",
    "image_phash_dedup",
    "graph_common_neighbors",
    "winnow_fingerprint",
    # round-6 widening: the skew-resistant as-of twin joins the frozen
    # set (positions 1-31 stay comparable via core*_total subtotals)
    "join_asof_bucketed",
    # round-7 widening: the nearest-direction skew-resistant as-of twin
    # (positions 1-32 stay comparable via core32_total)
    "join_asof_nearest_bucketed",
    # round-7 session-2 widening: PQ ANN (timed in its pruned ADC
    # config, like the other ANN lanes), frozen-centroid k-means
    # assignment, and the two scan-fused text-quality lanes
    # (positions 1-33 stay comparable via core33_total)
    "sim_ann_pq",
    "cluster_kmeans_assign",
    "quality_gopher_rules",
    "text_char_entropy",
    "sim_ann_ivfpq",
    # round-7 session-3 widening: spectral-audio near-dup, video
    # near-dup, and the Bloom membership screen (positions 1-38 stay
    # comparable via core38_total)
    "audio_near_dup_pairs",
    "video_near_dup",
    "bloom_prefilter_member",
    # round-8 widening: the web-corpus stack (positions 1-41 stay
    # comparable via core41_total) — parser-bound HTML extraction +
    # boilerplate filtering, codegen URL canonicalization/dedup, WARC
    # container round trip, KMV set-overlap sketches
    "html_extract_text",
    "html_boilerplate_filter",
    "url_dedup_canonical",
    "warc_roundtrip_extract",
    "sketch_source_overlap",
    # round-8 session-3 widening (positions 1-46 stay comparable via
    # core46_total): privacy rollup audit, Arrow zlib quality signal,
    # cross-engine NFC attestation, capped DPO pair expansion
    "privacy_k_anonymity",
    "text_compression_ratio",
    "text_unicode_nfc",
    "preference_pairs_topk",
]


def run_once(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def headline_impls() -> dict:
    """The timed implementations are the ORACLE-REGISTERED catalog
    queries — the identity map over the catalog (VERDICT r8 #3: the
    bench must time the code the driver verifies; until round 9 five
    lanes timed unregistered pruned/arrow twins the oracle never saw).
    One legacy label: the bench key ``knn_join`` (frozen since round 4
    — keys can never be renamed) times the registered
    ``hard_negative_mining`` lane, which is the same k-NN-join operator
    under its catalog name.  The pruned production configurations are
    still measured every run — as the clearly-separated
    ``pruned_config_samples`` diagnostics (recall-gated in pytest, not
    oracle-attested), continuing the r8 per-lane series under
    ``<lane>_pruned`` labels."""
    from tcdb_spark.plans import QUERIES

    impls = dict(QUERIES)
    impls["knn_join"] = QUERIES["hard_negative_mining"]
    return impls


def pruned_impls() -> dict:
    """Production (pruned multi-probe) configurations of the four
    lanes whose headline slot now times the registered exact-mode impl
    (see headline_impls).  These are the SAME functions the r1-r8 bench
    timed under the plain lane names, so each r9
    ``pruned_config_samples`` entry continues that lane's old series
    1:1.  Recall is pinned in pytest (tests/test_scale_ops.py,
    tests/test_training_ops.py), not by the oracle — which is exactly
    why they no longer ride the headline."""
    from tcdb_spark.plans.queries_sim import (
        hard_negative_mining_pruned,
        sim_ann_ivfpq_pruned,
        sim_ann_lsh_pruned,
        sim_ann_pq_pruned,
    )

    return {
        "sim_ann_lsh_pruned": sim_ann_lsh_pruned,
        "knn_join_pruned": hard_negative_mining_pruned,
        "sim_ann_pq_pruned": sim_ann_pq_pruned,
        "sim_ann_ivfpq_pruned": sim_ann_ivfpq_pruned,
    }


# loadavg above this at bench START means the box is running something
# else and every lane will read uniformly inflated (r5 recorded 1.3x, r6
# ~1.8x from exactly this).  The artifact is marked contaminated rather
# than suppressed — the driver must still record something — and
# tools/refresh_artifacts.py refuses to bless a contaminated BENCH file.
CONTAMINATION_LOADAVG = 1.5

# Lanes that persist() a shared intermediate internally (the graph
# lane's co-purchase edge table).  Spark's CacheManager matches cache
# entries by CANONICALIZED logical plan, so every call of the lane
# after the first hits the cache primed by the warmup pass — the timed
# samples therefore measure the STEADY-STATE query cost (wedge
# enumeration + pair aggregation + ranking) with the edge table
# materialized, which is both (a) uniform across samples — identical
# work from identical state, the r7 #4 stability requirement — and
# (b) the realistic deployment shape (at scale the edge set is a
# maintained artifact, like the video lane's persisted frame-hash
# table).  The r8s1 clearCache-between-samples experiment measured the
# full cold pipeline instead (and, worse, mostly the JIT: 58-110 s per
# sample on a fresh JVM vs 20.7 s genuinely-cold-but-settled vs ~10 s
# warm — see the settling note in the warmup loop), incomparable with
# every prior round's recordings.  ROUND 9 (VERDICT r8 #2): warm
# steady-state is a dishonest headline for a persist-bearing lane, so
# EVERY timed sample of EVERY lane now runs after
# spark.catalog.clearCache() — a no-op for lanes that persist nothing
# (their numbers are unchanged), while persist-bearing lanes pay their
# full pipeline from parquet per sample.  The JIT settle below keeps
# the samples settled-cold rather than fresh-JVM-cold (the r8s1 trap
# above).  The warm steady-state figure is still recorded for heavy
# lanes as the secondary "warm_samples" field (continuing the r1-r8
# warm series); the pre-r9 "cold_samples" field now mirrors the
# settled-cold headline min.
HEAVY_LANES = {"graph_common_neighbors"}


def calibrate_cpu() -> float:
    """Single-core md5 throughput in MB/s — a box-speed reference
    stamped into every artifact.  Recording boxes differ round to
    round (r8s2 measured q1 at 4x the r7 idle box's time on a fresh
    VM with loadavg 0); a lane-time swing that tracks the calibration
    swing is a BOX change, not a plan regression.  md5 because the
    winnow/dedup hot paths are md5-bound, so it tracks the relevant
    hardware axis."""
    import hashlib

    block = b"\xa5" * (1 << 20) * 8  # 8 MiB
    # one untimed pass to fault the buffer in
    hashlib.md5(block).digest()
    n = 8
    t0 = time.perf_counter()
    for _ in range(n):
        hashlib.md5(block).digest()
    dt = time.perf_counter() - t0
    return round(n * 8 / dt, 1)


def _calib_worker(_arg) -> float:
    """One worker of the parallel calibration: md5 MB/s over ~1 s."""
    import hashlib

    block = b"\xa5" * (1 << 23)
    hashlib.md5(block).digest()
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 1.0:
        hashlib.md5(block).digest()
        n += 1
    return n * 8 / (time.perf_counter() - t0)


def calibrate_cpu_parallel(nproc: int) -> tuple[float, float]:
    """(aggregate, min-per-core) md5 MB/s with ``nproc`` concurrent
    workers — the all-cores box-speed reference the single-core calib
    cannot give.  Added r8s5 after a recording where loadavg_before was
    0.22 and calib_md5_mbps was NORMAL yet every lane read ~1.26x and
    the per-core floor had collapsed (host-level neighbor contention:
    single-core turbo hides it, 32-way residency does not).  A min far
    below the median marks cores being stolen mid-run; compare
    par/single ratios across rounds before attributing a uniform lane
    shift to the code."""
    import multiprocessing as mp

    # spawn, not fork: the post-run probe runs with a live JVM attached
    # to this process, and forking a JVM-bearing driver is not
    # fork-safe; spawned children just re-import this module (no side
    # effects) and hash
    with mp.get_context("spawn").Pool(nproc) as pool:
        rates = pool.map(_calib_worker, range(nproc))
    return round(sum(rates), 1), round(min(rates), 1)


def main() -> None:
    # external-contention sample FIRST THING — before the SparkSession
    # (whose JVM startup burst already moves the 1-min average) and
    # before the warmup pass (which saturates a 32-cpu box's loadavg),
    # so the reading reflects EXTERNAL load only (ADVICE r6).
    load_before = os.getloadavg()[0]
    calib = calibrate_cpu()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    calib_par, calib_par_min = calibrate_cpu_parallel(cpus)

    from tcdb_spark.plans import QUERIES
    from tcdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("tcdb-bench")

    impls = headline_impls()

    # Warm up with one UNTIMED pass of every lane: a single q1 warmup
    # leaves the first timed lanes paying JIT/codegen compilation —
    # measured r6: the first ~6 lanes in run order read 1.3-1.6x their
    # steady-state cost while the median lane sat at 1.0x vs r5.  A
    # full untimed pass makes the recorded numbers measure PLAN cost,
    # not JVM warmup, and makes them order-independent.
    for name in HEADLINE:
        run_once(impls[name](spark, sf_dir))
    # heavy lanes need EXTRA settling: r8s1 measured the graph lane at
    # 85 -> 54 -> 85 -> 9.3 -> 10.8 s over five consecutive executions
    # on an otherwise-idle fresh JVM — tiered compilation of its
    # codegen'd stages completes only after several passes, and a
    # sample taken before that measures the JIT, not the plan.  The
    # settle is ADAPTIVE (r8s5): the fixed two extra passes were tuned
    # on faster boxes and left the slowest session-5 box unsettled
    # (first TIMED sample 47-87 s, min-of-3 rescued the recorded value
    # but the VERDICT r7 #4 spread criterion was blown).  Keep passing
    # untimed until two consecutive passes agree within 20%, capped at
    # six — a fast box still exits after two passes, identical to the
    # old warmup, so cross-round comparability holds; only WARMUP
    # count adapts, the timed methodology is untouched.
    # Settle passes run COLD (cache cleared first) so the settle tracks
    # the exact condition the timed samples now measure.  Exit requires
    # the pass to agree within 20% of the RUNNING MIN, not merely the
    # previous pass (ADVICE r8: an early JIT plateau — 85 -> 80 s — can
    # satisfy consecutive-pass agreement while still 8x off steady
    # state; the min is the stable anchor).
    for name in HEAVY_LANES:
        if name in HEADLINE:
            best = None
            for _ in range(6):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run_once(impls[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                if best is not None and dt <= 1.2 * best:
                    break
                best = dt if best is None else min(best, dt)

    # best of three runs per query: one-shot timings on a shared local JVM
    # are noisy (GC, page cache, box contention); min is the stable
    # estimator and three samples bound the round-over-round drift that a
    # single unlucky pass introduces (round-2 recorded a 12% phantom
    # regression from exactly this).  The heavyweight graph lane runs
    # LAST so its multi-second burst never warms/perturbs a neighbor's
    # sample (VERDICT r5 item 7).
    run_order = [n for n in HEADLINE if n != "graph_common_neighbors"]
    if "graph_common_neighbors" in HEADLINE:
        run_order.append("graph_common_neighbors")
    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    cold_samples: dict[str, float] = {}
    warm_samples: dict[str, list[float]] = {}
    for name in run_order:
        fn = impls[name]
        samples = []
        for _ in range(3):
            # every sample runs CACHE-COLD (VERDICT r8 #2): clearCache
            # is a no-op for the lanes that persist nothing, and makes
            # each persist-bearing lane's sample pay its full pipeline
            # from parquet instead of the warmup's primed cache.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run_once(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]
        if name in HEAVY_LANES:
            # the settled-cold headline min doubles as the cold figure
            # (pre-r9 field kept for series continuity)
            cold_samples[name] = timings[name]
            # warm steady state as the SECONDARY figure (the r1-r8 warm
            # series): one untimed priming pass, then 3 timed passes
            # against the now-materialized internal caches.
            run_once(fn(spark, sf_dir))
            ws = []
            for _ in range(3):
                t0 = time.perf_counter()
                run_once(fn(spark, sf_dir))
                ws.append(round(time.perf_counter() - t0, 3))
            warm_samples[name] = ws
    timings = {n: timings[n] for n in HEADLINE}  # stable key order
    # production pruned/arrow configurations — diagnostics continuing
    # the r1-r8 series of the four re-pointed lanes (see pruned_impls)
    pruned_samples: dict[str, float] = {}
    for name, fn in pruned_impls().items():
        run_once(fn(spark, sf_dir))  # one untimed settle pass
        ps = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run_once(fn(spark, sf_dir))
            ps.append(time.perf_counter() - t0)
        pruned_samples[name] = round(min(ps), 3)
    # per-sample detail for the slow lanes: a >5 s lane whose three
    # samples spread >15% is a measurement-stability problem, not a
    # plan regression — record the evidence so cross-round comparisons
    # can tell the two apart
    slow_samples = {
        n: s for n, s in all_samples.items() if timings.get(n, 0) > 5.0
    }
    load_after = os.getloadavg()[0]
    # post-run parallel probe: the pre-run one cannot see cores stolen
    # MID-run (r8s5 recorded a clean 444 MB/s floor at start and an
    # 86.9 s first graph sample anyway); a collapsed floor here marks
    # the recording even when the start looked healthy
    calib_par_after, calib_par_min_after = calibrate_cpu_parallel(cpus)

    # data-density diagnostic for the graph lane: wedge candidates are a
    # property of the FIXTURE, wall time of the PLAN — recording both
    # lets a future regression be attributed to the right one
    from tcdb_spark.operators.graph import wedge_candidate_count
    from tcdb_spark.plans.queries_stats import _CN_DEG_CAP, copurchase_edges

    wedges = wedge_candidate_count(
        copurchase_edges(spark, sf_dir), deg_cap=_CN_DEG_CAP
    )

    total = round(sum(timings.values()), 3)
    core20 = round(sum(t for n, t in timings.items() if n in HEADLINE[:20]), 3)
    core25 = round(sum(t for n, t in timings.items() if n in HEADLINE[:25]), 3)
    core31 = round(sum(t for n, t in timings.items() if n in HEADLINE[:31]), 3)
    core32 = round(sum(t for n, t in timings.items() if n in HEADLINE[:32]), 3)
    core33 = round(sum(t for n, t in timings.items() if n in HEADLINE[:33]), 3)
    core38 = round(sum(t for n, t in timings.items() if n in HEADLINE[:38]), 3)
    core41 = round(sum(t for n, t in timings.items() if n in HEADLINE[:41]), 3)
    core46 = round(sum(t for n, t in timings.items() if n in HEADLINE[:46]), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # the original frozen-20 subtotal — the number BASELINE.md's
                # operative r1 figure (12.118 s) is comparable against
                "core20_total": core20,
                # the round-4 25-lane subtotal — comparable to BENCH_r04's
                # headline total (12.012 s)
                "core25_total": core25,
                # the round-5 31-lane subtotal — comparable to BENCH_r05's
                # headline total
                "core31_total": core31,
                # the round-6 32-lane subtotal — comparable to BENCH_r06's
                # headline total
                "core32_total": core32,
                # the round-7 33-lane subtotal — comparable to
                # BENCH_r07_idle's headline total
                "core33_total": core33,
                # the round-7 session-2 38-lane subtotal — comparable to
                # the r07s2-idle recording's headline total
                "core38_total": core38,
                # the round-7 session-3 41-lane subtotal — comparable to
                # BENCH_r07_idle's 41-lane headline total
                "core41_total": core41,
                # the round-8 session-2 46-lane subtotal — comparable to
                # the r8s2 idle recording's headline total
                "core46_total": core46,
                # box-contention context: loadavg_before is sampled BEFORE
                # the warmup pass (external load only — near 0 on an idle
                # box); loadavg_after reflects the bench's own full-tilt
                # tail.  A high loadavg_before means the recording ran
                # under external load and is inflated vs an idle-box run
                # (the r5 driver recording's uniform ~1.3x inflation).
                "loadavg_before": round(load_before, 2),
                "loadavg_after": round(load_after, 2),
                # recording-hygiene verdict (VERDICT r6 #2): true means
                # the box was already loaded when the bench STARTED and
                # every lane reads inflated — do not compare this
                # artifact round-over-round; re-run idle.
                "contaminated": load_before > CONTAMINATION_LOADAVG,
                # all three samples for every lane slower than 5 s
                # (spread evidence — VERDICT r7 #4)
                "slow_lane_samples": slow_samples,
                # per-sample detail for the heavy (persist-bearing)
                # lanes regardless of speed — since round 9 these are
                # the SETTLED-COLD samples (the stability evidence for
                # VERDICT r7 #4's <=15% spread criterion)
                "heavy_lane_samples": {
                    n: all_samples[n] for n in HEAVY_LANES if n in all_samples
                },
                # settled-cold figure per heavy lane; since round 9
                # identical to the lane's headline (kept for series
                # continuity with r7/r8 artifacts)
                "cold_samples": cold_samples,
                # warm steady-state samples per heavy lane (internal
                # persists primed) — the figure the r1-r8 headline
                # recorded for these lanes; secondary since round 9
                "warm_samples": warm_samples,
                # production pruned/arrow configurations of the five
                # lanes whose headline now times the oracle-registered
                # exact impl (VERDICT r8 #3) — each entry continues the
                # corresponding lane's r1-r8 headline series
                "pruned_config_samples": pruned_samples,
                # box-speed reference (single-core md5 MB/s, measured
                # before the JVM starts): compare across rounds before
                # attributing a uniform lane-time shift to the code
                "calib_md5_mbps": calib,
                # all-cores aggregate + worst per-core md5 MB/s (r8s5):
                # catches host-level core stealing that leaves loadavg
                # AND the single-core calib clean — see
                # calibrate_cpu_parallel
                "calib_md5_par_mbps": calib_par,
                "calib_md5_par_min_mbps": calib_par_min,
                "calib_md5_par_after_mbps": calib_par_after,
                "calib_md5_par_min_after_mbps": calib_par_min_after,
                "graph_wedge_candidates": wedges,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()

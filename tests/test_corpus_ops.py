"""Corpus-curation operators: connected components, n-gram helpers,
deterministic split buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcdb_spark.operators.graph import connected_components
from tcdb_spark.plans.queries_corpus import _ngrams


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    got = _labels(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges(spark):
    # a path graph needs diameter-many propagation rounds — exercises the
    # iteration + convergence detection, not just a single join
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src bigint, dst bigint"
    )
    got = _labels(connected_components(edges))
    assert set(got.values()) == {0} and len(got) == n + 1


def test_cc_high_diameter_chain_stats_reset(spark, tmp_path):
    """A 24-node chain needs ~23 propagation rounds — past the 8-round
    parquet stats reset twice.  Without the reset, each round's join
    SQUARES the checkpointed size estimate (DEVNOTES #48) and the
    driver drowns in BigInteger arithmetic around round ~20; with it,
    the run stays round-linear and the labels are exact."""
    n = 24
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    got = _labels(connected_components(edges, work_dir=str(tmp_path / "cc")))
    assert set(got.values()) == {0} and len(got) == n


def test_cc_empty_edges(spark):
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(edges).count() == 0


def test_cc_duplicate_and_reversed_edges(spark):
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (3, 2)], "src bigint, dst bigint"
    )
    got = _labels(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1}


def test_ngrams_helper(spark):
    df = spark.createDataFrame([("a b c d",)], "text string").select(
        F.split("text", " ").alias("tokens")
    )
    row = df.select(
        _ngrams(F.col("tokens"), 2).alias("bi"),
        _ngrams(F.col("tokens"), 3).alias("tri"),
    ).first()
    assert row["bi"] == ["a b", "b c", "c d"]
    assert row["tri"] == ["a b c", "b c d"]


def test_split_bucket_stable_under_repartition(spark):
    """The md5-derived bucket must not depend on partitioning (the
    property rand(seed) lacks)."""
    from tcdb_spark.plans.queries_corpus import split_assign

    a = split_assign(spark, "/root/testdata/sf0.001").collect()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = split_assign(spark, "/root/testdata/sf0.001").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    key = lambda r: (r["split"], r["lang"])  # noqa: E731
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {key(r) for r in a} == {key(r) for r in b}


def test_incremental_lsh_index_two_days(spark, tmp_path):
    """Daily-crawl dedup: day-1 corpus indexed once; each later batch
    hashes ONLY its own docs, joins against the stored index, and
    appends its rows. Near-dups are found across batches and within a
    batch; unrelated docs produce no pairs; the stored day-1 rows are
    never recomputed (append-only index)."""
    from tcdb_spark.operators.textdedup import (
        incremental_lsh_candidates,
        lsh_band_index,
    )

    import random

    vocab = [f"w{k}" for k in range(500)]

    def doc(seed, n=30):
        return " ".join(random.Random(seed).choices(vocab, k=n))

    day1 = spark.createDataFrame(
        [(i, doc(i)) for i in range(20)], "doc_id long, text string"
    )
    idx_path = str(tmp_path / "lsh_index")
    lsh_band_index(day1).write.mode("overwrite").parquet(idx_path)
    stored_v1 = spark.read.parquet(idx_path).collect()

    # day 2: near-dup of doc 3 (tail append), a self-pair inside the
    # batch (101 ~ 102), and a genuinely new doc
    day2 = spark.createDataFrame(
        [
            (101, doc(3) + " tail note"),
            (102, doc(3) + " tail note two"),
            (103, doc(55)),
        ],
        "doc_id long, text string",
    )
    new_bands = lsh_band_index(day2)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(
            spark.read.parquet(idx_path), new_bands
        ).collect()
    }
    assert (3, 101) in pairs and (3, 102) in pairs and (101, 102) in pairs
    assert not any(103 in p for p in pairs), pairs

    # maintain the index: append-only, day-1 rows untouched
    new_bands.write.mode("append").parquet(idx_path)
    after = spark.read.parquet(idx_path)
    assert sorted(
        (r["doc_id"], r["band"], r["band_key"]) for r in stored_v1
    ) == sorted(
        (r["doc_id"], r["band"], r["band_key"])
        for r in after.where(F.col("doc_id") < 100).collect()
    )

    # day 3 dups a DAY-2 doc: found through the maintained index
    day3 = spark.createDataFrame(
        [(201, doc(3) + " tail note")], "doc_id long, text string"
    )
    pairs3 = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(after, lsh_band_index(day3)).collect()
    }
    assert (101, 201) in pairs3 and (3, 201) in pairs3


def test_pack_bins_ffd_properties(spark):
    """FFD packing invariants: every doc placed exactly once, no bin
    over budget, over-budget docs isolated+flagged, assignment is
    deterministic across input partitionings, and utilization beats the
    naive sequential packer on the same data."""
    import random

    from tcdb_spark.operators.packing import pack_bins_ffd

    rng = random.Random(7)
    rows = [(i, rng.randint(20, 400)) for i in range(2_000)] + [(9_999, 700)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    budget = 512

    out = pack_bins_ffd(docs, budget=budget, n_shards=8).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)

    fill: dict[int, int] = {}
    for r in out:
        if r["overflow"]:
            assert r["n_tokens"] > budget and r["doc_id"] == 9_999
            continue
        fill[r["bin_id"]] = fill.get(r["bin_id"], 0) + r["n_tokens"]
    assert fill and max(fill.values()) <= budget

    # determinism across partitioning
    again = pack_bins_ffd(docs.repartition(13), budget=budget, n_shards=8).collect()
    assert {(r["doc_id"], r["bin_id"]) for r in again} == {
        (r["doc_id"], r["bin_id"]) for r in out
    }

    # FFD utilization >= naive first-come packing on the same shards
    total_tokens = sum(n for _, n in rows if n <= budget)
    ffd_bins = len(fill)
    naive_bins = 0
    bydoc = {i: n for i, n in rows}
    for shard in range(8):
        cap = 0
        for r in sorted((r for r in out if not r["overflow"] and r["shard"] == shard),
                        key=lambda r: r["doc_id"]):
            n = bydoc[r["doc_id"]]
            if cap < n:
                naive_bins += 1
                cap = budget
            cap -= n
    assert ffd_bins <= naive_bins
    assert total_tokens / (ffd_bins * budget) > 0.9  # tight packing


def test_quality_ngram_lm_signal(spark):
    """The reference LM is English (src1-3), so English docs must score a
    lower mean OOV rate than non-English ones, and the per-doc columns
    must satisfy the structural invariants."""
    from tcdb_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["quality_ngram_lm"](spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "lang")
    rows = out.join(docs, "doc_id").collect()
    assert rows
    for r in rows:
        assert 0 <= r.oov_pm <= 1000
        assert 0 <= r.n_known <= r.n_tri
    en = [r.oov_pm for r in rows if r.lang == "en"]
    other = [r.oov_pm for r in rows if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) < sum(other) / len(other)


def test_join_fuzzy_match_invariants(spark):
    """Every emitted pair is confirmed (dist 1-2), canonically ordered,
    and block-consistent (same part-type word)."""
    from tcdb_spark.plans import QUERIES

    rows = QUERIES["join_fuzzy_match"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    seen = set()
    for r in rows:
        assert 1 <= r.dist <= 2
        assert r.id_a < r.id_b
        assert r.name_a.split(" ")[1] == r.name_b.split(" ")[1]
        assert (r.id_a, r.id_b) not in seen
        seen.add((r.id_a, r.id_b))


def test_mix_temperature_flattens_shares(spark):
    """Alpha=0.5 sampling must shrink the dominant language's share
    relative to raw and keep every language represented."""
    from tcdb_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    raw = {
        r.lang: r.n
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sampled = {
        r.lang: r.n
        for r in QUERIES["mix_temperature_sample"](spark, sf)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(sampled) == set(raw)
    top = max(raw, key=raw.get)
    raw_share = raw[top] / sum(raw.values())
    mixed_share = sampled[top] / sum(sampled.values())
    assert mixed_share < raw_share


def test_winnow_shared_substring_guarantee(spark, tmp_path):
    """The winnowing guarantee (Schleimer 2003): two documents sharing a
    substring of >= k + w - 1 tokens share at least one fingerprint
    VALUE, while unrelated docs share none. Run through the real lane
    against a tiny parquet dir shaped like the testdata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tcdb_spark.plans.queries_text import winnow_fingerprint, _WK, _WW

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= k+w-1=7
    rows = {
        "doc_id": [1, 2, 3],
        "text": [
            "one two three four five six " + shared + " tail piece here now",
            "totally different opening words go here " + shared,
            "nothing in common with the others at all kappa lambda mu nu xi",
        ],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [0, 0, 0],
    }
    pq.write_table(pa.table(rows), f"{tmp_path}/documents.parquet")
    out = winnow_fingerprint(spark, str(tmp_path)).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "docs sharing an 8-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # density guarantee: at least one fingerprint per window
    for d, text in zip(rows["doc_id"], rows["text"]):
        n_grams = len(text.split()) - _WK + 1
        n_windows = n_grams - _WW + 1
        assert len(fps[d]) >= n_windows / _WW  # min selections possible


def test_incremental_winnow_matches_batch(spark):
    """Index day-1, fingerprint day-2 only, and the incremental
    candidate set must equal the one-shot winnow_contamination-style
    join over the union — day 2 never re-fingerprints day 1."""
    from tcdb_spark.operators.textdedup import incremental_winnow_candidates
    from tcdb_spark.plans.queries_text import winnow_frame

    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    day1 = spark.createDataFrame(
        [(1, "one two three four " + shared), (2, "unrelated words entirely " +
          "kappa lambda mu nu xi omicron pi rho sigma")],
        "doc_id int, text string",
    )
    day2 = spark.createDataFrame(
        [(10, shared + " closing words here"), (11, "fresh stuff " + shared)],
        "doc_id int, text string",
    )
    idx = winnow_frame(day1)
    new = winnow_frame(day2)
    inc = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in incremental_winnow_candidates(idx, new).where("n_shared >= 2").collect()
    }
    # one-shot over the union, restricted to pairs touching day 2
    union_fps = winnow_frame(day1.unionByName(day2))
    a, b = union_fps.alias("a"), union_fps.alias("b")
    from pyspark.sql import functions as F

    batch = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where((F.col("b.doc_id") >= 10) | (F.col("a.doc_id") >= 10))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count_distinct("fp").alias("n_shared"))
        .where("n_shared >= 2")
        .collect()
    }
    assert inc == batch and (1, 10) in inc and (1, 11) in inc and (10, 11) in inc


def test_winnow_copy_spans_recover_planted_run(spark, tmp_path):
    """A run copied from train doc (even id) into eval doc (odd id) is
    recovered as one contiguous span covering the copied region."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tcdb_spark.plans.queries_text import winnow_copy_spans

    copied = " ".join(f"tok{i}" for i in range(20))  # 20-token copied run
    rows = {
        "doc_id": [2, 3, 4],
        "text": [
            "lead in words here " + copied + " trailing text follows now",
            "eval doc opening " + copied + " eval doc closing",
            "another train doc with nothing shared at all " +
            " ".join(f"zz{i}" for i in range(15)),
        ],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [0, 0, 0],
    }
    pq.write_table(pa.table(rows), f"{tmp_path}/documents.parquet")
    spans = winnow_copy_spans(spark, str(tmp_path)).collect()
    hits = [r for r in spans if r.train_doc == 2 and r.eval_doc == 3]
    assert hits, "the planted copy must surface as a span"
    # the copied run occupies train positions 5..24 (4 lead tokens);
    # fingerprints are k-gram starts, so the span must sit inside it
    # and cover most of it
    s = max(hits, key=lambda r: r.n_fps)
    assert s.span_start >= 1 and s.span_end - s.span_start >= 10
    assert not [r for r in spans if r.train_doc == 4]


def test_jaccard_prefix_index_fraction(spark):
    """The PPJoin prefix index must contain ~ (1-t) of the full inverted
    index (plus 1 row per doc) — the measured size cut that replaces the
    df-cap at scale — while the lane's output is the complete t=0.7 pair
    set (completeness itself is attested by the brute-force DuckDB
    oracle)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from tcdb_spark.plans.queries_dedup_near import (
        _PPJ_T,
        _corpus,
        _shingles,
        _tokens,
        SHINGLE,
        jaccard_prefix_join,
    )

    sf = "/root/testdata/sf0.001"
    corpus = _corpus(spark, sf)
    toks = corpus.select("doc_id", _tokens(F.col("text")).alias("tokens")).where(
        F.size("tokens") >= SHINGLE
    )
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles(F.col("tokens"))).alias("shingles")
    )
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    full = ex.count()
    n_docs = sh.count()
    dfw = W.partitionBy("shingle")
    rnw = W.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        ex.withColumn("df", F.count(F.lit(1)).over(dfw))
        .withColumn("rn", F.row_number().over(rnw))
        .where(F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(_PPJ_T) * F.col("n_sh")) + 1)
        .count()
    )
    assert prefix <= (1 - _PPJ_T) * full + n_docs
    # and the lane still finds the planted near-dups
    out = jaccard_prefix_join(spark, sf)
    assert out.where("doc_b >= 1000000").count() > 0


def test_containment_join_finds_swallowed_eval_doc(spark, tmp_path):
    """A short eval doc fully embedded in a long train doc has tiny
    Jaccard but containment 1.0 — the asymmetric case the lane exists
    for."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tcdb_spark.plans.queries_dedup_near import containment_join

    eval_q = " ".join(f"q{i}" for i in range(12))  # 12-token eval doc
    filler = " ".join(f"w{i}" for i in range(300))
    rows = {
        "doc_id": [2, 3, 4, 5],
        "text": [
            filler + " " + eval_q + " " + filler,        # train: swallows eval 3
            eval_q,                                       # eval doc
            " ".join(f"z{i}" for i in range(100)),        # unrelated train
            " ".join(f"y{i}" for i in range(40)),         # unrelated eval
        ],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [0, 0, 0, 0],
    }
    pq.write_table(pa.table(rows), f"{tmp_path}/documents.parquet")
    out = {(r.eval_doc, r.train_doc): r.containment
           for r in containment_join(spark, str(tmp_path)).collect()}
    assert out.get((3, 2)) == 1.0, out
    assert (5, 2) not in out and (5, 4) not in out


def test_compression_signals_spectrum(spark):
    """zlib ratio orders content classes the way curation expects:
    boilerplate << natural prose << hex noise; NULL/empty rows emit
    nothing; byte counts are utf-8 (multibyte checked)."""
    from tcdb_spark.plans.queries_text import compression_signals

    rows = [
        (0, "spark row " * 200),
        (1, ("the quick brown fox jumps over the lazy dog and then "
             "walks slowly back across the wide green field again ") * 10),
        (2, " ".join(__import__("hashlib").md5(str(i).encode()).hexdigest()
                     for i in range(60))),
        (3, None),
        (4, ""),
        (5, "héllo wörld " * 40),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in compression_signals(d).collect()}
    assert set(out) == {0, 1, 2, 5}, "null/empty rows must emit no row"
    assert out[0].ratio_bp < out[1].ratio_bp < out[2].ratio_bp
    assert out[0].ratio_bp < 1500 and out[2].ratio_bp > 5000
    assert out[5].n_bytes == len(("héllo wörld " * 40).encode("utf-8"))
    for r in out.values():
        assert r.ratio_bp == r.n_compressed * 10000 // r.n_bytes


def test_unicode_scrub_controls_and_mojibake(spark):
    """unicode_scrub: NFC composition, C0-control strip (tab/newline/CR
    kept), U+FFFD mojibake count, NULL passthrough with provenance."""
    from tcdb_spark.plans.queries_text import unicode_scrub

    rows = [
        (0, "café bad\x00ctl\x07 keep\ttab\nline"),
        (1, "moji�bake� here"),
        (2, None),
        (3, "clean ascii"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in unicode_scrub(d).collect()}
    assert out[0].text_nfc == "caf\xe9 badctl keep\ttab\nline" and out[0].changed
    assert out[1].n_replacement == 2 and not out[1].changed
    assert out[2].text_nfc is None and out[2].changed is None
    assert out[3].text_nfc == "clean ascii" and not out[3].changed
    assert out[3].n_replacement == 0

"""Engine facade end-to-end: the 'switch from the reference' surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcdb_spark.api import Engine
from tcdb_spark.plans.queries_atcf import BDECK_LINES


def test_engine_facade(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "bal092022.dat").write_text("\n".join(BDECK_LINES[:3]))
    (landing / "bep912022.dat").write_text(BDECK_LINES[3])

    eng = Engine(spark, str(tmp_path / "wh"))
    now = F.lit("2022-09-26 12:00:00").cast("timestamp")
    counts = eng.ingest_bdeck(str(landing), now=now)
    assert counts["storms"] == 2

    adeck = tmp_path / "adeck"
    adeck.mkdir()
    (adeck / "aal092022.dat").write_text(
        "AL, 09, 2022092600, 01, OFCL, 0, 251N, 740W, 35, 1003, TS, 34, NEQ, 60, 40, 30, 50, x\n"
        "AL, 09, 2022092600, 01, OFCL, 12, 258N, 748W, 45, 998, TS, 34, NEQ, 70, 50, 40, 60, x\n"
    )
    fcounts = eng.ingest_adeck(str(adeck))
    assert fcounts == {"forecasts": 1, "tracks": 1, "steps": 2}

    # SQL over the catalog (db/*.sql parity)
    row = eng.sql(
        """
        SELECT s.nhc_id, count(st.hour) AS n_steps
        FROM storms s JOIN tracks t ON s.storm_id = t.storm_id
                      JOIN steps st ON t.track_id = st.track_id
        GROUP BY s.nhc_id
        """
    ).first()
    assert row["nhc_id"] == "AL092022" and row["n_steps"] == 2

    tracks = eng.storm_tracks("AL092022", models=["OFCL"])
    assert tracks.count() == 2

    res = eng.maintain(now=F.lit("2022-11-06 00:00:00").cast("timestamp"))
    assert res["removed_storms"] == 1  # the EP91 invest aged out

    exported = eng.export(str(tmp_path / "exp"), ["storms"])
    assert exported == {"storms": 1}


def test_engine_profile_and_changes(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame([(1, 10.0), (2, None)], "storm_id bigint, wind double")
    v2 = spark.createDataFrame([(1, 11.0), (3, 30.0)], "storm_id bigint, wind double")
    eng.warehouse.write_bucketed("obs", v1, ["storm_id"], n_buckets=2)
    eng.warehouse.write_bucketed("obs", v2, ["storm_id"], n_buckets=2)

    prof = {r["col_name"]: r for r in eng.profile("obs").collect()}
    assert prof["wind"]["n_nonnull"] == 2 and prof["wind"]["max_num"] == 30.0

    got = {r["storm_id"]: r["change_type"] for r in eng.changes("obs", 1, 2).collect()}
    assert got == {1: "update", 2: "delete", 3: "insert"}


def test_engine_curate_exact_dedup_and_span_scrub(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "whc"))
    shared = " ".join(f"s{i}" for i in range(12))
    uniq = " ".join(f"u{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "a b " + shared + " c d e"),   # owns the passage
            (2, uniq),
            (3, uniq),                          # exact dup of 2 -> dropped
            (4, "p q r " + shared + " t"),     # passage scrubbed out
            (5, "x y"),                         # too short after curation
        ],
        "doc_id long, text string",
    )
    stats = eng.curate(docs, table="docs_c", min_tokens=5, span_w=10)
    assert stats["docs_in"] == 5
    assert stats["docs_with_spans"] == 1          # only doc 4
    assert stats["tokens_removed"] == 12
    assert stats["version"] == 1
    out = {r.doc_id: r for r in eng.table("docs_c").collect()}
    # doc 3 (exact dup), 4 (below min after scrub: 4 tokens), 5 (short) gone
    assert set(out) == {1, 2}
    assert out[1].text.split(" ")[2] == "s0"      # owner keeps the passage
    assert out[2].n_tokens == 20


def test_engine_ann_index_roundtrip(spark, tmp_path):
    import numpy as np

    eng = Engine(spark, str(tmp_path / "wha"))
    rng = np.random.RandomState(5)
    X = rng.randn(200, 8)
    emb = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    assert eng.build_ann_index(emb, k_centroids=4) == 1
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    hits = eng.ann_search(q, k=3, nprobe=2).collect()
    assert len(hits) == 3 and all(r.q_id == 0 and r.vec_id != 0 for r in hits)
    assert [r.rank_in_group for r in hits] == [1, 2, 3]

    # the point-lookup contract: a bulk query set is refused instead of
    # collecting it to the driver (bulk search belongs to knn_join)
    import pytest

    from tcdb_spark.operators.similarity import ivf_search_persisted

    big_q = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    with pytest.raises(ValueError, match="knn_join"):
        ivf_search_persisted(eng.warehouse, "emb_ivf", big_q, max_queries=3)


def test_engine_search_chunk_semantic_and_range(spark, tmp_path):
    """Round-2 facade methods: BM25 search, chunking, semantic dedup,
    stats-pruned range read — thin composition over catalog-checked ops."""
    from pyspark.sql import functions as F

    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh"))

    docs = spark.createDataFrame(
        [
            (1, "data data merge window and more data tokens here"),
            (2, "nothing relevant at all in this one"),
            (3, "merge window"),
        ],
        "doc_id long, text string",
    )
    hits = eng.search(docs, ["data", "merge", "window"], k=2).collect()
    assert [r["doc_id"] for r in hits][0] in (1, 3) and len(hits) == 2

    chunks = eng.chunk(docs, chunk=4, stride=3).collect()
    assert {r["doc_id"] for r in chunks} == {1, 2, 3}
    assert max(r["chunk_tokens"] for r in chunks) == 4

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) + 1.0 for d in range(8)]) for i in range(30)]
        + [(100 + i, [2.0 * (float((i * 7 + d * 3) % 11) + 1.0) for d in range(8)]) for i in range(5)],
        "vec_id long, emb array<double>",
    )
    pairs = eng.semantic_dedup(emb, tau=0.999999, k_centroids=3).collect()
    found = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert {(i, 100 + i) for i in range(5)} <= found  # planted scaled clones

    eng.warehouse.write(
        "rng", spark.range(0, 1000).select(F.col("id").alias("k")).repartitionByRange(4, "k")
    )
    eng.collect_stats("rng", ["k"])
    got = sorted(r["k"] for r in eng.read_range("rng", {"k": (10, 19)}).collect())
    assert got == list(range(10, 20))


def test_engine_bpe_and_restore(spark, tmp_path):
    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [("low lower lowest low low",), ("newer newest new lower",)], "text string"
    )
    merges = eng.learn_bpe(docs, n_merges=4)
    assert len(merges) == 4
    toks = eng.tokenize(docs, merges).select("tokens").collect()
    assert all(r.tokens for r in toks)

    df1 = spark.createDataFrame([(1, "a")], "id bigint, v string")
    df2 = spark.createDataFrame([(1, "b")], "id bigint, v string")
    eng.warehouse.write("t", df1)
    eng.warehouse.write("t", df2)
    v = eng.restore("t", 1)
    assert v == 3
    assert eng.warehouse.read("t").collect()[0].v == "a"


def test_engine_training_facade(spark, tmp_path):
    from pyspark.sql import functions as F

    from tcdb_spark.api import Engine
    from tcdb_spark.plans.catalog import load_tables

    eng = Engine(spark, str(tmp_path / "wh"))
    t = load_tables(spark, "/root/testdata/sf0.001", "documents", "embeddings", "events")

    so = eng.shuffle_order(t["documents"], "doc_id", n_shards=8, seed="ep2")
    assert so.columns == ["doc_id", "shard_id", "shard_rank"]
    assert so.where(F.col("shard_id") >= 8).count() == 0

    neg = eng.negatives(t["embeddings"], k=2)
    assert neg.where(F.col("label") == F.col("neg_label")).count() == 0

    fun = eng.funnel(
        t["events"], "user_id", "ts",
        [("a", F.col("event_type") == "view"), ("b", F.col("event_type") == "error")],
    ).first()
    assert fun["a"] >= fun["b"]

    pr = eng.pagerank(
        spark.createDataFrame([("x", "y"), ("y", "z")], ["src", "dst"]), iters=2
    )
    assert abs(sum(r["val"] for r in pr.collect()) - 1.0) < 1e-9


def test_engine_apply_changes(spark, tmp_path):
    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh2"))
    eng.warehouse.write("kv", spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    feed = spark.createDataFrame(
        [(2, 2, "U", "b2"), (1, 2, "D", None), (9, 2, "I", "i")],
        ["k", "seq", "op", "v"],
    )
    v = eng.apply_changes("kv", feed, keys=["k"])
    assert v == 2
    out = {r["k"]: r["v"] for r in eng.read_changes_view("kv").collect()}
    assert out == {2: "b2", 9: "i"}

    # cross-batch out-of-order safety (the ADVICE r2 finding): a stale
    # update (seq=1, behind the seq=2 delete) arriving in a LATER batch
    # must NOT resurrect the deleted key — the tombstone's applied-seq
    # guard rejects it.
    stale = spark.createDataFrame([(1, 1, "U", "zombie")], ["k", "seq", "op", "v"])
    eng.apply_changes("kv", stale, keys=["k"])
    out = {r["k"]: r["v"] for r in eng.read_changes_view("kv").collect()}
    assert out == {2: "b2", 9: "i"}, "deleted key resurrected by stale update"

    # replay of the original feed is a no-op (idempotent)
    eng.apply_changes("kv", feed, keys=["k"])
    out = {r["k"]: r["v"] for r in eng.read_changes_view("kv").collect()}
    assert out == {2: "b2", 9: "i"}

    # round-3 ADVICE: a non-migrated reader using Engine.table() must not
    # silently see tombstoned keys or bookkeeping columns on a table the
    # CDC path bootstrapped; raw=True is the escape hatch
    via_table = eng.table("kv")
    assert {r["k"] for r in via_table.collect()} == {2, 9}
    assert "__deleted" not in via_table.columns and "seq" not in via_table.columns
    raw = eng.table("kv", raw=True)
    assert {r["k"] for r in raw.collect()} == {1, 2, 9}  # tombstone visible


def test_engine_hybrid_smooth_drift_facades(spark, tmp_path):
    """Round-3 facades: hybrid RRF search, truncated-EWMA smoothing,
    PSI drift — each checked against a small hand-verifiable case."""
    import datetime as dt
    import math

    from pyspark.sql import functions as F

    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh3"))

    # hybrid_search: doc 1 wins keyword, doc 2 wins cosine, doc 3 both-mid.
    docs = spark.createDataFrame(
        [(1, "data data data"), (2, "nothing relevant"), (3, "data here")],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "q_emb array<double>")
    out = {r["doc_id"]: r["rrf"] for r in eng.hybrid_search(docs, emb, ["data"], q).collect()}
    # lex ranks: 1,3,2 (tf desc; doc 2 tf=0 ties at 0 -> doc_id order);
    # sem ranks: 2,3,1 (cos 1.0, 0.707, 0.0)
    assert abs(out[1] - (1 / 61 + 1 / 63)) < 1e-12
    assert abs(out[2] - (1 / 63 + 1 / 61)) < 1e-12
    assert abs(out[3] - (1 / 62 + 1 / 62)) < 1e-12

    # smooth: constant series -> EWMA equals the constant at every row
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, 7, base + dt.timedelta(hours=i), 3.0) for i in range(5)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    sm = eng.smooth(ev, ["user_id"], ["ts", "event_id"], "value")
    assert [r["ewma"] for r in sm.orderBy("event_id").collect()] == [3.0] * 5
    # and a step series head matches the closed form: y_1 = (x1 + 0.5*x0)/1.5
    ev2 = spark.createDataFrame(
        [(0, 7, base, 0.0), (1, 7, base + dt.timedelta(hours=1), 3.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = eng.smooth(ev2, ["user_id"], ["ts", "event_id"], "value").orderBy("event_id").collect()
    assert got[1]["ewma"] == (3.0 + 0.5 * 0.0) / 1.5

    # drift (leave-one-out baseline): a cohort identical to the REST of
    # the pool has PSI ~ 0; a small shifted one scores actionable drift.
    # Never a strict > between near-equal floats — assert the separation
    # band.  Nine identically-distributed cohorts dominate the pool so a
    # healthy cohort's leave-one-out baseline is ~99% lookalike rows.
    rows = [
        (f"same{k}", float(i % 100)) for k in range(9) for i in range(1000)
    ] + [("shifted", 200.0 + float(i % 100)) for i in range(100)]
    d = eng.drift(spark.createDataFrame(rows, "cohort string, value double"), "cohort", "value")
    psi = {r["cohort"]: r["psi"] for r in d.collect()}
    # "shifted" occupies bins its leave-one-out baseline never touches -> large
    assert psi["same0"] < 0.1 < 0.25 < psi["shifted"]  # actionable drift
    # identically-distributed cohorts get the identical (fixed-order) PSI
    assert abs(psi["same0"] - psi["same8"]) < 1e-12


def test_engine_tokenize_diversify_winnow_facades(spark, tmp_path):
    """Round-4 session-2 facades: tokenize routes through the
    vocab-table encode when an id column exists (== the fold path),
    diversify == mmr_rerank, winnow accepts a DataFrame."""
    from pyspark.sql import functions as F

    from tcdb_spark.api import Engine
    from tcdb_spark.operators.bpe import bpe_segment

    eng = Engine(spark, str(tmp_path / "wh"))

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new lower")],
        "doc_id int, text string",
    )
    merges = eng.learn_bpe(docs, n_merges=4)
    out = eng.tokenize(docs, merges)
    assert "tokens" in out.columns and out.count() == 2
    fold = {r.doc_id: list(r.tokens) for r in bpe_segment(docs, merges).collect()}
    got = {r.doc_id: list(r.tokens) for r in out.collect()}
    assert got == fold

    # empty / whitespace-only docs: the encode route must produce the
    # SAME empty array the bpe_segment fallback produces, never NULL
    edge = spark.createDataFrame(
        [(1, "low lower"), (2, ""), (3, "   ")], "doc_id int, text string"
    )
    got_e = {r.doc_id: r.tokens for r in eng.tokenize(edge, merges).collect()}
    want_e = {r.doc_id: r.tokens for r in bpe_segment(edge, merges).collect()}
    assert got_e == want_e
    assert got_e[2] == [] and got_e[3] == []

    cands = spark.createDataFrame(
        [(1, v, 1.0 - v / 10.0, [float(v % 2), 1.0, float(v)]) for v in range(1, 6)],
        "q_id int, vec_id int, cos double, emb array<double>",
    )
    div = eng.diversify(cands, k=3).collect()
    assert len(div) == 3 and {r.mmr_rank for r in div} == {1, 2, 3}

    shared = "alpha beta gamma delta epsilon zeta eta"
    wdocs = spark.createDataFrame(
        [(1, "x y z " + shared), (2, shared + " p q r")], "doc_id int, text string"
    )
    fps = eng.winnow(wdocs)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]


def test_engine_session4_facades(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh_s4"))

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"])
    tri = {r["node"]: r["tri_cnt"] for r in eng.triangles(edges).collect()}
    assert tri == {1: 1, 2: 1, 3: 1}

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16), (2, "beta alpha", "en", "s", 10)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    hits = {(r["phrase"], r["doc_id"]) for r in eng.phrase_search(docs, ["alpha beta"]).collect()}
    assert hits == {("alpha beta", 1)}

    iv = spark.createDataFrame([(1, 0, 0, 10), (2, 0, 5, 20)], ["k", "i", "s", "e"])
    ov = eng.overlaps(iv, "k", "i", "s", "e").collect()
    assert len(ov) == 1 and ov[0]["ov"] == 5

    sampled = eng.sample_weighted(docs, k=1, weight_col="n_chars")
    assert sampled.count() == 1

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i), 1, s, 0.0, "{}") for i, s in enumerate("abab")],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    tm = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in eng.transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"]).collect()
    }
    assert tm[("a", "b")] == (2, 1.0) and tm[("b", "a")] == (1, 1.0)


def test_engine_verify_forecasts_facade(spark, tmp_path):
    from tcdb_spark.api import Engine
    from tcdb_spark.plans.queries_atcf import ADECK_VERIF_LINES, BDECK_VERIF_LINES
    from tcdb_spark.sources.atcf import parse_adeck_lines, parse_bdeck_lines

    eng = Engine(spark, str(tmp_path / "wh_v"))
    fc = parse_adeck_lines(
        spark.createDataFrame([(l,) for l in ADECK_VERIF_LINES], "value string")
    )
    bt = parse_bdeck_lines(
        spark.createDataFrame([(l,) for l in BDECK_VERIF_LINES], "value string")
    )
    out = eng.verify_forecasts(fc, bt).collect()
    by = {(r["tech"], r["tau"]): r["err_nm"] for r in out}
    # tau-0 OFCL error: (25.2,-74.1) vs (25.1,-74.0) -> ~8 nm; tau 24 unverifiable
    assert 5 < by[("OFCL", 0)] < 12
    assert ("OFCL", 24) not in by
    assert len(by) == 6


def test_engine_asof_facade(spark, tmp_path):
    import pytest

    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh_asof"))
    left = spark.createDataFrame(
        [(1, 1000), (1, 2000), (2, 500)], "k long, lts long"
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 900, 7.0), (1, 1500, 9.0)], "k long, rts long, rval double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    plain = eng.asof(left, right, ["k"], "lts", "rts", ["rval"])
    skewr = eng.asof(
        left, right, ["k"], "lts", "rts", ["rval"], skew_resistant=True,
        bucket_hours=0.1,
    )
    want = {(1, 1000): 7.0, (1, 2000): 9.0, (2, 500): None}
    for out in (plain, skewr):
        got = {(r["k"], int(r["lts"].timestamp())): r["rval"] for r in out.collect()}
        assert got == want
    # r7: skew_resistant covers ALL directions (the r6 backward-only
    # guard is gone) — nearest through the bucketed path: 1@1000 takes
    # 900 (d=100 back beats d=500 fwd), 1@2000 takes 1500 (only back),
    # k=2 has no right rows at all
    nearest = eng.asof(
        left, right, ["k"], "lts", "rts", ["rval"],
        direction="nearest", skew_resistant=True, bucket_hours=0.1,
    )
    got = {(r["k"], int(r["lts"].timestamp())): r["rval"] for r in nearest.collect()}
    assert got == {(1, 1000): 7.0, (1, 2000): 9.0, (2, 500): None}


def test_engine_session_r8s3_facades(spark, tmp_path):
    """Privacy / text-hygiene / preference facades added in round-8
    session 3 route to the attested implementations."""
    from tcdb_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "wh_r8s3"))

    qi = spark.createDataFrame(
        [("x", 1), ("x", 1), ("x", 1), ("x", 2), (None, 1), (None, 1)],
        "a string, b int",
    )
    ladder = {r["level"]: r for r in eng.k_anonymity(qi, ["a", "b"], k_min=2).collect()}
    assert ladder[0]["n_groups"] == 3 and ladder[0]["min_k"] == 1
    kept = eng.suppress_small_groups(qi, ["a", "b"], k_min=2)
    assert kept.count() == 5  # ('x', 2) suppressed, NULL class kept

    sens = spark.createDataFrame(
        [("g", 1, "s1"), ("g", 1, "s2"), ("h", 1, "s1"), ("h", 1, "s1")],
        "a string, b int, s string",
    )
    div = eng.l_diversity(sens, ["a", "b"], "s", l_min=2).collect()[0]
    assert div["groups_below_l"] == 1 and div["min_l"] == 1

    docs = spark.createDataFrame(
        # decomposed e + combining acute: NFC must compose it
        [(1, "cafe\u0301 text"), (2, "zz " * 50)], "doc_id bigint, text string"
    )
    scrubbed = {r.doc_id: r for r in eng.unicode_scrub(docs).collect()}
    assert scrubbed[1].changed and not scrubbed[2].changed
    comp = {r.doc_id: r for r in eng.compression_signals(docs).collect()}
    assert comp[2].ratio_bp < comp[1].ratio_bp  # repetition compresses

    scored = spark.createDataFrame(
        [("p", i, 10 - i) for i in range(9)], "g string, id int, s int"
    )
    pairs = eng.preference_pairs_topk(scored, "g", "id", "s", k=3)
    assert pairs.count() == 3  # C(3,2)

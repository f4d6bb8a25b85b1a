"""Hypothesis property tests (SURVEY.md §5 item 4): round-trips and
idempotence laws on small generated inputs. Data volumes stay tiny —
the properties are about semantics, not scale."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tcdb_spark.functions.scalar import (
    cycle_floor,
    latlon_decode_lat,
    latlon_decode_lon,
)
from tcdb_spark.operators.merge import merge

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    lats=st.lists(
        st.integers(min_value=0, max_value=900), min_size=1, max_size=8
    ),
    north=st.lists(st.booleans(), min_size=8, max_size=8),
)
@_slow
def test_latlon_encode_decode_roundtrip(spark, lats, north):
    """decode(encode(x)) == ±x/10 for every tenths-magnitude int."""
    rows = [
        (f"{v}{'N' if n else 'S'}", f"{v}{'E' if n else 'W'}", v, n)
        for v, n in zip(lats, north)
    ]
    df = spark.createDataFrame(rows, "lat_s string, lon_s string, mag int, north boolean")
    out = df.select(
        "mag", "north",
        latlon_decode_lat("lat_s").alias("lat"),
        latlon_decode_lon("lon_s").alias("lon"),
    ).collect()
    for r in out:
        expect = r["mag"] / 10.0
        assert r["lat"] == (expect if r["north"] else -expect)
        assert r["lon"] == (expect if r["north"] else -expect)


@given(
    seconds=st.lists(
        st.integers(min_value=0, max_value=10_000_000), min_size=1, max_size=6
    ),
    hours=st.sampled_from([1, 3, 6, 12, 24]),
)
@_slow
def test_cycle_floor_properties(spark, seconds, hours):
    """floor(ts) <= ts, floor is idempotent, and lands on a cycle hour."""
    base = dt.datetime(2022, 1, 1)
    rows = [(base + dt.timedelta(seconds=s),) for s in seconds]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = df.select(
        "ts",
        cycle_floor("ts", hours).alias("c1"),
        cycle_floor(cycle_floor("ts", hours), hours).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] <= r["ts"]
        assert r["c1"] == r["c2"]
        assert r["c1"].hour % hours == 0
        assert r["c1"].minute == 0 and r["c1"].second == 0


@given(
    current=st.lists(
        st.tuples(st.integers(0, 6), st.floats(allow_nan=False, allow_infinity=False, width=32)),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    incoming=st.lists(
        st.tuples(st.integers(0, 6), st.floats(allow_nan=False, allow_infinity=False, width=32)),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
@_slow
def test_merge_laws(spark, current, incoming):
    """MERGE laws on arbitrary keyed batches: (1) result keys = union of
    input keys; (2) incoming wins on intersection; (3) replay is a fixed
    point."""
    cur = spark.createDataFrame(current or [], "k int, v float")
    inc = spark.createDataFrame(incoming or [], "k int, v float")
    once = merge(cur, inc, keys=["k"])
    got = {r["k"]: r["v"] for r in once.collect()}
    expect = {k: v for k, v in current}
    expect.update({k: v for k, v in incoming})
    assert got == expect
    twice = merge(once, inc, keys=["k"])
    assert {(r["k"], r["v"]) for r in twice.collect()} == set(got.items())


# ---- MAT 5 container round-trip (sources/mat5.py) -------------------------

_mat_scalar = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.integers(min_value=-(2**31), max_value=2**31 - 1).map(float),
)
_mat_value = st.one_of(
    _mat_scalar,
    st.lists(_mat_scalar, min_size=1, max_size=8),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0xFFFF,
                               blacklist_categories=("Cs",)),
        min_size=1, max_size=12,
    ),
    st.none(),
)
_mat_name = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=12)


@settings(max_examples=40, deadline=None)
@given(
    variables=st.dictionaries(_mat_name, _mat_value, min_size=1, max_size=4),
    fields=st.dictionaries(_mat_name, _mat_value, min_size=1, max_size=4),
    compress=st.booleans(),
)
def test_mat5_roundtrip_property(variables, fields, compress):
    """save_mat -> load_mat is the identity on scalars, float vectors,
    unicode strings, None, and (1x1 and 1xN) struct arrays, compressed
    or not."""
    import io
    import math

    from tcdb_spark.sources import mat5

    variables = dict(variables)
    variables["s"] = [dict(fields), dict(fields)]  # 1x2 struct array
    buf = io.BytesIO()
    mat5.save_mat(buf, variables, compress=compress)
    back = mat5.load_mat(buf.getvalue())

    def check(expected, got):
        if expected is None:
            assert got is None
        elif isinstance(expected, str):
            assert got == expected
        elif isinstance(expected, float):
            assert got == expected or (math.isnan(expected) and math.isnan(got))
        elif isinstance(expected, list) and expected and isinstance(expected[0], dict):
            got_list = got if isinstance(got, list) else [got]
            assert len(got_list) == len(expected)
            for e, g in zip(expected, got_list):
                for k, v in e.items():
                    check(v, g[k])
        else:  # numeric list
            vals = [got] if not hasattr(got, "__len__") else list(got)
            assert len(vals) == len(expected)
            for e, g in zip(expected, vals):
                check(float(e), float(g))

    assert set(back) == set(variables)
    for name, value in variables.items():
        check(value, back[name])


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=14), min_size=1, max_size=300
    ),
    capacity=st.integers(min_value=3, max_value=8),
)
@_slow
def test_mg_partials_superset_guarantee(spark, data, capacity):
    """Mergeable-summary guarantee: any token with global count >
    N/(capacity+1) appears in the union of per-partition MG summaries,
    under whatever partitioning repartition(3) deals."""
    from collections import Counter

    from tcdb_spark.operators.sketch import misra_gries_partials

    rows = [(f"t{i}",) for i in data]
    df = spark.createDataFrame(rows, "token string").repartition(3)
    cand = {
        r.token for r in misra_gries_partials(df, "token", capacity).collect()
    }
    exact = Counter(f"t{i}" for i in data)
    n = len(data)
    for tok, c in exact.items():
        if c * (capacity + 1) > n:
            assert tok in cand, (tok, c, n, capacity, sorted(cand))


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=18),
        min_size=1,
        max_size=5,
    ),
)
@_slow
def test_duplicated_spans_match_bruteforce(spark, docs):
    """duplicated_spans == a direct Python reference on random tiny-
    vocab corpora (vocab 4, so cross-doc window collisions are dense)."""
    from tcdb_spark.operators.spans import duplicated_spans

    w = 3
    corpus = {i: [f"v{t}" for t in toks] for i, toks in enumerate(docs)}

    # reference: window occurrences, owner = min doc, merge intervals
    occs: dict[tuple, list] = {}
    for d, toks in corpus.items():
        for s in range(len(toks) - w + 1):
            occs.setdefault(tuple(toks[s : s + w]), []).append((d, s + 1))
    covered: dict[int, set] = {}
    for win, hits in occs.items():
        dset = {d for d, _ in hits}
        if len(dset) < 2:
            continue
        owner = min(dset)
        for d, s in hits:
            if d != owner:
                covered.setdefault(d, set()).update(range(s, s + w))
    expected = set()
    for d, pos in covered.items():
        for start, end in _islands(sorted(pos)):
            expected.add((d, start, end, end - start + 1))

    rows = [(d, toks) for d, toks in corpus.items()]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_spans(df, w=w).collect()
    }
    assert got == expected


def _islands(sorted_positions):
    runs = []
    for p in sorted_positions:
        if runs and p == runs[-1][1] + 1:
            runs[-1][1] = p
        else:
            runs.append([p, p])
    return [(a, b) for a, b in runs]


@_slow
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),          # key
            st.sampled_from(["I", "U", "D"]),               # op
            st.integers(min_value=0, max_value=99),         # payload
        ),
        min_size=1,
        max_size=12,
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=11), max_size=3),
    order_seed=st.integers(min_value=0, max_value=1000),
)
def test_apply_cdc_soft_converges_under_any_batching(spark, ops, cuts, order_seed):
    """PROPERTY: soft CDC apply reaches the same final table for ANY
    split of the log into batches applied in ANY order — the guarantee
    the tombstone + applied-seq guard is supposed to provide."""
    import random

    from pyspark.sql import types as T

    from tcdb_spark.operators.merge import apply_cdc_soft, cdc_bootstrap, cdc_view

    # one global strictly-increasing seq per event (a log's LSN)
    feed_rows = [(k, i + 1, op, f"v{val}") for i, (k, op, val) in enumerate(ops)]

    # ground truth: max-seq op per key
    final: dict[int, tuple[int, str, str]] = {}
    for k, seq, op, v in feed_rows:
        if k not in final or seq > final[k][0]:
            final[k] = (seq, op, v)
    want = {k: v for k, (seq, op, v) in final.items() if op != "D"}

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    empty = cdc_bootstrap(spark.createDataFrame([], "k long, v string"))

    # split the log at the given cut points, shuffle batch order
    bounds = sorted({c for c in cuts if c < len(feed_rows)})
    batches, prev = [], 0
    for b in bounds + [len(feed_rows)]:
        if b > prev:
            batches.append(feed_rows[prev:b])
            prev = b
    random.Random(order_seed).shuffle(batches)

    table = empty
    for batch in batches:
        table = apply_cdc_soft(
            table, spark.createDataFrame(batch, schema), ["k"]
        ).localCheckpoint()

    got = {r["k"]: r["v"] for r in cdc_view(table).collect()}
    assert got == want


@given(
    docs=st.lists(
        # shingle SETS over a vocab of 8 so cross-doc overlap is dense
        st.sets(st.integers(min_value=0, max_value=7), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    ),
    t=st.sampled_from([0.5, 0.7, 0.9]),
)
@_slow
def test_prefix_jaccard_matches_bruteforce(spark, docs, t):
    """prefix_jaccard_pairs == all-pairs brute force on random tiny-
    vocab shingle sets — the PPJoin completeness theorem under every
    overlap density hypothesis can generate, not just the planted
    fixture the oracle attests."""
    from tcdb_spark.operators.textdedup import prefix_jaccard_pairs

    corpus = {i: {f"s{v}" for v in sh} for i, sh in enumerate(docs)}
    expected = set()
    for a in corpus:
        for b in corpus:
            if a >= b:
                continue
            inter = len(corpus[a] & corpus[b])
            union = len(corpus[a] | corpus[b])
            if union and inter / union >= t:
                expected.add((a, b, round(inter / union, 4)))

    df = spark.createDataFrame(
        [(i, sorted(sh)) for i, sh in corpus.items()],
        "doc_id long, shingles array<string>",
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_jaccard_pairs(df, t).collect()
    }
    assert got == expected


@given(
    docs=st.lists(
        st.sets(st.integers(min_value=0, max_value=7), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    ),
    t=st.sampled_from([0.3, 0.5, 1.0]),
)
@_slow
def test_containment_matches_bruteforce(spark, docs, t):
    """containment_pairs (odd=eval, even=train) == brute force on the
    same random corpora — asymmetric prefix completeness."""
    from tcdb_spark.operators.textdedup import containment_pairs

    corpus = {i: {f"s{v}" for v in sh} for i, sh in enumerate(docs)}
    expected = set()
    for e in corpus:
        if e % 2 != 1:
            continue
        for tr in corpus:
            if tr % 2 != 0:
                continue
            cont = len(corpus[e] & corpus[tr]) / len(corpus[e])
            if cont >= t:
                expected.add((e, tr, round(cont, 4)))

    df = spark.createDataFrame(
        [(i, sorted(sh)) for i, sh in corpus.items()],
        "doc_id long, shingles array<string>",
    )
    got = {
        (r.eval_doc, r.train_doc, r.containment)
        for r in containment_pairs(
            df, t, lambda d: d % 2 == 1, lambda d: d % 2 == 0
        ).collect()
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=40,
    ),
)
@_slow
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-oriented wedge enumeration == brute-force triangle
    membership counting on arbitrary small graphs (self-loops and
    duplicate/reversed edges included in the input)."""
    from itertools import combinations

    from tcdb_spark.operators.graph import triangle_counts

    # brute force on the cleaned undirected simple graph
    adj = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in adj for x in e})
    want: dict[int, int] = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= adj:
            for x in (a, b, c):
                want[x] = want.get(x, 0) + 1

    df = spark.createDataFrame(edges or [(0, 0)], "src int, dst int")
    got = {r["node"]: r["tri_cnt"] for r in triangle_counts(df).collect()}
    assert got == want


@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 10_000), st.integers(0, 5_000)),
        min_size=0,
        max_size=25,
    ),
    bin_s=st.sampled_from([60, 3600, 7001]),
)
@_slow
def test_interval_overlap_matches_bruteforce(spark, ivs, bin_s):
    """Bin-cover overlap join == brute-force O(n^2) range scan for any
    bin width (the cover may only affect WORK, never the result)."""
    from tcdb_spark.operators.joins import interval_overlap_pairs

    rows = [(k, i, s, s + d) for i, (k, s, d) in enumerate(ivs)]
    want = set()
    for ka, ia, sa, ea in rows:
        for kb, ib, sb, eb in rows:
            if ka < kb and sa <= eb and sb <= ea:
                want.add((ka, ia, kb, ib, min(ea, eb) - max(sa, sb)))

    df = spark.createDataFrame(rows or [(0, 0, 0, 0)], "k int, i int, s long, e long")
    got = {
        (r["key_a"], r["id_a"], r["key_b"], r["id_b"], r["ov"])
        for r in interval_overlap_pairs(df, "k", "i", "s", "e", bin_s).collect()
    }
    if not rows:
        assert got == set()
    else:
        assert got == want


# ---------------------------------------------------------- codec round-trips


@given(
    h=st.integers(min_value=1, max_value=21),
    w=st.integers(min_value=1, max_value=21),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_property(h, w, c, seed):
    """decode(encode(px)) == px for ANY 8-bit image shape/channel
    layout — PNG is lossless by spec, so the property is exact."""
    import numpy as np

    from tcdb_spark.sources.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    out = decode_png(encode_png(px))
    assert out["width"] == w and out["height"] == h
    np.testing.assert_array_equal(out["pixels"], px)


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    gray=st.booleans(),
    mode=st.sampled_from(["plain", "rst1", "rst2", "rst5", "progressive"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_roundtrip_property(h, w, gray, mode, seed):
    """Flat-quant-1 JPEG round trip is within ±1 of the input for ANY
    shape (crop path), gray or RGB, baseline with or without restart
    markers AND progressive (chroma conversion + float DCT rounding
    only); progressive decode must equal baseline decode EXACTLY (same
    quantized coefficients, different entropy streams)."""
    import numpy as np

    from tcdb_spark.sources.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    c = 1 if gray else 3
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    if mode == "progressive":
        out = decode_jpeg(encode_jpeg(px, quant=1, progressive=True))
        base = decode_jpeg(encode_jpeg(px, quant=1))
        np.testing.assert_array_equal(out["pixels"], base["pixels"])
    else:
        restart = {"plain": 0, "rst1": 1, "rst2": 2, "rst5": 5}[mode]
        out = decode_jpeg(encode_jpeg(px, quant=1, restart=restart))
    assert out["pixels"].shape == (h, w, c)
    err = np.abs(out["pixels"].astype(int) - px.astype(int)).max()
    # gray is DCT-exact to ±1; RGB adds YCbCr forward/inverse rounding
    assert err <= (1 if gray else 3)


# ---------------------------------------------------------------------------
# Round-7 session-2: PQ / k-means semantics on generated corpora.
# Components are SMALL INTEGERS: every dot product is an exact integer
# in double (sums < 2^53 are order-independent), sqrt is IEEE
# correctly-rounded on identical bits, and both sides compute
# dot/(sqrt(da)*sqrt(db)) in the same shape — so ranks compare exactly,
# no tolerance needed.
# ---------------------------------------------------------------------------

_vec_strategy = st.lists(
    st.lists(st.integers(min_value=-4, max_value=4), min_size=8, max_size=8).filter(
        lambda v: any(x != 0 for x in v)
    ),
    min_size=6,
    max_size=20,
)


def _brute_topk(vecs, k):
    import math

    out = {}
    for qi in range(min(3, len(vecs))):
        q = vecs[qi]
        scored = []
        for ci, c in enumerate(vecs):
            if ci == qi:
                continue
            dot = sum(a * b for a, b in zip(q, c))
            cos = dot / (
                math.sqrt(sum(a * a for a in q)) * math.sqrt(sum(b * b for b in c))
            )
            scored.append((-cos, ci))
        scored.sort()
        out[qi] = [ci for _, ci in scored[:k]]
    return out


@given(vecs=_vec_strategy)
@_slow
def test_pq_exact_mode_matches_bruteforce_property(spark, vecs):
    """shortlist >= corpus must equal brute-force top-k on ANY corpus,
    whatever degenerate geometry hypothesis plants (duplicate vectors,
    scaled copies = cosine-1 ties -> vec_id tiebreak, near-orthogonal
    sets)."""
    from pyspark.sql import functions as F2

    from tcdb_spark.operators.similarity import pq_build, pq_search

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    encoded, codebooks = pq_build(df, m=4, ksub=4, seed=7)
    q = df.where(F2.col("vec_id") < 3).select(
        F2.col("vec_id").alias("q_id"),
        F2.col("embedding").cast("array<double>").alias("q_emb"),
    )
    expect = _brute_topk(vecs, k=3)
    got = {}
    res = pq_search(encoded, codebooks, q, k=3, shortlist=1 << 30).collect()
    for r in sorted(res, key=lambda r: (r["q_id"], r["rank_in_group"])):
        got.setdefault(r["q_id"], []).append(r["vec_id"])
    assert got == expect, f"{got} != {expect}"


@given(
    vecs=_vec_strategy,
    k=st.integers(min_value=1, max_value=4),
)
@_slow
def test_kmeans_assign_matches_bruteforce_property(spark, vecs, k):
    """Nearest-centroid assignment (ties to smaller centroid id) must
    match a pure-Python argmin on any generated corpus, through BOTH
    the fold path and the matmul path."""
    import numpy as np

    from tcdb_spark.operators.clustering import _assign_l2, kmeans_assign

    k = min(k, len(vecs))
    cents = [[float(x) for x in v] for v in vecs[:k]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    expect = {}
    for i, v in enumerate(vecs):
        d2s = [
            (sum((a - b) * (a - b) for a, b in zip(v, c)), j)
            for j, c in enumerate(cents)
        ]
        expect[i] = min(d2s)[1]
    got = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, cents).collect()}
    assert got == expect
    base = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    got2 = {
        r["vec_id"]: r["cluster"] for r in _assign_l2(base, np.asarray(cents)).collect()
    }
    assert got2 == expect


_word_strategy = st.lists(
    st.text(
        alphabet="abct#3", min_size=1, max_size=6
    ),
    min_size=1,
    max_size=40,
)


@given(words=_word_strategy)
@_slow
def test_gopher_rules_match_reference_property(spark, words):
    """Every rule flag must equal a pure-Python reference on arbitrary
    word soups (exact integer ratios — no tolerance)."""
    import tempfile

    from tcdb_spark.plans import QUERIES
    from tcdb_spark.plans.queries_text import (
        _G_MAX_DUP_FRAC,
        _G_MAX_MEAN_LEN,
        _G_MAX_SYMBOL_FRAC,
        _G_MAX_WORDS,
        _G_MIN_ALPHA_FRAC,
        _G_MIN_MEAN_LEN,
        _G_MIN_STOPWORDS,
        _G_MIN_WORDS,
        STOPWORDS,
    )

    text = " ".join(words)
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        rows = QUERIES["quality_gopher_rules"](spark, td).collect()
    w = text.strip().split()
    if not w or not text.strip():
        assert rows == []
        return
    n = len(w)
    mean_len = sum(len(t) for t in w) / n
    symbol_frac = sum(1 for t in w if any(not c.isalnum() for c in t)) / n
    alpha_frac = sum(1 for t in w if any(c.isalpha() for c in t)) / n
    # lane counts distinct RAW tokens whose lowercase is a stopword
    n_stop = len({t for t in w if t.lower() in STOPWORDS})
    dup_frac = 1.0 - len(set(w)) / n
    expect = {
        "n_words": n,
        "rule_word_count": _G_MIN_WORDS <= n <= _G_MAX_WORDS,
        "rule_mean_word_len": _G_MIN_MEAN_LEN <= mean_len <= _G_MAX_MEAN_LEN,
        "rule_symbol_ratio": symbol_frac <= _G_MAX_SYMBOL_FRAC,
        "rule_alpha_words": alpha_frac >= _G_MIN_ALPHA_FRAC,
        "rule_stopwords": n_stop >= _G_MIN_STOPWORDS,
        "rule_repetition": dup_frac <= _G_MAX_DUP_FRAC,
    }
    expect["passes"] = all(v for k, v in expect.items() if k.startswith("rule_"))
    got = rows[0].asDict()
    del got["doc_id"]
    assert got == expect

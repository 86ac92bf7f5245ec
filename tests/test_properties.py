"""Property-based tests (hypothesis): codec round-trips, parser
robustness, stemmer safety. Only the segment codec round-trip needs the
Spark session; it batches each drawn example into one DataFrame."""

from hypothesis import given, settings, strategies as st

from phphinder_spark.analysis.porter2 import stem
from phphinder_spark.functions.idencoder import base62_decode, base62_encode
from phphinder_spark.index.segments import decode_segments, encode_segments
from phphinder_spark.query.parser import QueryParser


@st.composite
def posting_groups(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    gaps = draw(st.lists(st.integers(1, 10**6), min_size=n, max_size=n))
    doc_ids = []
    acc = draw(st.integers(0, 10**12))
    for g in gaps:
        acc += g
        doc_ids.append(acc)
    tfs = draw(st.lists(st.integers(1, 10**4), min_size=n, max_size=n))
    positions = [
        sorted(set(draw(st.lists(st.integers(0, 10**5), min_size=0, max_size=8))))
        for _ in range(n)
    ]
    return doc_ids, tfs, positions


@settings(max_examples=10, deadline=None)
@given(st.lists(posting_groups(), min_size=1, max_size=20))
def test_segment_codec_roundtrip(spark, groups):
    """encode_segments -> decode_segments is the identity on postings,
    and each segment row's skip statistics match its postings."""
    span = 1 << 24  # a 60-doc group with gaps up to 10^6 spans chunks
    rows = [
        ("f", f"t{g}", d, tf, pos)
        for g, (doc_ids, tfs, positions) in enumerate(groups)
        for d, tf, pos in zip(doc_ids, tfs, positions)
    ]
    postings = spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )
    segments = encode_segments(postings, chunk_span=span)
    back = decode_segments(segments).collect()
    assert sorted(
        (r["term"], r["doc_id"], r["tf"], list(r["positions"])) for r in back
    ) == sorted((t, d, tf, pos) for _, t, d, tf, pos in rows)
    by_chunk: dict[tuple, list] = {}
    for _, t, d, tf, _ in rows:
        by_chunk.setdefault((t, d // span), []).append((d, tf))
    stats = {
        (r["term"], r["chunk"]): (r["df"], r["cf"], r["min_doc"], r["max_doc"], r["max_tf"])
        for r in segments.collect()
    }
    assert stats == {
        key: (len(v), sum(tf for _, tf in v), v[0][0], v[-1][0], max(tf for _, tf in v))
        for key, v in by_chunk.items()
    }


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=10**15))
def test_base62_roundtrip(n):
    assert base62_decode(base62_encode(n)) == n


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=80))
def test_parser_never_crashes(q):
    # any input parses to some AST with a printable string form
    ast = QueryParser("*").parse(q)
    assert isinstance(ast.to_string(), str)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=30))
def test_stemmer_total_and_shrinking(w):
    out = stem(w)
    assert isinstance(out, str)
    # Porter2 never grows a word by more than the +e restorations
    assert len(out) <= len(w) + 1


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzäöüßáéíóúñàèùâêîôûëïç"),
        max_size=30,
    )
)
def test_multilang_stemmers_total(w):
    """de/es/fr Snowball ports are total on arbitrary letter strings and
    never grow the input beyond the algorithms' bounded rewrites."""
    from phphinder_spark.analysis.snowball_de import stem as de
    from phphinder_spark.analysis.snowball_es import stem as es
    from phphinder_spark.analysis.snowball_fr import stem as fr

    for f in (de, es, fr):
        out = f(w)
        assert isinstance(out, str)
        # ß->ss (de) and eus->eux-style rewrites add at most 2 chars
        assert len(out) <= len(w) + max(2, w.count("ß"))


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz äöüáéíóú"),
        max_size=60,
    ),
    st.sampled_from(["de", "es", "fr"]),
)
def test_multilang_analyzer_chain_total(text, lang):
    from phphinder_spark.analysis.analyzers import Analyzer

    analyzer = Analyzer.default(lang)
    for term, pos in analyzer.analyze(text):
        assert term != "" and isinstance(pos, int)


# ---- round-4 ops: pure-Python reference implementations as property oracles


def _session():
    """Reuse the running test session if any; else build a small one.
    (hypothesis @given cannot take function-scoped pytest fixtures.)"""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        max_size=25,
    ),
    st.sampled_from(["label", "star", "auto"]),
)
@settings(max_examples=15, deadline=None)
def test_connected_components_equals_union_find(pairs, algorithm):
    """Every Spark CC strategy (min-label propagation, large/small-star
    alternation, and the auto switchover) == driver-side union-find on
    random graphs (chains, cycles, multi-component, self-loops included —
    round-6: self-pair-only ids must surface as singletons from every
    algorithm). auto uses switch_after=1 so the star fallback path
    actually runs."""
    import pytest

    spark = _session()
    if spark is None:
        pytest.skip("no shared session")
    from phphinder_spark.ops.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expect = {x: find(x) for x in parent}
    # canonicalize: min id of each set
    roots = {}
    for x in sorted(expect):
        roots.setdefault(find(x), min(find(x), x))
    expect = {x: roots[find(x)] for x in parent}

    df = spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(0, 0)][:0], "a_id long, b_id long"
    )
    kw = {"algorithm": algorithm}
    if algorithm == "auto":
        kw["switch_after"] = 1
    if not pairs:
        assert connected_components(df, **kw).count() == 0
        return
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=110), min_size=1, max_size=8),
        min_size=1, max_size=30, unique=True,
    ),
    st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=110), min_size=2, max_size=5),
)
@settings(max_examples=25, deadline=None)
def test_infix_probe_equals_bruteforce_contains(terms, token):
    """Bigram infix candidates == brute-force substring filter over the
    dictionary, for random small-alphabet (collision-heavy) term sets."""
    import pytest

    spark = _session()
    if spark is None:
        pytest.skip("no shared session")
    from phphinder_spark.index.typo_ngram import (
        build_ngram_index,
        infix_candidate_terms,
    )

    dict_df = spark.createDataFrame(
        [("f", t) for t in terms], "field string, term string"
    )
    idx = build_ngram_index(dict_df)
    got = {
        r["term"] for r in infix_candidate_terms(idx, token, ["f"]).collect()
    }
    assert got == {t for t in terms if token in t}

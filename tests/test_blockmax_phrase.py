"""Block-max pruned BM25 (the kernel's chunk-level pruning over the
in-memory postings) must equal the TakeOrderedAndProject oracle;
positional phrase candidates must agree with brute-force token alignment
and verified phrase results with the substring semantics."""

import re

import pytest
from pyspark.sql import functions as F

from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index.builder import assign_doc_ids
from phphinder_spark.index.phrase import phrase_candidates, phrase_match
from phphinder_spark.schema import code_schema
from phphinder_spark.scoring import PostingsSource, bm25_topk

N_DOCS = 2000


@pytest.fixture(scope="module")
def eng(spark):
    corpus = generate_code_corpus(spark, N_DOCS, seed=5, partitions=8)
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    e = SparkSearchEngine(spark, code_schema())
    e.index_dataframe(docs)
    return e


def memory_source(eng):
    return PostingsSource(eng.index.postings, eng.index.doclens, eng.index.stats())


@pytest.mark.parametrize(
    "query",
    ["function return", "varint delta merge", "needle_100 segment", "broadcast"],
)
def test_blockmax_equals_bruteforce_topk(eng, query):
    terms = [str(t) for t, _ in eng.schema.analyzer.analyze(query)]
    brute, _ = bm25_topk(memory_source(eng), terms, "content", k=10)
    pruned, metrics = bm25_topk(memory_source(eng), terms, "content", k=10, prune=True)
    assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
        (r["doc_id"], r["score"]) for r in brute.collect()
    ]
    assert metrics["chunks_total"] > 0


def test_blockmax_prunes_skewed_postings(spark):
    """Skewed store (Zipf-like tf): the top-k all carry both query terms
    with high tf. Both terms sit in every doc-id chunk (span 64 at 2000
    docs -> 32 chunks; "beta" is in every 7th doc), so no chunk bound can
    fall below θ: the kernel quick-rejects and scores every chunk in one
    pass, with the exhaustive top-k."""
    rows = []
    for d in range(2000):
        # every doc has "alpha" tf 1; docs 0..19 additionally "beta" tf 6
        # and "alpha" tf 8 (stacked): score leaders are unambiguous
        if d < 20:
            rows.append(("content", "alpha", d, 8, list(range(8))))
            rows.append(("content", "beta", d, 6, list(range(8, 14))))
        else:
            rows.append(("content", "alpha", d, 1, [0]))
            if d % 7 == 0:
                rows.append(("content", "beta", d, 1, [1]))
    postings = spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )
    doclens = postings.groupBy("doc_id", "field").agg(F.sum("tf").alias("dl"))
    source = PostingsSource(postings, doclens, {"n_docs": 2000, "avgdl": {"content": 2.0}})
    pruned, metrics = bm25_topk(source, ["alpha", "beta"], "content", k=5, prune=True)
    brute, _ = bm25_topk(source, ["alpha", "beta"], "content", k=5)
    assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
        (r["doc_id"], r["score"]) for r in brute.collect()
    ]
    assert metrics["quick_reject"] is True, metrics
    assert metrics["chunks_total"] == metrics["chunks_decoded"] == 32, metrics


def test_phrase_candidates_bruteforce(spark, eng):
    analyzed = [("varint", 0), ("delta", 1)]
    got = {r["doc_id"] for r in
           phrase_candidates(eng.index.postings, analyzed, "content").collect()}
    docs = eng.index.docs.select("doc_id", "content").collect()
    expect = set()
    for r in docs:
        toks = [t.lower() for t in re.split(r"\W+", r["content"]) if t]
        for i in range(len(toks) - 1):
            if toks[i] == "varint" and toks[i + 1] == "delta":
                expect.add(r["doc_id"])
                break
    assert got == expect
    assert expect  # non-trivial


def test_phrase_match_verified_equals_substring_for_word_phrases(spark, eng):
    phrase = "varint delta"
    verified = {
        r["doc_id"]
        for r in phrase_match(
            eng.index.postings, eng.index.docs, eng.schema.analyzer,
            phrase, "content",
        ).collect()
    }
    substr = {
        r["doc_id"]
        for r in eng.index.docs.where(F.col("content").contains(phrase))
        .select("doc_id")
        .collect()
    }
    # corpus content is "tok tok tok\n..." — substring matches can only
    # occur at token boundaries joined by a space, and the substring verify
    # removes cross-line candidates, so the sets coincide exactly
    assert verified == substr
    assert len(verified) > 0

def test_engine_strategy_parity(eng):
    a = eng.search_topk_bm25("varint delta merge", k=8, field="content").collect()
    b = eng.search_topk_bm25(
        "varint delta merge", k=8, field="content", strategy="blockmax"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_batched_bm25_matches_per_query(eng):
    phrases = ["varint delta merge", "function return", "needle_100"]
    batch = eng.search_topk_bm25_many(phrases, k=5, field="content").collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for p in phrases:
        single = eng.search_topk_bm25(p, k=5, field="content").collect()
        expect = [(i + 1, r["doc_id"], r["score"]) for i, r in enumerate(single)]
        assert sorted(got[p]) == expect, p

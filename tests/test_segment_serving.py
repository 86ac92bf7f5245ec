"""Engine serving from the compressed segment store must equal the
in-memory engine — with the uncompressed postings directory DELETED, so
any access path that still needed it would fail loudly.

Covers the round-2 verdict gap: the cold 100-TB serving path
(segment_bm25_topk/_blockmax, typo n-gram index) existed but was not
reachable through the SparkSearchEngine API.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index.manifest import build_resumable_index
from phphinder_spark.schema import code_schema

N_DOCS = 500


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("serve") / "idx")
    corpus = generate_code_corpus(spark, N_DOCS, seed=11, partitions=4)
    build_resumable_index(spark, corpus, code_schema(), out_dir, n_chunks=4)

    mem = SparkSearchEngine(spark, code_schema())
    mem.index_dataframe(spark.read.parquet(f"{out_dir}/docs"))

    # the point of the cold path: the uncompressed postings are GONE
    shutil.rmtree(os.path.join(out_dir, "postings"))
    seg = SparkSearchEngine.from_index_dir(
        spark, out_dir, code_schema(), serve="segments"
    )
    return mem, seg, out_dir


def test_ngram_index_is_persisted_and_loaded(served):
    _, seg, out_dir = served
    assert os.path.exists(os.path.join(out_dir, "ngram"))
    # loaded from the manifest layout, NOT rebuilt from the dictionary
    assert seg.index._ngram is not None


@pytest.mark.parametrize("strategy", ["exhaustive", "blockmax"])
def test_segment_bm25_topk_equals_memory(served, strategy):
    mem, seg, _ = served
    phrase = "function return value"
    a = [
        (r["doc_id"], r["score"])
        for r in mem.search_topk_bm25(phrase, k=15, field="content").collect()
    ]
    b = [
        (r["doc_id"], r["score"])
        for r in seg.search_topk_bm25(
            phrase, k=15, field="content", strategy=strategy
        ).collect()
    ]
    assert a == b


def test_segment_bm25_batched_equals_memory(served):
    mem, seg, _ = served
    phrases = ["function return", "class import", "filter sorted"]
    key = lambda r: (r["query_id"], r["rank"])
    a = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in mem.search_topk_bm25_many(phrases, k=5, field="content").collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in seg.search_topk_bm25_many(phrases, k=5, field="content").collect()
    )
    assert a == b


@pytest.mark.parametrize(
    "query",
    [
        "function",               # term
        "function import",        # AND
        "function OR import",     # OR
        "function NOT(import)",   # NOT
        "funct*",                 # prefix
        "functoin",               # typo -> n-gram index
        '"function ident_1"',     # phrase -> positional prefilter
    ],
)
def test_segment_search_df_equals_memory(served, query):
    mem, seg, _ = served
    a = sorted(
        (r["doc_id"], float(r["weight"]))
        for r in mem.search_df(query).select("doc_id", "weight").collect()
    )
    b = sorted(
        (r["doc_id"], float(r["weight"]))
        for r in seg.search_df(query).select("doc_id", "weight").collect()
    )
    assert a == b, query


def test_segment_find_docs_by_index_equals_memory(served):
    mem, seg, _ = served
    assert mem.find_docs_by_index("function") == seg.find_docs_by_index("function")


def test_segment_serving_with_stemmed_schema_and_shadow(spark, tmp_path):
    """Non-faithful (stemmed) analyzer end-to-end through the cold path:
    the <field>#raw shadow postings travel through the segment store and
    the phrase prefilter finds them there — uncompressed postings deleted."""
    from phphinder_spark.analysis import Analyzer
    from phphinder_spark.schema import IS_FULLTEXT, IS_INDEXED, IS_STORED, SearchSchema

    schema = SearchSchema(
        {"text": IS_INDEXED | IS_STORED | IS_FULLTEXT},
        analyzer=Analyzer.default("en"),
        name="stemmed_serve",
    )
    rows = [(i, f"the quick spark table number{i} runs fast") for i in range(40)]
    rows += [(100 + i, f"unrelated content piece {i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out_dir = str(tmp_path / "sidx")
    build_resumable_index(spark, df, schema, out_dir, n_chunks=2)

    mem = SparkSearchEngine(spark, schema)
    mem.index_dataframe(spark.read.parquet(f"{out_dir}/docs"))

    shutil.rmtree(os.path.join(out_dir, "postings"))
    seg = SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments")

    for query in ['"spark table"', "spark", "runs", '"quick spark"']:
        a = sorted(r["doc_id"] for r in mem.search_df(query).collect())
        b = sorted(r["doc_id"] for r in seg.search_df(query).collect())
        assert a == b, query
    assert seg._shadow_available("text")  # probed on SEGMENT rows

    # once the store's driver chunk map is loaded (by a BM25 query), the
    # shadow check reads its (field, term) keys: no probe job
    fresh = SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments")
    fresh.search_topk_bm25("spark", k=3, field="text").collect()
    assert fresh._store._chunks is not None
    sc = spark.sparkContext
    sc.setJobGroup("shadow-from-chunk-map", "job-count probe")
    try:
        assert fresh._shadow_available("text")
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("shadow-from-chunk-map")) == []


def test_flush_into_segments_served_engine_demotes_to_storage(spark, tmp_path):
    """Flushing new docs into a segments-served engine hands ownership to
    the storage: queries must see the new docs (the stale _segments_df
    must stop serving — regression for a self-review find)."""
    from phphinder_spark.analysis import Analyzer
    from phphinder_spark.schema import IS_FULLTEXT, IS_INDEXED, IS_STORED, SearchSchema

    schema = SearchSchema(
        {"text": IS_INDEXED | IS_STORED | IS_FULLTEXT},
        analyzer=Analyzer.lowercase_only(),
        name="flush_serve",
    )
    df = spark.createDataFrame(
        [(i, f"base document {i} spark") for i in range(10)],
        "doc_id long, text string",
    )
    out_dir = str(tmp_path / "fidx")
    build_resumable_index(spark, df, schema, out_dir, n_chunks=2)
    eng = SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments")
    assert eng.search_df("spark").count() == 10

    eng.add_document({"text": "freshly flushed zebra document"})
    eng.flush()
    assert eng._serve == "postings"
    assert eng.search_df("zebra").count() == 1
    assert eng.search_df("spark").count() == 10  # old docs carried over


def test_segment_serving_plan_reads_segment_store_only(served):
    """The term-leaf plan must scan the segment store parquet (pushed
    field/term filters) — the postings dir is deleted, so this doubles as
    the no-uncompressed-read proof; here we additionally pin the pushdown."""
    _, seg, out_dir = served
    df = seg.search_topk_bm25("function", k=5, field="content")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "segments" in plan
    assert "postings" not in plan

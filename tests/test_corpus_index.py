"""Code-corpus (input_hint shape) build invariants: per-row sha256 equality,
deterministic doc_id assignment and postings under different parallelism
(the sandbox stand-in for N-vs-4N cluster determinism), and hot-term skew
sanity."""

import re

import pytest
from pyspark.sql import functions as F

from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index.builder import assign_doc_ids, build_postings, dictionary
from phphinder_spark.schema import code_schema

N_DOCS = 1500


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_code_corpus(spark, N_DOCS, seed=42, partitions=4).cache()


def test_generation_deterministic_across_partitioning(spark, corpus):
    other = generate_code_corpus(spark, N_DOCS, seed=42, partitions=13)
    a = sorted(corpus.collect())
    b = sorted(other.collect())
    assert a == b


def test_doc_id_assignment_partition_invariant(spark, corpus):
    ids4 = assign_doc_ids(corpus, ["repo", "path", "commit"])
    ids13 = assign_doc_ids(corpus.repartition(13), ["repo", "path", "commit"])
    m4 = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in ids4.collect()}
    m13 = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in ids13.collect()}
    assert m4 == m13
    # dense 1..N
    assert sorted(m4.values()) == list(range(1, N_DOCS + 1))


def test_sha256_invariant(spark, corpus, tmp_path):
    """input_hint: per-row sha256(content) equality vs the source table,
    asserted through a write/read round trip of the engine's stored docs."""
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    path = str(tmp_path / "docs.parquet")
    docs.withColumn("content_sha256", F.sha2("content", 256)).write.parquet(path)
    stored = spark.read.parquet(path)
    src = corpus.withColumn("src_sha", F.sha2("content", 256)).select(
        "repo", "path", "commit", "src_sha"
    )
    joined = stored.join(src, ["repo", "path", "commit"])
    assert joined.count() == N_DOCS
    assert joined.where(F.col("content_sha256") != F.col("src_sha")).count() == 0


def test_postings_partition_invariant(spark, corpus):
    schema = code_schema()
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"]).cache()
    p4 = build_postings(docs, schema)
    p13 = build_postings(docs.repartition(13), schema)
    a = sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in p4.collect()
    )
    b = sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in p13.collect()
    )
    assert a == b


def test_hot_term_dictionary_df_equals_brute_force(spark, corpus):
    schema = code_schema()
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"]).cache()
    postings = build_postings(docs, schema).cache()
    pm = {(r["field"], r["term"]): r["df"] for r in dictionary(postings).collect()}
    # hot term 'function' hits ~every doc (the skew case)
    brute = docs.where(F.col("content").rlike(r"\bfunction\b")).count()
    assert pm[("content", "function")] == brute
    assert brute > N_DOCS * 0.9


def test_engine_on_code_corpus(spark, corpus):
    schema = code_schema()
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    eng = SparkSearchEngine(spark, schema)
    eng.index_dataframe(docs)
    # selective needle query
    hits = eng.search_df("needle_100").collect()
    assert len(hits) == 1
    # fielded query on lang
    assert eng.search_df("lang:py").count() == N_DOCS // len(["py", "php", "js", "go", "md"])
    # BM25 top-k returns k deterministic rows
    top = eng.search_topk_bm25("varint delta merge", k=5, field="content").collect()
    again = eng.search_topk_bm25("varint delta merge", k=5, field="content").collect()
    assert top == again
    assert len(top) == 5

"""N-gram typo index must produce exactly the same candidate terms as the
exhaustive dictionary scan (length band + levenshtein) for every query."""

import pytest
from pyspark.sql import functions as F

from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.functions.typo import levenshtein_distance_for_term
from phphinder_spark.index.builder import assign_doc_ids, build_postings, dictionary
from phphinder_spark.index.typo_ngram import build_ngram_index, typo_candidate_terms
from phphinder_spark.schema import code_schema


@pytest.fixture(scope="module")
def dict_and_index(spark):
    corpus = generate_code_corpus(spark, 800, seed=23, partitions=4)
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    postings = build_postings(docs, code_schema())
    d = dictionary(postings).cache()
    return d, build_ngram_index(d).cache()


@pytest.mark.parametrize(
    "query",
    ["vorint", "functoin", "brodcast", "partitoin", "segmant", "ident_99",
     "needle_100x", "shuffel"],
)
def test_ngram_candidates_equal_scan(spark, dict_and_index, query):
    dict_df, ngram_idx = dict_and_index
    fields = ["content", "path", "repo", "lang"]
    d = levenshtein_distance_for_term(query)
    scan = (
        dict_df.where(F.col("field").isin(fields))
        .where(F.abs(F.length("term") - F.lit(len(query))) <= d)
        .where(F.levenshtein(F.col("term"), F.lit(query)) <= d)
        .select("field", "term")
    )
    via_ngram = typo_candidate_terms(ngram_idx, query, fields)
    a = sorted((r["field"], r["term"]) for r in scan.collect())
    b = sorted((r["field"], r["term"]) for r in via_ngram.collect())
    assert a == b, query


def test_short_term_returns_empty(spark, dict_and_index):
    _, ngram_idx = dict_and_index
    # threshold 0 for len < 5 (reference TypoTolerance)
    assert typo_candidate_terms(ngram_idx, "cat", ["content"]).count() == 0


def test_auto_strategy_picks_scan_on_small_dict_same_results(spark, monkeypatch, typo_reference):
    """A small dictionary takes the driver regime (banded DP over the
    driver dictionary); forcing the n-gram regime (threshold 0) and the
    over-cap regime (no driver dictionary) returns the same docs, and all
    three equal the exhaustive length-band + Levenshtein reference."""
    from phphinder_spark import engine as engine_mod
    from phphinder_spark.engine import _TYPO_AUTO_DICT_THRESHOLD, SparkSearchEngine
    from phphinder_spark.schema import IS_FULLTEXT, IS_INDEXED, IS_STORED, SearchSchema
    from phphinder_spark.analysis import Analyzer

    schema = SearchSchema(
        {"text": IS_INDEXED | IS_STORED | IS_FULLTEXT},
        analyzer=Analyzer.lowercase_only("en"),
        name="t",
    )
    rows = [(i, f"sample spark vector document number{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    eng = SparkSearchEngine(spark, schema)
    eng.index_dataframe(df)
    expected = typo_reference(eng.index.postings, "sparq", ["text"])
    assert expected  # the typo fallback really matches something

    def run():
        return sorted(r["doc_id"] for r in eng.search_df("sparq").collect())

    assert run() == expected
    assert 0 < eng._dict_size < _TYPO_AUTO_DICT_THRESHOLD
    assert eng.index._ngram is None  # driver regime: no n-gram index built

    monkeypatch.setattr(engine_mod, "_TYPO_AUTO_DICT_THRESHOLD", 0)
    assert run() == expected
    assert eng.index._ngram is not None

    monkeypatch.setattr(engine_mod, "_DICT_DRIVER_CACHE_MAX", 0)
    monkeypatch.setattr(eng, "_tf_cache", None)
    monkeypatch.setattr(eng, "_tf_cache_tried", False)
    assert run() == expected
    assert eng._term_field_cache() is None

"""The pure-Python oracle agrees with the engine on a tiny corpus and
rejects a wrong top-k."""

import random

import pytest

from perfbench import inputs
from perfbench.oracle import Model, same_topk

N_DOCS = 150


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def engine_and_model(spark):
    from phphinder_spark.engine import SparkSearchEngine

    rows = inputs.corpus_rows(N_DOCS, seed=5)
    schema = inputs.bench_schema()
    cols = ["doc_id"] + inputs.COLUMNS
    df = spark.createDataFrame([[i + 1] + [r[c] for c in inputs.COLUMNS] for i, r in enumerate(rows)], cols)
    eng = SparkSearchEngine(spark, schema)
    eng.index_dataframe(df)
    model = Model({i + 1: r for i, r in enumerate(rows)}, schema.indexed_fields, schema.unique_field)
    return eng, model, inputs.TermPools(rows)


def _topk(eng, terms):
    rows = eng.search_topk_bm25(" ".join(terms), k=inputs.TOPK, field=inputs.FIELD).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def test_bm25_topk_matches_and_wrong_topk_is_caught(engine_and_model):
    eng, model, pools = engine_and_model
    rng = random.Random(3)
    for _ in range(4):
        terms = inputs.bm25_terms(rng, pools)
        got = _topk(eng, terms)
        want = model.bm25_topk(terms, inputs.FIELD, inputs.TOPK)
        assert len(want) > 1
        assert same_topk(got, want), terms
        swapped = [got[1], got[0]] + got[2:]
        assert not same_topk(swapped, want)
        other = next(d for d in model.docs if d not in {x for x, _ in got})
        assert not same_topk([(other, got[0][1])] + got[1:], want)


@pytest.mark.parametrize("shape", ["term", "and", "or", "not", "prefix", "phrase", "typo"])
def test_search_sets_match(engine_and_model, shape):
    eng, model, pools = engine_and_model
    rng = random.Random(shape)
    for _ in range(2):
        q = inputs.search_query(rng, pools, shape)
        assert {r.doc_id for r in eng.search(q)} == model.search(shape, q), q


def test_upsert_model_matches_flush(engine_and_model):
    eng, model, pools = engine_and_model
    batch = inputs.upsert_batch(random.Random(9), N_DOCS, 0, 6, seed=5)
    eng.add_documents([dict(d) for d in batch])
    eng.flush()
    model.upsert(batch)
    got = {int(r["doc_id"]): r["content"] for r in eng.index.docs.select("doc_id", "content").collect()}
    assert got == {d: row["content"] for d, row in model.docs.items()}
    terms = [pools.hot[0], pools.rare[0]]
    assert same_topk(_topk(eng, terms), model.bm25_topk(terms, inputs.FIELD, inputs.TOPK))

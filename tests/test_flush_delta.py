"""Upsert flush as a bounded delta: after random upsert batches, every
storage backend answers ``search`` and BM25 top-k exactly like a fresh
bulk build of the final corpus, with the same driver dictionary and BM25
stats; a memory-mode flush runs a bounded number of jobs, the first
queries after it plan without a job, and the storage keeps one flat copy
of each relation however many flushes run."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from phphinder_spark.analysis import Analyzer
from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.functions.frames import local_frame
from phphinder_spark.index.storage import (
    DuckDBStorage,
    KVStorage,
    MemoryStorage,
    ParquetSnapshotStorage,
)
from phphinder_spark.schema import (
    IS_FULLTEXT,
    IS_INDEXED,
    IS_STORED,
    IS_UNIQUE,
    SearchSchema,
    test_schema as make_test_schema,
)

WORDS = (
    "alpha beta gamma delta search engine world cat dog snake running runs "
    "ran php spark index fun the of and animal minimal"
).split()


def lowercase_schema() -> SearchSchema:
    """Lowercase chain (no shadows), a string unique key and an indexed
    double field (one whole token per value)."""
    return SearchSchema(
        {
            "key": IS_STORED | IS_INDEXED | IS_UNIQUE,
            "title": IS_STORED | IS_INDEXED,
            "body": IS_STORED | IS_INDEXED | IS_FULLTEXT,
            "score": IS_STORED | IS_INDEXED,
        },
        analyzer=Analyzer.lowercase_only(),
        types={"score": "double"},
        name="delta_lowercase",
    )


def stemmed_schema() -> SearchSchema:
    """The reference test schema: stemmed chain with ``#raw`` shadows and
    a long unique key."""
    return make_test_schema()


SCHEMAS = {"lowercase": lowercase_schema, "stemmed": stemmed_schema}


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n)).capitalize() + "."


def _doc(rng: random.Random, schema: SearchSchema, key) -> dict:
    """A random document; about one in five optional values is null."""
    if "body" in schema.fields:
        return {
            "key": key,
            "title": None if rng.random() < 0.2 else _text(rng, 2),
            "body": None if rng.random() < 0.2 else _text(rng, rng.randint(3, 9)),
            "score": None if rng.random() < 0.2 else rng.choice([1.5, 2.0, 1e20, 0.25]),
        }
    return {
        "_id": key,
        "title": _text(rng, 2),
        "text": None if rng.random() < 0.2 else _text(rng, rng.randint(3, 9)),
        "description": None if rng.random() < 0.3 else _text(rng, 3),
    }


def _key(schema: SearchSchema, i: int):
    return f"k{i}" if schema.unique_field == "key" else i


def _batches(rng: random.Random, schema: SearchSchema, n_base: int) -> list[list[dict]]:
    """Upsert batches: replacements of existing keys, a key repeated
    within the batch, and new keys."""
    out, next_key = [], n_base + 1
    for _ in range(3):
        batch = [_doc(rng, schema, _key(schema, rng.randint(1, next_key - 1))) for _ in range(2)]
        new = _key(schema, next_key)
        next_key += 1
        batch += [_doc(rng, schema, new), _doc(rng, schema, new)]
        rep = _key(schema, rng.randint(1, n_base))
        batch += [_doc(rng, schema, rep), _doc(rng, schema, rep)]
        batch.append(_doc(rng, schema, _key(schema, next_key)))
        next_key += 1
        rng.shuffle(batch)
        out.append(batch)
    return out


def _frame(spark, schema: SearchSchema, rows: list[dict]):
    """Rows with doc_id as a frame of the schema's declared types."""
    cols = ["doc_id", *schema.fields]
    return local_frame(
        spark,
        [
            tuple(r["doc_id"] if c == "doc_id" else schema.coerce_value(c, r.get(c)) for c in cols)
            for r in rows
        ],
        schema.to_struct_type(),
    )


def _storage(spark, tmp_path, backend):
    if backend == "memory":
        return MemoryStorage(spark)
    if backend == "duckdb":
        return DuckDBStorage(spark, str(tmp_path / "idx.duckdb"))
    if backend == "kv":
        return KVStorage(spark, str(tmp_path / "idx_kv"))
    return ParquetSnapshotStorage(spark, str(tmp_path / "idx_snap"))


QUERIES = {
    "lowercase": ["alpha", "search engine", "cat OR dog", "world NOT(php)", "sea*", '"the animal"', "spakr", "minimal"],
    "stemmed": ["alpha", "search engine", "cat OR dog", "world NOT(php)", "run*", '"the animal"', "spakr", "runs"],
}
BM25 = ["search engine", "cat dog running", "the animal world"]


def _answers(eng: SparkSearchEngine, queries: list[str], field: str) -> tuple:
    searches = [
        [(r.doc_id, r.terms, r.indices, r.fulltext, r.weight, r.document) for r in eng.search(q)]
        for q in queries
    ]
    bm25 = [
        [(r["doc_id"], r["score"]) for r in eng.search_topk_bm25(q, k=5, field=field).collect()]
        for q in BM25
    ]
    return searches, bm25


@pytest.mark.parametrize("schema_name", sorted(SCHEMAS))
@pytest.mark.parametrize("backend", ["memory", "parquet_snapshot", "duckdb", "kv"])
def test_flushed_index_equals_fresh_build(spark, tmp_path, backend, schema_name):
    schema = SCHEMAS[schema_name]()
    field = "body" if schema_name == "lowercase" else "text"
    rng = random.Random(f"{backend}:{schema_name}")
    n_base = 12
    base = [
        dict(_doc(rng, schema, _key(schema, i)), doc_id=i) for i in range(1, n_base + 1)
    ]
    eng = SparkSearchEngine(spark, schema, storage=_storage(spark, tmp_path, backend))
    eng.index_dataframe(_frame(spark, schema, base))
    # warm driver state, so the flushes maintain it rather than rebuild it
    eng.search("alpha")
    eng.index.stats()
    for batch in _batches(rng, schema, n_base):
        eng.add_documents([dict(d) for d in batch])
        eng.flush()
    assert eng._tf_cache_tried and eng._tf_cache is not None
    assert eng.index._stats is not None  # maintained, not dropped

    final = [r.asDict() for r in eng.index.docs.collect()]
    uniq = schema.unique_field
    assert len({r[uniq] for r in final}) == len(final)  # one row per key
    fresh = SparkSearchEngine(spark, schema)
    fresh.index_dataframe(_frame(spark, schema, final))

    assert eng._term_field_cache() == fresh._term_field_cache()
    assert eng._dict_size == fresh._dict_size
    assert eng.index.stats() == fresh.index.stats()
    assert _answers(eng, QUERIES[schema_name], field) == _answers(fresh, QUERIES[schema_name], field)
    fresh.truncate()
    eng.truncate()


@pytest.mark.parametrize("backend", ["memory", "parquet_snapshot", "duckdb", "kv"])
def test_bulk_load_after_flush_survives_next_flush(spark, tmp_path, backend):
    """A bulk load replaces what earlier flushes put in the storage: the
    next flush seeds the storage from the bulk index and merges into it,
    so the bulk-loaded document is still found after it."""
    schema = lowercase_schema()
    eng = SparkSearchEngine(spark, schema, storage=_storage(spark, tmp_path, backend))
    eng.add_documents([{"key": "before", "title": "early", "body": "alpha", "score": None}])
    eng.flush()
    eng.index_dataframe(_frame(spark, schema, [
        {"doc_id": 1, "key": "bulk", "title": "zebra", "body": "zebra crossing", "score": None},
    ]))
    assert [r.document["key"] for r in eng.search("zebra")] == ["bulk"]
    eng.add_documents([{"key": "after", "title": "late", "body": "beta", "score": None}])
    eng.flush()
    assert [r.document["key"] for r in eng.search("zebra")] == ["bulk"]
    assert [(r.doc_id, r.document["key"]) for r in eng.search("beta")] == [(2, "after")]
    assert eng.search("alpha") == []
    eng.truncate()


# ------------------------------------------------------------- job and cache pins


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"pin-{random.random()}"
    sc.setJobGroup(group, "pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bulk_engine(spark, n=40, storage=None):
    schema = lowercase_schema()
    rng = random.Random(7)
    rows = [dict(_doc(rng, schema, _key(schema, i)), doc_id=i) for i in range(1, n + 1)]
    eng = SparkSearchEngine(spark, schema, storage=storage)
    eng.index_dataframe(_frame(spark, schema, rows))
    eng.index.stats()
    return eng, rng


def test_memory_flush_jobs_and_first_queries_plan_without_jobs(spark):
    eng, rng = _bulk_engine(spark)
    schema = eng.schema
    bulk = [eng._source_df, eng.index.docs, eng.index.postings, eng.index.doclens]
    eng.add_documents([_doc(rng, schema, _key(schema, 1)), _doc(rng, schema, "new0")])
    eng.flush()  # the seeding flush
    # the bulk-load caches are released once the storage holds the index
    assert eng._source_df is None
    assert not any(df.storageLevel.useMemory for df in bulk)
    eng.search("alpha")
    eng.search_topk_bm25("alpha beta", k=3, field="body").collect()

    for i in range(3):
        batch = [_doc(rng, schema, _key(schema, 2 + i)), _doc(rng, schema, f"new{i + 1}")]
        _, flush_jobs = _jobs(spark, lambda: (eng.add_documents(batch), eng.flush()))
        assert flush_jobs <= 5, flush_jobs
        for run in range(2):  # first after the flush, then steady
            df, plan = _jobs(spark, lambda: eng.search_topk_bm25("alpha beta", k=3, field="body"))
            _, run_jobs = _jobs(spark, df.collect)
            sdf, splan = _jobs(spark, lambda: eng.search_df("alpha"))
            _, srun = _jobs(spark, sdf.collect)
            assert plan == 0 and splan == 0, (run, plan, splan)
            if run == 0:
                first = (run_jobs, srun)
        assert first == (run_jobs, srun), (first, run_jobs, srun)
    eng.truncate()


@pytest.mark.parametrize("backend", ["memory", "parquet_snapshot"])
def test_phrase_routing_after_flush_matches_bulk_load(spark, tmp_path, backend):
    eng, rng = _bulk_engine(spark, n=12, storage=_storage(spark, tmp_path, backend))
    after_bulk = eng._phrase_use_index()
    assert after_bulk is False  # the corpus is memory-resident
    for i in range(2):
        eng.add_documents([_doc(rng, eng.schema, f"b{i}")])
        eng.flush()
        assert eng._phrase_use_index() is after_bulk
    eng.truncate()


def test_flush_keeps_dictionary_over_cap_rule(spark, monkeypatch):
    """A flush that grows the driver dictionary past the cap drops it, as
    collecting it fresh would have."""
    import phphinder_spark.engine as engine_mod

    eng, rng = _bulk_engine(spark, n=6)
    eng.search("alpha")
    monkeypatch.setattr(engine_mod, "_DICT_DRIVER_CACHE_MAX", eng._dict_size)
    eng.add_documents([{"key": "zz", "title": "brandnewterm", "body": None, "score": None}])
    eng.flush()
    assert eng._tf_cache is None and eng._tf_cache_tried
    assert {r.doc_id for r in eng.search("brandnewterm")} == {7}
    eng.truncate()


def test_flush_postings_read_only_replaced_docs(spark):
    """The flush's read of old postings is filtered to the replaced ids:
    batches of new documents read none."""
    eng, rng = _bulk_engine(spark, n=8)
    eng.add_documents([_doc(rng, eng.schema, "seed")])
    eng.flush()
    _, jobs = _jobs(spark, lambda: (eng.add_documents([_doc(rng, eng.schema, "fresh")]), eng.flush()))
    # key probe + one checkpoint per relation; no old-postings read
    assert jobs == 4, jobs
    assert eng.index.docs.where(F.col("key") == "fresh").count() == 1
    eng.truncate()


def test_segment_served_flush_decodes_only_replaced_docs(spark, tmp_path):
    """A flush with one replacement into a segment-served engine reads the
    replaced doc's old postings from the segment rows that hold it: the
    full-decode view is touched once, by the storage seed, and the
    flushed index answers like a fresh build."""
    import warnings

    from phphinder_spark.index.manifest import build_resumable_index

    schema = lowercase_schema()
    rng = random.Random(3)
    rows = [dict(_doc(rng, schema, _key(schema, i)), doc_id=i) for i in range(1, 13)]
    out_dir = str(tmp_path / "sidx")
    build_resumable_index(spark, _frame(spark, schema, rows), schema, out_dir, n_chunks=2, chunk_span=4)
    eng = SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments")
    eng.search("alpha")  # the driver dictionary, from the store's chunk map
    new = _doc(rng, schema, _key(schema, 5))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _, jobs = _jobs(spark, lambda: (eng.add_documents([new]), eng.flush()))
    decodes = [w for w in caught if "segment store" in str(w.message)]
    assert len(decodes) == 1, [str(w.message) for w in caught]
    # the max-id aggregate (two jobs under adaptive execution), the key
    # probe, the replaced doc's postings and one checkpoint per relation
    assert jobs <= 7, jobs

    final = [r for r in rows if r["key"] != "k5"] + [dict(new, doc_id=5)]
    fresh = SparkSearchEngine(spark, schema)
    fresh.index_dataframe(_frame(spark, schema, final))
    assert _answers(eng, QUERIES["lowercase"], "body") == _answers(fresh, QUERIES["lowercase"], "body")
    assert eng._tf_cache == fresh._term_field_cache()
    eng.truncate()


def test_memory_flush_releases_frames_planned_before_it(spark):
    """A lazy search frame reads the snapshot it was planned over; a
    memory-mode flush releases that snapshot's blocks, so a frame planned
    before the flush and first run after it fails instead of answering."""
    eng, rng = _bulk_engine(spark, n=6)
    eng.add_documents([_doc(rng, eng.schema, "seed")])
    eng.flush()
    held = [eng.search_df("cat"), eng.search_topk_bm25("k2", k=3, field="key")]
    eng.add_documents([_doc(rng, eng.schema, "next")])
    eng.flush()
    for df in held:
        with pytest.raises(Exception, match="[Cc]heckpoint block"):
            df.collect()
    eng.truncate()

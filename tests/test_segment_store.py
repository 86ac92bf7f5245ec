"""Cold BM25 planned from the engine-held segment store.

``from_index_dir(serve="segments")`` opens one ``SegmentStore`` (segments
and doclens tables, stats.json); the segment scorers take per-term df and
chunk bounds from the store's chunk metadata — a driver map under the
dictionary-cache cap, one metadata-only collect above it — and never read
``dictionary/``. These tests pin the equivalences that make that safe and
the Spark job counts it buys (counted with job groups and
``statusTracker()``; no action is ever run to count) — and the same job
counts and df equivalence for the memory engine's BM25, which runs the
same kernel over its postings."""

import contextlib
import io
import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F

from phphinder_spark import engine as engine_mod
from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index.manifest import build_resumable_index
from phphinder_spark.index.segments import (
    SegmentStore,
    decode_segments,
    encode_segments,
    segment_bm25_topk,
    segment_bm25_topk_blockmax,
)
from phphinder_spark.schema import IS_FULLTEXT, IS_INDEXED, IS_STORED, SearchSchema, code_schema
from phphinder_spark.scoring import PostingsSource, bm25_topk

N_DOCS = 300
# (BM25 query, k) over the fixture: two df-1 identifiers plus a hot term
# (θ seeded from two of the ten chunks, the rest pruned by bound), the
# same with a k whose seed covers every chunk, spread terms only, one hot
# term (nothing to prune), a repeated term, and terms absent from the index
QUERIES = [
    ("ident_1 ident_1003 function", 2),
    ("ident_1 ident_1003 function", 8),
    ("varint delta merge", 8),
    ("function", 8),
    ("return return value", 8),
    ("nosuchterm zzzq", 8),
]

_seq = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Run the body under a fresh job group; yields a callable returning
    the number of Spark jobs started in it so far. AQE is off, as in
    interactive serving (``apply_interactive_conf``): with it on, each
    shuffle stage of one action surfaces as its own job."""
    sc = spark.sparkContext
    group = f"segstore-{next(_seq)}"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "job-count probe")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def planned_and_run(spark, plan):
    """(jobs while planning, jobs at collect, collected rows)."""
    with job_group(spark) as planning:
        df = plan()
        n_plan = planning()
    with job_group(spark) as running:
        rows = [(r["doc_id"], r["score"]) for r in df.collect()]
        n_run = running()
    return n_plan, n_run, rows


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("segstore") / "idx")
    corpus = generate_code_corpus(spark, N_DOCS, seed=17, partitions=4)
    build_resumable_index(spark, corpus, code_schema(), out_dir, n_chunks=2, chunk_span=32)
    # cold serving: the uncompressed postings are gone
    shutil.rmtree(os.path.join(out_dir, "postings"))
    return out_dir


@pytest.fixture(scope="module")
def memory_engine(spark, index_dir):
    mem = SparkSearchEngine(spark, code_schema())
    mem.index_dataframe(spark.read.parquet(f"{index_dir}/docs"))
    return mem


@pytest.fixture(scope="module")
def warm_engine(spark, index_dir):
    """A segment-served engine whose driver chunk map is already built."""
    eng = SparkSearchEngine.from_index_dir(spark, index_dir, code_schema(), serve="segments")
    eng.search_topk_bm25("function", k=1, field="content").collect()
    assert eng._store._chunks is not None
    return eng


def topk(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ------------------------------------------------------------ equivalences


def test_chunk_df_sums_equal_dictionary_df(spark, index_dir):
    """The dictionary artifact is the merge of the chunk metadata, so a
    term's df summed over its chunks is the dictionary's df — for every
    (field, term) of the index, shadow fields included."""
    summed = {
        (r["field"], r["term"]): r["df"]
        for r in spark.read.parquet(f"{index_dir}/segments")
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    dictionary = {
        (r["field"], r["term"]): r["df"]
        for r in spark.read.parquet(f"{index_dir}/dictionary").collect()
    }
    assert summed == dictionary
    assert len(dictionary) > 1000


@pytest.mark.parametrize("query,k", QUERIES)
def test_blockmax_identical_across_metadata_regimes(spark, index_dir, memory_engine, monkeypatch, query, k):
    """Block-max top-k from the driver chunk map, block-max from per-query
    metadata collects (cap forced to 0), exhaustive segment scoring and the
    memory engine all return the same ranked (doc_id, score) list."""
    terms = memory_engine._bm25_terms(query)
    expected = topk(memory_engine.search_topk_bm25(query, k=k, field="content"))

    cached = SegmentStore(spark, index_dir)
    got_cached, m_cached = segment_bm25_topk_blockmax(spark, cached, terms, "content", k=k)
    assert cached._chunks is not None
    exhaustive = topk(segment_bm25_topk(spark, cached, terms, "content", k=k))

    monkeypatch.setattr(engine_mod, "_DICT_DRIVER_CACHE_MAX", 0)
    over_cap = SegmentStore(spark, index_dir)
    got_over, m_over = segment_bm25_topk_blockmax(spark, over_cap, terms, "content", k=k)
    assert over_cap._chunks is None

    assert topk(got_cached) == topk(got_over) == exhaustive == expected, query
    assert m_cached == m_over  # same metadata, same pruning decisions
    if (query, k) == QUERIES[0]:
        assert m_cached["chunks_decoded"] < m_cached["chunks_total"]


def test_path_and_store_arguments_agree(spark, index_dir, warm_engine):
    terms = ["ident_1", "ident_1003", "function"]
    by_path, m_path = segment_bm25_topk_blockmax(spark, index_dir, terms, "content", k=2)
    by_store, m_store = segment_bm25_topk_blockmax(spark, warm_engine._store, terms, "content", k=2)
    assert topk(by_path) == topk(by_store)
    assert m_path == m_store
    assert topk(segment_bm25_topk(spark, index_dir, terms, "content", k=2)) == topk(by_store)


def test_flush_drops_store_and_bm25_equals_memory(spark, tmp_path):
    """``add_documents`` + ``flush`` on a segment-served engine hands the
    index to the storage: the store and its chunk map are dropped, and BM25
    equals a memory engine fed the same rows."""
    schema = code_schema()
    corpus = generate_code_corpus(spark, 120, seed=5, partitions=2)
    out_dir = str(tmp_path / "fidx")
    build_resumable_index(spark, corpus, schema, out_dir, n_chunks=1, chunk_span=32)
    seg = SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments")
    seg.search_topk_bm25("varint delta", k=5, field="content").collect()  # builds the map

    mem = SparkSearchEngine(spark, schema)
    mem.index_dataframe(spark.read.parquet(f"{out_dir}/docs"))
    new_rows = [
        {"repo": "r/new", "path": f"new/{i}.py", "commit": "c0", "lang": "py",
         "content": f"varint delta zebra{i} varint merge"}
        for i in range(6)
    ]
    for eng in (seg, mem):
        eng.add_documents(new_rows)
        eng.flush()
    assert seg._store is None
    for query in ["varint delta", "zebra3 merge", "function return"]:
        assert topk(seg.search_topk_bm25(query, k=10, field="content")) == topk(
            mem.search_topk_bm25(query, k=10, field="content")
        ), query


# ------------------------------------------------------------ job counts


@pytest.mark.parametrize(
    "query,strategy",
    [("varint delta merge", "exhaustive"), ("function", "blockmax")],
)
def test_warm_non_pruning_bm25_plans_without_jobs(spark, warm_engine, query, strategy):
    """Exhaustive scoring and a block-max op with nothing to prune (one
    hot term: every chunk holds every query term) plan with ZERO Spark
    jobs — no parquet open, no dictionary read, no metadata collect — and
    execute in at most two."""
    n_plan, n_run, rows = planned_and_run(
        spark,
        lambda: warm_engine.search_topk_bm25(query, k=8, field="content", strategy=strategy),
    )
    assert n_plan == 0
    assert n_run <= 2
    assert rows


def test_warm_theta_pruning_bm25_plans_in_two_jobs(spark, warm_engine):
    """A θ-pruned op runs only the θ-seed top-k while planning."""
    # two df-1 identifiers seed θ for k=2 from at most two of the ten
    # chunks; the hot term spreads the candidates over all of them
    terms = ["ident_1", "ident_1003", "function"]
    _, metrics = segment_bm25_topk_blockmax(spark, warm_engine._store, terms, "content", k=2)
    assert metrics["theta"] > float("-inf")  # this query really seeds θ
    assert metrics["chunks_total"] == 10
    n_plan, n_run, _ = planned_and_run(
        spark, lambda: warm_engine.search_topk_bm25(" ".join(terms), k=2, field="content")
    )
    assert n_plan <= 2
    assert n_run <= 2


def test_over_cap_plans_one_metadata_job_and_no_reopen(spark, index_dir, monkeypatch):
    """Cap forced to 0: the chunk map is never built; planning a
    non-pruning op runs exactly one metadata job and opens no parquet
    (neither ``dictionary/`` nor a segments/doclens re-open)."""
    from pyspark.sql.readwriter import DataFrameReader

    monkeypatch.setattr(engine_mod, "_DICT_DRIVER_CACHE_MAX", 0)
    eng = SparkSearchEngine.from_index_dir(spark, index_dir, code_schema(), serve="segments")
    opened = []
    real_parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *paths, **kw: opened.append(paths) or real_parquet(self, *paths, **kw),
    )
    for _ in range(2):
        n_plan, _, rows = planned_and_run(
            spark, lambda: eng.search_topk_bm25("function", k=8, field="content")
        )
        assert n_plan == 1
        assert rows
    assert opened == []
    assert eng._store._chunks is None


def test_persisted_postings_bm25_reads_doclens_artifact(spark, tmp_path):
    """``serve="postings"`` takes doclens and stats from the persisted
    artifacts: the BM25 plan scans ``doclens/`` instead of re-aggregating
    document lengths from the postings, and a second warm query runs no
    more jobs than the first."""
    schema = code_schema()
    out_dir = str(tmp_path / "pidx")
    build_resumable_index(
        spark, generate_code_corpus(spark, 120, seed=3, partitions=2), schema, out_dir, n_chunks=1
    )
    eng = SparkSearchEngine.from_index_dir(spark, out_dir, schema)
    df = eng.search_topk_bm25("varint delta", k=5, field="content")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    assert "/doclens" in buf.getvalue()
    eng.search_topk_bm25("function", k=5, field="content").collect()  # warm
    runs = [
        planned_and_run(spark, lambda q=q: eng.search_topk_bm25(q, k=5, field="content"))
        for q in ["varint delta", "merge return"]
    ]
    assert runs[1][0] + runs[1][1] <= runs[0][0] + runs[0][1]


# ------------------------------------------------------------ memory BM25


def test_memory_bm25_warm_exhaustive_job_count(spark, memory_engine):
    """Warm memory exhaustive BM25 (df from the driver dictionary cache)
    plans with no Spark job and runs in at most two."""
    memory_engine.search_topk_bm25("function", k=8, field="content").collect()
    n_plan, n_run, rows = planned_and_run(
        spark, lambda: memory_engine.search_topk_bm25("varint delta merge", k=8, field="content")
    )
    assert n_plan == 0
    assert n_run <= 2
    assert rows


def test_memory_bm25_warm_blockmax_job_count(spark, memory_engine):
    """Warm memory block-max BM25 on a θ-pruned query: one chunk-row
    collect plus the θ-seed top-k while planning (<= 3 jobs, the seed's
    doclens broadcast included), <= 2 at collect."""
    terms = ["ident_1", "ident_1003", "function"]
    source = PostingsSource(
        memory_engine.index.postings, memory_engine.index.doclens, memory_engine.index.stats()
    )
    _, metrics = bm25_topk(source, terms, "content", k=2, prune=True)
    assert metrics["theta"] > float("-inf")  # this query really seeds θ
    assert metrics["chunks_decoded"] < metrics["chunks_total"]
    memory_engine.search_topk_bm25("function", k=8, field="content").collect()
    n_plan, n_run, rows = planned_and_run(
        spark,
        lambda: memory_engine.search_topk_bm25(
            " ".join(terms), k=2, field="content", strategy="blockmax"
        ),
    )
    assert n_plan <= 3
    assert n_run <= 2
    assert rows == topk(memory_engine.search_topk_bm25(" ".join(terms), k=2, field="content"))


def test_memory_bm25_many_warm_job_count(spark, memory_engine):
    """The warm batch plans with no Spark job and runs in at most three
    (the (query_id, term) broadcast, the doclens broadcast, the ranking)."""
    phrases = ["varint delta merge", "function return", "needle_100"]
    memory_engine.search_topk_bm25_many(phrases, k=5, field="content").collect()
    with job_group(spark) as planning:
        df = memory_engine.search_topk_bm25_many(phrases, k=5, field="content")
        n_plan = planning()
    with job_group(spark) as running:
        assert df.collect()
        n_run = running()
    assert n_plan == 0
    assert n_run <= 3


@pytest.mark.parametrize("batch", [False, True], ids=["single", "batch"])
def test_memory_bm25_identical_over_dictionary_cache_cap(spark, memory_engine, monkeypatch, batch):
    """df from the driver dictionary cache (a literal map) and, over the
    cache cap, from the in-plan count per term give bit-identical scores."""
    queries = [q for q, _ in QUERIES]

    def run():
        if batch:
            return sorted(
                tuple(r) for r in memory_engine.search_topk_bm25_many(
                    queries, k=8, field="content").collect()
            )
        return [topk(memory_engine.search_topk_bm25(q, k=8, field="content")) for q in queries]

    cached = run()
    assert memory_engine._term_field_cache() is not None
    monkeypatch.setattr(engine_mod, "_DICT_DRIVER_CACHE_MAX", 0)
    monkeypatch.setattr(memory_engine, "_tf_cache", None)
    monkeypatch.setattr(memory_engine, "_tf_cache_tried", False)
    over_cap = run()
    assert memory_engine._term_field_cache() is None
    assert over_cap == cached
    assert any(cached)


# ------------------------------------------------------------ plan shape

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")

SEGMENT_SERVED = {
    "bm25 exhaustive": lambda e: e.search_topk_bm25(
        "varint delta merge", k=8, field="content", strategy="exhaustive"),
    "bm25 blockmax": lambda e: e.search_topk_bm25(
        "ident_1 ident_1003 function", k=2, field="content", strategy="blockmax"),
    "term": lambda e: e.search_df("function"),
    "and": lambda e: e.search_df("function return"),
    "prefix": lambda e: e.search_df("funct*"),
    "typo": lambda e: e.search_df("functon"),
    "phrase": lambda e: e.search_df('"function return"'),
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.mark.parametrize("shape", list(SEGMENT_SERVED))
def test_segment_served_plans_run_no_python(warm_engine, shape):
    """Segment decode is ``inline(arrays_zip(...))`` in the JVM: no
    segment-served query plan holds a Python-worker node."""
    plan = formatted_plan(SEGMENT_SERVED[shape](warm_engine))
    assert "segments" in plan
    assert not [n for n in PYTHON_NODES if n in plan], plan


def test_segment_encode_plan_runs_no_python(warm_engine):
    """Segment encode is one JVM aggregate — also on a merge's decode ->
    re-encode path."""
    postings = decode_segments(warm_engine._store.segments)
    plan = formatted_plan(encode_segments(postings))
    assert "ObjectHashAggregate" in plan
    assert not [n for n in PYTHON_NODES if n in plan], plan


# ------------------------------------------------------------ BM25 field


@pytest.fixture(scope="module")
def field_engines(spark, tmp_path_factory):
    """The same rows in all three serve modes. ``title`` is indexed but
    empty in every document (no postings); ``commit`` is stored only."""
    schema = SearchSchema(
        {
            "title": IS_INDEXED | IS_STORED,
            "body": IS_INDEXED | IS_STORED | IS_FULLTEXT,
            "commit": IS_STORED,
        },
        name="bm25_field",
    )
    rows = [(i, "", f"spark table row{i} alpha", f"c{i}") for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string, commit string")
    out_dir = str(tmp_path_factory.mktemp("fieldidx") / "idx")
    build_resumable_index(spark, docs, schema, out_dir, n_chunks=1)
    mem = SparkSearchEngine(spark, schema)
    mem.index_dataframe(docs)
    return {
        "memory": mem,
        "postings": SparkSearchEngine.from_index_dir(spark, out_dir, schema),
        "segments": SparkSearchEngine.from_index_dir(spark, out_dir, schema, serve="segments"),
    }


@pytest.mark.parametrize("mode", ["memory", "postings", "segments"])
@pytest.mark.parametrize("field", ["commit", "bdoy"])
def test_bm25_rejects_non_indexed_field_in_every_mode(field_engines, mode, field):
    eng = field_engines[mode]
    with pytest.raises(ValueError, match=repr(field)):
        eng.search_topk_bm25("spark", k=5, field=field)
    with pytest.raises(ValueError, match=repr(field)):
        eng.search_topk_bm25_many(["spark"], k=5, field=field)


@pytest.mark.parametrize("mode", ["memory", "postings", "segments"])
def test_bm25_on_indexed_field_without_postings_is_empty(field_engines, mode):
    eng = field_engines[mode]
    assert eng.search_topk_bm25("spark", k=5, field="title").collect() == []
    assert eng.search_topk_bm25_many(["spark"], k=5, field="title").collect() == []
    assert len(eng.search_topk_bm25("spark", k=5, field="body").collect()) == 5

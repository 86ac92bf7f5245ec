"""Storage SPI: MERGE-commit semantics, bounded flush lineage, snapshot
durability/resume, compaction equivalence, crash invisibility."""

import os

import pytest
from pyspark.sql import functions as F

from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index.storage import (
    IcebergStorage,
    MemoryStorage,
    ParquetSnapshotStorage,
)
from phphinder_spark.schema import test_schema as make_test_schema


def _doc(i, text):
    return {"_id": i, "title": f"t{i}", "text": text}


def test_memory_storage_flush_plan_depth_is_bounded(spark):
    eng = SparkSearchEngine(spark, make_test_schema())
    eng.add_document(_doc(1, "seed words"))
    eng.flush()
    jsc = spark.sparkContext._jsc
    depths, parts, persisted = [], [], []
    for k in range(20):
        eng.add_document(_doc(100 + k, f"batch {k} words"))
        eng.add_document(_doc(1, f"rewrite {k} cat"))  # replace every round
        eng.flush()
        plan = eng.index.docs._jdf.queryExecution().optimizedPlan().toString()
        depths.append(plan.count("\n"))
        parts.append(
            (eng.storage.docs().rdd.getNumPartitions(), eng.storage.postings().rdd.getNumPartitions())
        )
        persisted.append(jsc.getPersistentRDDs().size())
    # lineage is cut at every commit: plan depth must NOT grow with flushes,
    # and neither may the partition count every later query runs tasks for
    assert max(depths) == min(depths), depths
    bound = spark.sparkContext.defaultParallelism
    assert all(d <= bound and p <= bound for d, p in parts), parts
    # a one-doc base grows to the session parallelism, then holds there
    assert len(set(parts[1:])) == 1, parts
    # each commit releases the checkpoints it replaces: one copy of each
    # relation stays persisted, not one more per flush (the count may only
    # fall, when the JVM cleans up blocks other tests left behind)
    assert max(persisted) <= persisted[0], persisted
    # correctness after 20 replacement rounds: last write wins, one row
    rows = eng.index.docs.where(F.col("_id") == 1).collect()
    assert len(rows) == 1 and rows[0]["text"] == "rewrite 19 cat"
    assert eng.index.docs.count() == 21
    eng.truncate()


@pytest.fixture()
def snap_store(spark, tmp_path):
    return ParquetSnapshotStorage(spark, str(tmp_path / "idx"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, v string")


def _post(spark, rows):
    return spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )


def test_snapshot_storage_merge_and_resume(spark, tmp_path, snap_store):
    s = snap_store
    assert s.is_empty
    s.commit(_df(spark, [(1, "a"), (2, "b")]), _post(spark, [("f", "a", 1, 1, [0])]), [])
    s.commit(_df(spark, [(2, "b2"), (3, "c")]), _post(spark, [("f", "b2", 2, 1, [0])]), [2])
    live = {r["doc_id"]: r["v"] for r in s.docs().collect()}
    assert live == {1: "a", 2: "b2", 3: "c"}
    # postings for the replaced doc come only from the new commit
    terms = {(r["doc_id"], r["term"]) for r in s.postings().collect()}
    assert terms == {(1, "a"), (2, "b2")}

    # resume: a NEW storage over the same dir sees the committed snapshot
    s2 = ParquetSnapshotStorage(spark, s.root)
    assert {r["doc_id"]: r["v"] for r in s2.docs().collect()} == live


def test_snapshot_storage_reinsert_after_delete(spark, snap_store):
    s = snap_store
    s.commit(_df(spark, [(1, "a")]), _post(spark, []), [])
    s.commit(_df(spark, [(1, "a2")]), _post(spark, []), [1])
    s.commit(_df(spark, [(1, "a3")]), _post(spark, []), [1])
    assert [(r["doc_id"], r["v"]) for r in s.docs().collect()] == [(1, "a3")]


def test_snapshot_storage_compact_preserves_state(spark, snap_store):
    s = snap_store
    for i in range(4):
        s.commit(_df(spark, [(i, f"v{i}"), (99, f"hot{i}")]), _post(spark, []), [99])
    before = sorted((r["doc_id"], r["v"]) for r in s.docs().collect())
    n_files_before = len(s._snapshot["docs"])
    s.compact()
    after = sorted((r["doc_id"], r["v"]) for r in s.docs().collect())
    assert before == after
    assert len(s._snapshot["docs"]) == 1 < n_files_before
    assert s._snapshot["deletes"] == []
    # and committing after compaction still works
    s.commit(_df(spark, [(0, "v0x")]), _post(spark, []), [])
    assert dict((r["doc_id"], r["v"]) for r in s.docs().collect())[0] == "v0x"


def test_snapshot_storage_crash_orphan_invisible(spark, snap_store):
    s = snap_store
    s.commit(_df(spark, [(1, "a")]), _post(spark, []), [])
    # simulate a crashed commit: data file written, manifest never published
    _df(spark, [(2, "ghost")]).write.parquet(os.path.join(s.root, "data/docs-999.parquet"))
    s2 = ParquetSnapshotStorage(spark, s.root)
    assert [r["doc_id"] for r in s2.docs().collect()] == [1]


def test_snapshot_storage_truncate(spark, snap_store):
    s = snap_store
    s.commit(_df(spark, [(1, "a")]), _post(spark, []), [])
    s.truncate()
    assert s.is_empty
    s2 = ParquetSnapshotStorage(spark, s.root)
    assert s2.is_empty


def test_engine_on_snapshot_storage_end_to_end(spark, tmp_path):
    root = str(tmp_path / "engine_idx")
    eng = SparkSearchEngine(
        spark, make_test_schema(), storage=ParquetSnapshotStorage(spark, root)
    )
    eng.add_document(_doc(1, "alpha beta"))
    eng.add_document(_doc(2, "beta gamma"))
    eng.flush()
    eng.add_document(_doc(1, "alpha delta"))  # replace
    eng.flush()
    assert sorted(r.doc_id for r in eng.search("beta")) == [2]
    assert sorted(r.doc_id for r in eng.search("delta")) == [1]

    # re-open from disk in a fresh engine: durable index, searchable
    eng2 = SparkSearchEngine(
        spark, make_test_schema(), storage=ParquetSnapshotStorage(spark, root)
    )
    assert sorted(r.doc_id for r in eng2.search("delta")) == [1]
    # and incremental ingestion continues with correct id assignment
    eng2.add_document(_doc(3, "epsilon"))
    eng2.flush()
    assert sorted(r.doc_id for r in eng2.search("epsilon")) == [3]


def test_iceberg_storage_fails_fast_without_catalog(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergStorage(spark, "nosuchcatalog", "db", "idx")


def test_fifty_flushes_bounded_and_equal_to_clean_build(spark):
    """VERDICT r01 #6 'done' criterion: 50 incremental flushes (with
    upserts mixed in) keep plan depth constant AND produce results
    identical to one clean bulk flush of the same final document set."""
    eng = SparkSearchEngine(spark, make_test_schema())
    final_docs = {}
    for k in range(50):
        d = _doc(k % 20, f"round {k} words w{k % 7}")  # 20 keys, rewritten
        final_docs[k % 20] = d
        eng.add_document(d)
        eng.flush()
    plan = eng.index.docs._jdf.queryExecution().optimizedPlan().toString()
    depth_incremental = plan.count("\n")

    clean = SparkSearchEngine(spark, make_test_schema())
    clean.add_documents([final_docs[i] for i in sorted(final_docs)])
    clean.flush()

    def norm_docs(e):
        return sorted(
            tuple(r[c] for c in sorted(r.asDict()))
            for r in e.index.docs.collect()
        )

    def norm_postings(e):
        return sorted(
            (r["field"], r["term"], r["doc_id"], r["tf"], list(r["positions"]))
            for r in e.index.postings.collect()
        )

    assert norm_docs(eng) == norm_docs(clean)
    assert norm_postings(eng) == norm_postings(clean)
    # a fresh single-flush engine's plan depth bounds the incremental one
    clean_depth = (
        clean.index.docs._jdf.queryExecution().optimizedPlan().toString().count("\n")
    )
    assert depth_incremental <= clean_depth + 2, (depth_incremental, clean_depth)


def test_compact_removes_superseded_files(spark, tmp_path):
    """compact() physically reclaims superseded delta/delete files and
    old snapshot manifests (the documented crash-orphan cleanup)."""
    import os

    root = str(tmp_path / "gc")
    s = ParquetSnapshotStorage(spark, root)
    for k in range(4):
        docs = spark.createDataFrame([(k + 1, f"d{k}")], "doc_id long, text string")
        posts = spark.createDataFrame(
            [("text", f"t{k}", k + 1, 1, [0])],
            "field string, term string, doc_id long, tf long, positions array<int>",
        )
        s.commit(docs, posts, [])
    # plant a crash orphan: data file written, manifest never published
    orphan = os.path.join(root, "data", "docs-999.parquet")
    spark.createDataFrame([(99, "orphan")], "doc_id long, text string").write.parquet(orphan)
    n_before = sum(len(fs) for _, _, fs in os.walk(root))
    live_docs = sorted(r["doc_id"] for r in s.docs().collect())
    s.compact()
    assert sorted(r["doc_id"] for r in s.docs().collect()) == live_docs
    assert not os.path.exists(orphan)
    n_after = sum(len(fs) for _, _, fs in os.walk(root))
    assert n_after < n_before
    data_files = os.listdir(os.path.join(root, "data"))
    assert len(data_files) == 2  # one docs + one postings file
    snaps = [f for f in os.listdir(root) if f.startswith("snap-")]
    assert len(snaps) == 1


def test_snapshot_commit_has_no_driver_collect(spark, tmp_path):
    """The commit path is collect-free (scale contract): assert no
    delete file is written on the first (seed) commit and that upsert
    commits produce delete files via a distributed write."""
    import os

    root = str(tmp_path / "nocollect")
    s = ParquetSnapshotStorage(spark, root)
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    posts = spark.createDataFrame(
        [("text", "a", 1, 1, [0])],
        "field string, term string, doc_id long, tf long, positions array<int>",
    )
    s.commit(docs, posts, [])
    assert os.listdir(os.path.join(root, "deletes")) == []
    s.commit(docs, posts, [2])
    assert len(os.listdir(os.path.join(root, "deletes"))) == 1
    assert sorted(r["doc_id"] for r in s.docs().collect()) == [1, 2]

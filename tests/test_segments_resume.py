"""Segment codec round-trip + compression, the store's Parquet format,
data-skipping lookup, and resumable-build equivalence after an injected
crash."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from phphinder_spark.corpus import generate_code_corpus
from phphinder_spark.index.builder import assign_doc_ids, build_doclens, build_postings
from phphinder_spark.index.manifest import build_resumable_index
from phphinder_spark.index.segments import (
    SegmentStore,
    decode_segments,
    encode_segments,
    merge_segment_dictionaries,
    read_term_postings,
    segment_bm25_topk,
    write_segments,
)
from phphinder_spark.schema import code_schema

N_DOCS = 600


@pytest.fixture(scope="module")
def postings(spark):
    corpus = generate_code_corpus(spark, N_DOCS, seed=7, partitions=4)
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    return build_postings(docs, code_schema()).cache()


def _hand_built_store(out: str, postings, chunk_span: int, n_docs: int, avgdl=None) -> None:
    """An index directory built from ``postings`` by hand: segments/, whose
    ``dls`` encode_segments counts as each doc's sum of tf per field,
    doclens/ from the same formula (``build_doclens``) and stats.json
    (``avgdl`` per field defaults to the mean dl)."""
    os.makedirs(out, exist_ok=True)
    write_segments(encode_segments(postings, chunk_span=chunk_span), os.path.join(out, "segments"))
    doclens = build_doclens(postings)
    doclens.write.parquet(os.path.join(out, "doclens"))
    if avgdl is None:
        avgdl = {
            r["field"]: r["avgdl"]
            for r in doclens.groupBy("field").agg(F.avg("dl").alias("avgdl")).collect()
        }
    with open(os.path.join(out, "stats.json"), "w") as fh:
        json.dump({"n_docs": n_docs, "avgdl": avgdl}, fh)


def topk(df) -> list[tuple]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_segment_codec_roundtrip_unit(spark):
    """encode_segments -> decode_segments on edge cases: ids up to 10^13
    with gaps of one and of ~10^12, large tf, multi-position and empty
    position lists, and a group spread over several chunks."""
    import random

    rows = []
    doc_ids = [1, 2, 5, 1000, 1001, 999999, 10**12, 10**13]
    tfs = [1, 3, 2, 1, 7, 1, 10**4, 2]
    poss = [[0], [1, 5, 9], [], [100], [0, 1, 2, 3, 4, 5, 6], [7], [], [10, 20]]
    rows += [("content", "edge", d, t, p) for d, t, p in zip(doc_ids, tfs, poss)]
    rng = random.Random(3)
    for g in range(20):
        ids = sorted(rng.sample(range(1, 10**13), rng.randrange(1, 40)))
        for d in ids:
            pos = sorted(rng.sample(range(0, 100000), rng.randrange(0, 6)))
            rows.append(("content", f"rand{g}", d, rng.randrange(1, 300), pos))
    postings = spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )
    back = decode_segments(encode_segments(postings, chunk_span=1 << 30))
    assert sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], list(r["positions"]))
        for r in back.collect()
    ) == sorted((f, t, d, tf, p) for f, t, d, tf, p in rows)


def test_decode_without_positions_matches_doc_tf(spark, postings):
    """Scoring-path decode (with_positions=False) must agree on (field,
    term, doc_id, tf) with the full decode and emit empty positions."""
    segments = encode_segments(postings.limit(2000), chunk_span=256)
    full = decode_segments(segments)
    lean = decode_segments(segments, with_positions=False)
    a = sorted((r["field"], r["term"], r["doc_id"], r["tf"]) for r in full.collect())
    lrows = lean.collect()
    b = sorted((r["field"], r["term"], r["doc_id"], r["tf"]) for r in lrows)
    assert a == b
    assert all(list(r["positions"]) == [] for r in lrows)


def test_segment_roundtrip_and_compression(spark, postings, tmp_path):
    segments = encode_segments(postings, chunk_span=256).cache()
    back = decode_segments(segments)
    a = sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in postings.collect()
    )
    b = sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in back.collect()
    )
    assert a == b
    # chunking: hot term spans multiple chunks with bounded df per chunk
    hot = segments.where(
        (F.col("field") == "content") & (F.col("term") == "function")
    ).collect()
    assert len(hot) >= 2
    assert all(r["df"] <= 256 for r in hot)
    # compression: the written store's on-disk bytes are well under a
    # naive 8B/doc_id + 8B/tf + 8B/position layout. The store is read back
    # and must hold every posting, so the bytes measured are a full store.
    seg_path = str(tmp_path / "segments")
    write_segments(segments, seg_path)
    on_disk = decode_segments(spark.read.parquet(seg_path))
    assert sorted(
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in on_disk.collect()
    ) == a
    naive = postings.select(
        (F.lit(16) + F.size("positions") * 8).alias("b")
    ).agg(F.sum("b")).collect()[0][0]
    packed = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(seg_path)
        for f in fs
    )
    assert 0 < packed < naive / 3


def test_segment_store_is_delta_binary_packed(spark, postings, tmp_path):
    """Every integer posting column of a written store — doc ids, tfs,
    document lengths and positions, array elements included — is
    DELTA_BINARY_PACKED (v2
    pages, no dictionary): the store's delta-gaps."""
    import glob

    import pyarrow.parquet as pq

    seg_path = str(tmp_path / "segments")
    write_segments(encode_segments(postings, chunk_span=256), seg_path)
    wanted = {
        "doc_ids.list.element",
        "tfs.list.element",
        "dls.list.element",
        "positions.list.element.list.element",
    }
    seen = set()
    for path in glob.glob(os.path.join(seg_path, "*.parquet")):
        meta = pq.ParquetFile(path).metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema in wanted:
                    seen.add(col.path_in_schema)
                    assert "DELTA_BINARY_PACKED" in col.encodings, (
                        col.path_in_schema, col.encodings)
                    assert not any("DICTIONARY" in e for e in col.encodings)
    assert seen == wanted


def test_varint_format_store_is_refused_with_rebuild_hint(spark, tmp_path):
    """A store written in the retired varint-payload schema fails at open —
    SegmentStore, from_index_dir(serve="segments"), merge_segment_stores
    and read_term_postings — naming the format and the rebuild entry point."""
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.segments import merge_segment_stores

    out = str(tmp_path / "old")
    spark.createDataFrame(
        [("content", "needle", 0, 1, 1, 7, 7, 1, 2, bytearray(b"\x07\x01\x00"))],
        "field string, term string, chunk long, df long, cf long, min_doc long, "
        "max_doc long, max_tf long, n_bytes long, payload binary",
    ).write.parquet(os.path.join(out, "segments"))
    spark.createDataFrame([(7, "content", 1)], "doc_id long, field string, dl long").write.parquet(
        os.path.join(out, "doclens")
    )
    spark.createDataFrame([(7, "x")], "doc_id long, content string").write.parquet(
        os.path.join(out, "docs")
    )
    with open(os.path.join(out, "stats.json"), "w") as fh:
        json.dump({"n_docs": 1, "avgdl": {"content": 1.0}}, fh)

    msg = "varint.*build_resumable_index"
    with pytest.raises(ValueError, match=msg):
        SegmentStore(spark, out)
    with pytest.raises(ValueError, match=msg):
        SparkSearchEngine.from_index_dir(spark, out, code_schema(), serve="segments")
    with pytest.raises(ValueError, match=msg):
        merge_segment_stores(
            spark, [os.path.join(out, "segments")], str(tmp_path / "merged")
        )
    with pytest.raises(ValueError, match=msg):
        read_term_postings(spark, os.path.join(out, "segments"), "content", "needle")


def test_store_without_dls_is_refused_with_rebuild_hint(spark, tmp_path, postings):
    """A columnar store written before segment rows carried ``dls`` fails
    at open — SegmentStore, from_index_dir(serve="segments") and
    merge_segment_stores — naming the column and the rebuild entry point;
    nothing falls back to joining ``doclens/``."""
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.segments import merge_segment_stores

    out = str(tmp_path / "nodls")
    part = postings.where(F.col("doc_id") <= 20)
    encode_segments(part, chunk_span=256).drop("dls").write.parquet(
        os.path.join(out, "segments")
    )
    build_doclens(part).write.parquet(os.path.join(out, "doclens"))
    spark.createDataFrame([(1, "x")], "doc_id long, content string").write.parquet(
        os.path.join(out, "docs")
    )
    with open(os.path.join(out, "stats.json"), "w") as fh:
        json.dump({"n_docs": 20, "avgdl": {"content": 1.0}}, fh)

    msg = "'dls'.*build_resumable_index"
    with pytest.raises(ValueError, match=msg):
        SegmentStore(spark, out)
    with pytest.raises(ValueError, match=msg):
        SparkSearchEngine.from_index_dir(spark, out, code_schema(), serve="segments")
    with pytest.raises(ValueError, match=msg):
        merge_segment_stores(
            spark, [os.path.join(out, "segments")], str(tmp_path / "merged")
        )


def test_built_store_dls_equal_doclens(spark, tmp_path):
    """After ``build_resumable_index`` every segment row's ``dls`` holds,
    for each of its ``doc_ids``, that doc's ``doclens/`` value in the
    row's field — the length BM25 scores the hit with."""
    out = str(tmp_path / "dls")
    corpus = generate_code_corpus(spark, 200, seed=5, partitions=4)
    build_resumable_index(spark, corpus, code_schema(), out, n_chunks=2, chunk_span=32)
    seg = spark.read.parquet(os.path.join(out, "segments"))
    assert seg.where(F.size("dls") != F.size("doc_ids")).count() == 0
    hits = seg.select(
        "field", F.inline(F.arrays_zip(F.col("doc_ids").alias("doc_id"), F.col("dls").alias("seg_dl")))
    )
    doclens = spark.read.parquet(os.path.join(out, "doclens"))
    joined = hits.join(doclens, ["doc_id", "field"], "left")
    assert joined.where(F.col("dl").isNull() | (F.col("dl") != F.col("seg_dl"))).count() == 0
    assert joined.count() == seg.agg(F.sum("df")).first()[0] > 0


def test_segment_store_lookup(spark, postings, tmp_path):
    seg_path = str(tmp_path / "segments")
    write_segments(encode_segments(postings, chunk_span=256), seg_path)
    hits = read_term_postings(spark, seg_path, "content", "needle_100")
    rows = hits.collect()
    assert len(rows) == 1
    # dictionary merge equals direct df
    seg = spark.read.parquet(seg_path)
    d = merge_segment_dictionaries(seg)
    got = {
        (r["field"], r["term"]): r["df"]
        for r in d.where(F.col("term").isin(["function", "needle_100"])).collect()
    }
    direct = {
        (r["field"], r["term"]): r["count"]
        for r in postings.where(F.col("term").isin(["function", "needle_100"]))
        .groupBy("field", "term")
        .count()
        .collect()
    }
    assert got == direct


def test_resumable_build_crash_equivalence(spark, tmp_path):
    corpus = generate_code_corpus(spark, 300, seed=11, partitions=4).cache()
    schema = code_schema()
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crashy")

    m_clean = build_resumable_index(spark, corpus, schema, clean_dir, n_chunks=4)
    assert m_clean["completed"]

    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable_index(
            spark, corpus, schema, crash_dir, n_chunks=4, fail_after_chunks=2
        )
    m_partial = json.load(open(os.path.join(crash_dir, "manifest.json")))
    assert not m_partial["completed"]
    assert sum(1 for c in m_partial["chunks"].values() if c["done"]) == 2

    m_resumed = build_resumable_index(spark, corpus, schema, crash_dir, n_chunks=4)
    assert m_resumed["completed"]
    # resume only built the remaining chunks
    assert sum(1 for c in m_resumed["chunks"].values() if c["done"]) == 4

    for sub in ["postings", "segments", "doclens", "ngram"]:
        a = sorted(map(str, spark.read.parquet(f"{clean_dir}/{sub}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{crash_dir}/{sub}").collect()))
        assert a == b, sub
    # the segment rows are the index's only dictionary
    assert not os.path.exists(f"{clean_dir}/dictionary")
    assert not os.path.exists(f"{crash_dir}/dictionary")
    sa = json.load(open(f"{clean_dir}/stats.json"))
    sb = json.load(open(f"{crash_dir}/stats.json"))
    sa.pop("finalize_sec"), sb.pop("finalize_sec")
    assert sa == sb
    # lineage + metrics recorded per chunk
    for c in m_resumed["chunks"].values():
        assert c["n_docs"] > 0 and c["sec"] >= 0 and "docs_per_sec" in c


def test_engine_from_persisted_index(spark, tmp_path):
    """Serve path: an engine loaded from a manifest-built directory answers
    queries identically to the in-memory engine over the same corpus."""
    from phphinder_spark.engine import SparkSearchEngine

    corpus = generate_code_corpus(spark, 400, seed=13, partitions=4).cache()
    schema = code_schema()
    out = str(tmp_path / "served")
    build_resumable_index(spark, corpus, schema, out, n_chunks=4)

    mem = SparkSearchEngine(spark, schema)
    mem.index_dataframe(assign_doc_ids(corpus, ["repo", "path", "commit"]))
    served = SparkSearchEngine.from_index_dir(spark, out, schema)

    for q in ["function return", "needle_100", "lang:py", "varint OR delta"]:
        a = sorted(r["doc_id"] for r in mem.search_df(q).collect())
        b = sorted(r["doc_id"] for r in served.search_df(q).collect())
        assert a == b, q
    ta = [(r["doc_id"], r["score"]) for r in
          mem.search_topk_bm25("varint delta", k=5, field="content").collect()]
    tb = [(r["doc_id"], r["score"]) for r in
          served.search_topk_bm25("varint delta", k=5, field="content").collect()]
    assert ta == tb


def test_segment_served_bm25(spark, tmp_path):
    """Cold-serving: BM25 from the compressed segment store equals the
    in-memory scorer."""
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.segments import segment_bm25_topk

    corpus = generate_code_corpus(spark, 400, seed=17, partitions=4).cache()
    schema = code_schema()
    out = str(tmp_path / "cold")
    build_resumable_index(spark, corpus, schema, out, n_chunks=4, chunk_span=128)

    eng = SparkSearchEngine(spark, schema)
    eng.index_dataframe(assign_doc_ids(corpus, ["repo", "path", "commit"]))
    terms = ["varint", "delta", "merge"]
    mem = eng.search_topk_bm25("varint delta merge", k=8, field="content").collect()
    cold = segment_bm25_topk(spark, out, terms, "content", k=8).collect()
    assert [(r["doc_id"], r["score"]) for r in cold] == [
        (r["doc_id"], r["score"]) for r in mem
    ]


def test_merge_segment_stores_equivalence(spark, tmp_path, postings):
    """Merging two stores (disjoint doc ranges + an overlapping chunk)
    equals the postings of a single-shot store build."""
    from phphinder_spark.index.segments import merge_segment_stores

    lo = postings.where(F.col("doc_id") <= 300)
    hi = postings.where(F.col("doc_id") > 300)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    merged_path = str(tmp_path / "merged")
    # chunk_span=256 -> chunk 1 (docs 257..512) straddles the 300 split:
    # both stores contain (term, chunk=1) rows -> real collision re-encode
    write_segments(encode_segments(lo, chunk_span=256), p1)
    write_segments(encode_segments(hi, chunk_span=256), p2)
    merge_segment_stores(spark, [p1, p2], merged_path, chunk_span=256)

    def norm(df):
        return sorted(
            (r["field"], r["term"], r["doc_id"], r["tf"], list(r["positions"]))
            for r in df.collect()
        )

    merged = decode_segments(spark.read.parquet(merged_path))
    assert norm(merged) == norm(postings)
    # the merged store has exactly one row per (field, term, chunk)
    seg = spark.read.parquet(merged_path)
    assert (
        seg.groupBy("field", "term", "chunk").count().where("count > 1").count()
        == 0
    )
    # the colliding chunk-1 rows kept the lengths they were written with
    # (recounted over a collision they would be partial sums): every
    # posting's dl, and so BM25 top-k, equals the single-shot store's
    single_dir, merged_dir = str(tmp_path / "single"), str(tmp_path / "merged_idx")
    _hand_built_store(single_dir, postings, 256, N_DOCS)
    merge_segment_stores(spark, [p1, p2], os.path.join(merged_dir, "segments"), chunk_span=256)
    shutil.copy(os.path.join(single_dir, "stats.json"), merged_dir)

    def with_dl(path):
        return sorted(
            tuple(r) for r in decode_segments(
                spark.read.parquet(os.path.join(path, "segments")), with_positions=False, with_dl=True
            ).select("field", "term", "doc_id", "tf", "dl").collect()
        )

    assert with_dl(merged_dir) == with_dl(single_dir)
    for terms in (["varint", "delta", "merge"], ["needle_100", "function"], ["return"]):
        assert topk(segment_bm25_topk(spark, merged_dir, terms, "content", k=8)) == topk(
            segment_bm25_topk(spark, single_dir, terms, "content", k=8)
        ), terms


def test_segment_blockmax_equals_exhaustive(spark, tmp_path):
    """Chunk-level block-max from the segment store == exhaustive
    segment-served top-k, and it actually skips chunks."""
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.segments import (
        segment_bm25_topk,
        segment_bm25_topk_blockmax,
    )

    corpus = generate_code_corpus(spark, 400, seed=17, partitions=4).cache()
    schema = code_schema()
    out = str(tmp_path / "bm")
    build_resumable_index(spark, corpus, schema, out, n_chunks=4, chunk_span=32)

    for terms in (["needle_100", "varint", "delta"], ["varint", "delta", "merge"]):
        cold = segment_bm25_topk(spark, out, terms, "content", k=8).collect()
        pruned, metrics = segment_bm25_topk_blockmax(
            spark, out, terms, "content", k=8
        )
        assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
            (r["doc_id"], r["score"]) for r in cold
        ], terms
        assert metrics["chunks_total"] > 0


def test_segment_blockmax_quick_rejects_all_hot_queries(spark, tmp_path):
    """When every chunk holds every query term (all-hot query), the
    metadata-only quick reject skips the θ-seeding pass entirely (it was
    measured 2x slower than exhaustive at 1.5M docs) — identical top-k."""
    from phphinder_spark.index.segments import segment_bm25_topk_blockmax

    rows = []
    for d in range(160):
        rows.append(("content", "hot_a", d, 1 + d % 3, [0]))
        rows.append(("content", "hot_b", d, 1 + d % 2, [1]))
    postings = spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )
    out = str(tmp_path / "hot")
    _hand_built_store(out, postings, 32, 160, {"content": 4.0})

    cold = segment_bm25_topk(spark, out, ["hot_a", "hot_b"], "content", k=8).collect()
    pruned, m = segment_bm25_topk_blockmax(
        spark, out, ["hot_a", "hot_b"], "content", k=8
    )
    assert m.get("quick_reject") is True
    assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
        (r["doc_id"], r["score"]) for r in cold
    ]


@pytest.mark.parametrize("source", ["segments", "postings"])
def test_segment_blockmax_skips_chunks(spark, tmp_path, source):
    """Handcrafted skewed postings: the high-scoring docs live in one
    chunk; every other chunk's bound falls below θ and is never scored —
    from the segment store (chunk span 32: 10 chunks) and from the
    postings table (the memory span rule gives 64 at 320 docs: 5 chunks)."""
    from phphinder_spark.index.segments import segment_bm25_topk_blockmax
    from phphinder_spark.scoring import PostingsSource, bm25_topk

    # 320 docs, chunk_span 32 -> 10 chunks. "jackpot" only in docs 0..31
    # (chunk 0) with tf 8; "filler" in every doc with tf 1.
    rows = []
    for d in range(320):
        rows.append(("content", "filler", d, 1, [0]))
        if d < 32:
            rows.append(("content", "jackpot", d, 8, list(range(1, 9))))
    postings = spark.createDataFrame(
        rows, "field string, term string, doc_id long, tf long, positions array<int>"
    )
    out = str(tmp_path / "skew")
    _hand_built_store(out, postings, 32, 320, {"content": 1.8})

    terms = ["jackpot", "filler"]
    if source == "segments":
        cold = segment_bm25_topk(spark, out, terms, "content", k=8).collect()
        pruned, m = segment_bm25_topk_blockmax(spark, out, terms, "content", k=8)
    else:
        src = PostingsSource(
            postings, spark.read.parquet(os.path.join(out, "doclens")),
            {"n_docs": 320, "avgdl": {"content": 1.8}},
        )
        cold = bm25_topk(src, terms, "content", k=8)[0].collect()
        pruned, m = bm25_topk(src, terms, "content", k=8, prune=True)
    assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
        (r["doc_id"], r["score"]) for r in cold
    ]
    assert m["chunks_decoded"] == 1
    if source == "segments":
        assert m["chunks_total"] == 10
        assert m["chunk_skip_fraction"] == 0.9
    else:
        assert m["chunks_total"] == 5


def test_clustered_ids_make_chunk_skip_effective(spark, tmp_path):
    """Doc-id clustering by language localizes topic vocabulary into
    contiguous chunks; a topic-specific query then skips most chunks of
    the segment store — the IR doc-reordering effect, end to end."""
    from phphinder_spark.index.builder import assign_doc_ids_clustered
    from phphinder_spark.index.segments import segment_bm25_topk_blockmax

    corpus = generate_code_corpus(
        spark, 2000, seed=11, partitions=4, zipf="topics"
    ).cache()
    docs = assign_doc_ids_clustered(corpus, ["lang"], ["repo", "path", "commit"])
    postings = build_postings(docs, code_schema()).cache()
    out = str(tmp_path / "clustered")
    _hand_built_store(out, postings, 128, 2000)

    # topic identifiers live only in lang-0's contiguous range; the hot
    # term pulls every chunk into the candidate set, and θ (seeded from
    # the topic chunks) prunes the hot-only chunks without decoding them
    terms = ["t0_id3", "t0_id5", "function"]
    cold = segment_bm25_topk(spark, out, terms, "content", k=8).collect()
    pruned, m = segment_bm25_topk_blockmax(spark, out, terms, "content", k=8)
    assert [(r["doc_id"], r["score"]) for r in pruned.collect()] == [
        (r["doc_id"], r["score"]) for r in cold
    ]
    assert m["chunks_total"] >= 12  # hot term spans the whole corpus
    assert m["chunk_skip_fraction"] >= 0.5, m

    # pure topic query: the TERM pushdown alone confines the scan to the
    # cluster's few chunks — locality the random layout cannot give
    _, m2 = segment_bm25_topk_blockmax(
        spark, out, ["t0_id3", "t0_id5", "t0_id9"], "content", k=8
    )
    assert m2["chunks_total"] <= 6, m2

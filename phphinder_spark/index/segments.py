"""Compressed posting-list segments: sorted, delta-gap encoded, chunked,
with per-row skip statistics (min/max doc_id) — the Spark replacement for
the reference's sorted fixed-width JSON files with binary search
(reference: src/Index/JsonStorage.php:209-301; SURVEY.md §4 item 1).

Layout: one segment row per (field, term, chunk) where
``chunk = doc_id // chunk_span`` bounds group size for hot terms (a
10^12-doc posting list for "function" becomes many bounded chunks instead
of one giant group — no single-task skew in encode, decode, or merge).
Segment rows are written as Parquet sorted by (field, term, chunk) so
row-group min/max statistics give O(log n)-style data skipping on term
lookups — the distributed analogue of the reference's in-file binary
search.

Posting format: three Parquet array columns per row, aligned by index —
    doc_ids    array<long>         sorted, absolute doc ids
    tfs        array<long>         tf per doc
    positions  array<array<int>>   sorted positions per doc
The delta-gaps live in the file format: ``write_segments`` writes Parquet
v2 pages without dictionaries, so every integer column (array elements
included) is ``DELTA_BINARY_PACKED`` — deltas bit-packed in blocks.
Encode is one JVM aggregate and decode one ``inline(arrays_zip(...))``:
no Python worker runs on either side, and a scoring read scans only the
``doc_ids``/``tfs`` columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window, functions as F

from phphinder_spark.scoring import bm25_topk

DEFAULT_CHUNK_SPAN = 1 << 20  # 1M doc ids per chunk

# fixed Parquet writer options of the store (see the module docstring)
_WRITE_OPTIONS = {"parquet.writer.version": "v2", "parquet.enable.dictionary": "false"}


def read_segments(spark, path: str) -> DataFrame:
    """Open the segment store at ``path``; a store written in the retired
    varint-payload format fails here with a clear error instead of deep
    inside a Spark job."""
    seg = spark.read.parquet(path)
    if "payload" in seg.columns and "doc_ids" not in seg.columns:
        raise ValueError(
            f"{path} is a segment store in the retired varint-payload "
            "format (one 'payload' blob per row); rebuild the index with "
            "index.manifest.build_resumable_index to get the columnar format"
        )
    return seg


def encode_segments(
    postings: DataFrame, chunk_span: int = DEFAULT_CHUNK_SPAN
) -> DataFrame:
    """postings -> segment rows: one aggregate on (field, term, chunk) that
    collects the doc-id-sorted (doc_id, tf, positions) list, so group size
    is bounded by chunk_span regardless of term hotness. The skip
    statistics come from that list: df its size, min/max_doc its ends,
    max_tf (the block-max bound) its tf ceiling."""
    p = (
        postings.withColumn(
            "chunk", F.floor(F.col("doc_id") / F.lit(chunk_span)).cast("long")
        )
        .groupBy("field", "term", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "tf", "positions"))).alias("p"))
    )
    return p.select(
        "field",
        "term",
        "chunk",
        F.size("p").cast("long").alias("df"),
        F.aggregate("p.tf", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("cf"),
        F.col("p")[0]["doc_id"].alias("min_doc"),
        F.element_at("p", -1)["doc_id"].alias("max_doc"),
        F.array_max("p.tf").alias("max_tf"),
        F.col("p.doc_id").alias("doc_ids"),
        F.col("p.tf").alias("tfs"),
        F.col("p.positions").alias("positions"),
    )


def decode_segments(segments: DataFrame, with_positions: bool = True) -> DataFrame:
    """segment rows -> postings (inverse of encode_segments).

    ``with_positions=False`` emits empty position arrays (schema-stable)
    and never reads the ``positions`` column — use for scoring-only reads."""
    zipped = [F.col("doc_ids").alias("doc_id"), F.col("tfs").alias("tf")]
    if with_positions:
        return segments.select(
            "field", "term", F.inline(F.arrays_zip(*zipped, F.col("positions")))
        )
    return segments.select(
        "field",
        "term",
        F.inline(F.arrays_zip(*zipped)),
        F.array().cast("array<int>").alias("positions"),
    )


def write_segments(segments: DataFrame, path: str, n_files: int | None = None) -> None:
    """Persist sorted by (field, term, chunk): Parquet row-group min/max on
    ``term`` gives data skipping for point lookups."""
    out = segments.repartitionByRange(
        *( [n_files] if n_files else [] ), "field", "term"
    ).sortWithinPartitions("field", "term", "chunk")
    out.write.mode("overwrite").options(**_WRITE_OPTIONS).parquet(path)


def read_term_postings(spark, path: str, field: str, term: str) -> DataFrame:
    """Point lookup from the segment store: the (field, term) predicate is
    pushed into the Parquet scan (row-group skipping via sorted layout)."""
    seg = read_segments(spark, path).where(
        (F.col("field") == field) & (F.col("term") == term)
    )
    return decode_segments(seg)


def merge_segment_dictionaries(segments: DataFrame) -> DataFrame:
    """Global dictionary from chunked segments: hierarchical merge is a
    partial-agg sum over chunk stats (never reads the posting arrays)."""
    return segments.groupBy("field", "term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.min("min_doc").alias("min_doc"),
        F.max("max_doc").alias("max_doc"),
    )


def merge_segment_stores(
    spark,
    paths: list[str],
    out_path: str,
    chunk_span: int = DEFAULT_CHUNK_SPAN,
    n_files: int | None = None,
) -> None:
    """Hierarchical merge of K segment stores into one compacted store
    (north_star: per-partition segments "hierarchically merged into a
    global dictionary").

    Scale design: a (field, term, chunk) group that exists in only ONE
    input store passes through byte-identical — no decode. Only colliding
    groups (same term chunk written by several incremental builds) are
    decoded, concatenated doc-id-sorted, and re-encoded. For typical
    incremental ingestion (new builds cover new doc-id ranges -> new
    chunks) the merge is almost pure file re-layout; the expensive path is
    proportional to actual overlap, not store size."""
    from functools import reduce

    segs = reduce(
        lambda a, b: a.unionByName(b),
        [read_segments(spark, p) for p in paths],
    )
    w = Window.partitionBy("field", "term", "chunk")
    tagged = segs.withColumn("_n", F.count("*").over(w))
    passthrough = tagged.where(F.col("_n") == 1).drop("_n")
    colliding = tagged.where(F.col("_n") > 1).drop("_n")
    reencoded = encode_segments(decode_segments(colliding), chunk_span)
    write_segments(passthrough.unionByName(reencoded), out_path, n_files)


class SegmentStore:
    """An index directory's segment store, opened once: the ``segments/``
    and ``doclens/`` parquet tables and ``stats.json``. It is a posting
    source of ``scoring.bm25_topk``, so a serving engine pays the parquet
    opens and the stats read at open time, never per query.

    Per query the kernel reads the chunk metadata (term, chunk, df,
    max_tf) of the query terms — never ``dictionary/``: the dictionary is
    ``merge_segment_dictionaries`` of these rows, so a term's df is the
    sum of its chunks' df (``df_from_chunk_rows``), and the posting
    arrays of only the chunks it scores (``hits``). That metadata comes
    from one of two regimes, chosen once by the rule of the engine's
    driver dictionary cache:

    - ``n_segment_rows`` (stats.json) within ``_DICT_DRIVER_CACHE_MAX``:
      the first lookup collects the whole store's metadata into a driver
      map (field, term) -> ((chunk, df, max_tf), ...); later lookups run
      no Spark job;
    - over the cap, or a store whose stats.json has no row count: one
      metadata-only collect per lookup (the posting arrays are never
      scanned)."""

    df_from_chunk_rows = True

    def __init__(self, spark, index_dir: str):
        self.spark = spark
        self.segments = read_segments(spark, os.path.join(index_dir, "segments"))
        self.doclens = spark.read.parquet(os.path.join(index_dir, "doclens"))
        with open(os.path.join(index_dir, "stats.json")) as fh:
            self.stats = json.load(fh)
        self._chunks: dict[tuple[str, str], tuple] | None = None
        self._chunks_tried = False

    @classmethod
    def of(cls, spark, store: "SegmentStore | str") -> "SegmentStore":
        """``store`` itself, or a store opened on the spot from a path."""
        return store if isinstance(store, SegmentStore) else cls(spark, store)

    def fields(self) -> set[str] | None:
        """The fields of the store's rows, from the driver map; None while
        that map is not loaded (see ``chunk_rows``)."""
        if self._chunks is None:
            return None
        return {f for f, _ in self._chunks}

    def chunk_rows(self, field: str, terms: list[str]) -> list[tuple]:
        """(term, chunk, df, max_tf) of every segment row of ``terms`` in
        ``field``, from the driver map when it fits (see the class)."""
        if not self._chunks_tried:
            self._chunks_tried = True
            from phphinder_spark import engine

            n_rows = self.stats.get("n_segment_rows")
            if n_rows is not None and n_rows <= engine._DICT_DRIVER_CACHE_MAX:
                by_key: dict[tuple[str, str], list] = {}
                for f, t, c, d, m in self.segments.select(
                    "field", "term", "chunk", "df", "max_tf"
                ).collect():
                    by_key.setdefault((f, t), []).append((c, d, m))
                self._chunks = {key: tuple(v) for key, v in by_key.items()}
        if self._chunks is not None:
            return [(t, *r) for t in terms for r in self._chunks.get((field, t), ())]
        return self._rows(field, terms).select("term", "chunk", "df", "max_tf").collect()

    def _rows(self, field: str, terms: list[str]) -> DataFrame:
        return self.segments.where((F.col("field") == field) & F.col("term").isin(terms))

    def hits(self, field: str, terms: list[str], chunks: list[int] | None = None) -> DataFrame:
        """(field, term, doc_id, tf) of ``terms`` in ``field``, decoded from
        the segment rows of ``chunks`` (all when None) only; scoring reads
        no positions."""
        seg = self._rows(field, terms)
        if chunks is not None:
            seg = seg.where(F.col("chunk").isin(chunks))
        return decode_segments(seg, with_positions=False)


def segment_bm25_topk(
    spark, store: "SegmentStore | str", terms: list[str], field: str,
    k: int = 10, k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """Exhaustive ``scoring.bm25_topk`` over the segment store ``store``
    (an open ``SegmentStore``, or an index directory opened on the spot)."""
    return bm25_topk(SegmentStore.of(spark, store), terms, field, k, k1, b)[0]


def segment_bm25_topk_blockmax(
    spark, store: "SegmentStore | str", terms: list[str], field: str,
    k: int = 10, k1: float = 1.2, b: float = 0.75,
) -> "tuple[DataFrame, dict]":
    """Block-max ``scoring.bm25_topk(prune=True)`` over the segment store —
    chunks whose bound cannot reach θ are never decoded; ``store`` as in
    ``segment_bm25_topk``. Returns (topk_df, metrics)."""
    return bm25_topk(SegmentStore.of(spark, store), terms, field, k, k1, b, prune=True)

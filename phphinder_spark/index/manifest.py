"""Resumable, chunked index builds with per-partition lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

The corpus is split into ``n_chunks`` deterministic buckets
(``doc_id % n_chunks``); each chunk builds and writes its postings
partition independently and is recorded in ``manifest.json`` with row
counts, wall time and throughput. A re-run with ``resume=True`` skips
chunks whose output exists and whose manifest entry matches the build
fingerprint — so a killed build continues where it stopped and the final
index is byte-identical to an uninterrupted one (asserted in
tests/test_segments_resume.py).

Layout under ``out_dir``:
    docs/                 stored fields + content_sha256 (audit column)
    postings/chunk=<i>/   per-chunk postings parquet
    segments/             segment store (encode_segments): per (field, term,
                          chunk) doc_ids/tfs/positions arrays, Parquet v2
                          DELTA_BINARY_PACKED (delta-gaps, bit-packed)
    dictionary/           global (field, term, df, cf, ...) parquet
    ngram/                bigram typo index over dictionary terms
    stats.json            corpus-level stats (n_docs, avgdl per field)
    manifest.json         lineage + per-chunk metrics
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from phphinder_spark.index.builder import assign_doc_ids, build_postings
from phphinder_spark.index.segments import (
    encode_segments,
    merge_segment_dictionaries,
    write_segments,
)
from phphinder_spark.schema import SearchSchema


def _fingerprint(schema: SearchSchema, n_chunks: int) -> str:
    import hashlib

    payload = json.dumps(
        {
            "fields": schema.fields,
            "types": schema.types,
            "analyzer": [type(t).__name__ for t in schema.analyzer.transformers],
            "n_chunks": n_chunks,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _load_manifest(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {"chunks": {}, "fingerprint": None, "completed": False}


def _save_manifest(path: str, manifest: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    os.replace(tmp, path)


def build_resumable_index(
    spark: SparkSession,
    corpus: DataFrame,
    schema: SearchSchema,
    out_dir: str,
    n_chunks: int = 8,
    resume: bool = True,
    chunk_span: int = 1 << 20,
    fail_after_chunks: int | None = None,
) -> dict:
    """Build docs + chunked postings + segments + dictionary under
    ``out_dir``. ``fail_after_chunks`` injects a crash after N chunks
    (test hook for resume semantics). Returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    mpath = os.path.join(out_dir, "manifest.json")
    fp = _fingerprint(schema, n_chunks)
    manifest = _load_manifest(mpath) if resume else {"chunks": {}, "fingerprint": None, "completed": False}
    if manifest["fingerprint"] not in (None, fp):
        manifest = {"chunks": {}, "fingerprint": None, "completed": False}
    manifest["fingerprint"] = fp

    docs_path = os.path.join(out_dir, "docs")
    t0 = time.time()
    if not (resume and manifest.get("docs_done") and os.path.exists(docs_path)):
        key_cols = [c for c in ("repo", "path", "commit") if c in corpus.columns]
        if "doc_id" in corpus.columns:
            docs = corpus
        else:
            docs = assign_doc_ids(corpus, key_cols or corpus.columns[:1])
        audit_col = next(
            (f for f in schema.fulltext_fields if f in docs.columns), None
        )
        if audit_col:
            docs = docs.withColumn("content_sha256", F.sha2(F.col(audit_col), 256))
        docs.write.mode("overwrite").parquet(docs_path)
        manifest["docs_done"] = True
        manifest["docs_sec"] = round(time.time() - t0, 2)
        manifest["lineage"] = {
            "source_columns": corpus.columns,
            "n_docs": spark.read.parquet(docs_path).count(),
            "key_cols": key_cols,
        }
        _save_manifest(mpath, manifest)

    docs = spark.read.parquet(docs_path)
    n_docs = manifest["lineage"]["n_docs"]

    done = 0
    for i in range(n_chunks):
        cdir = os.path.join(out_dir, "postings", f"chunk={i}")
        entry = manifest["chunks"].get(str(i))
        if resume and entry and entry.get("done") and os.path.exists(cdir):
            continue
        t = time.time()
        chunk_docs = docs.where(F.col("doc_id") % n_chunks == i)
        postings = build_postings(chunk_docs, schema)
        postings.write.mode("overwrite").parquet(cdir)
        rows = spark.read.parquet(cdir).count()
        chunk_n_docs = chunk_docs.count()
        took = time.time() - t
        manifest["chunks"][str(i)] = {
            "done": True,
            "n_docs": chunk_n_docs,
            "n_postings": rows,
            "sec": round(took, 2),
            "docs_per_sec": round(chunk_n_docs / max(took, 1e-9), 1),
            "postings_per_sec": round(rows / max(took, 1e-9), 1),
        }
        _save_manifest(mpath, manifest)
        done += 1
        if fail_after_chunks is not None and done >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {done} chunks")

    # finalize: segments + dictionary + stats (idempotent overwrite)
    t1 = time.time()
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    segments = encode_segments(postings, chunk_span=chunk_span)
    write_segments(segments, os.path.join(out_dir, "segments"))
    segments_df = spark.read.parquet(os.path.join(out_dir, "segments"))
    merge_segment_dictionaries(segments_df).write.mode("overwrite").parquet(
        os.path.join(out_dir, "dictionary")
    )
    # persist the bigram typo index with the manifest layout so serving
    # sessions load it instead of rebuilding per session (engine
    # from_index_dir(serve="segments")); shadow (#raw) phrase-prefilter
    # rows are not dictionary terms
    from phphinder_spark.index.builder import SHADOW_SUFFIX
    from phphinder_spark.index.typo_ngram import build_ngram_index

    dict_df = spark.read.parquet(os.path.join(out_dir, "dictionary")).where(
        ~F.col("field").endswith(SHADOW_SUFFIX)
    )
    build_ngram_index(dict_df).write.mode("overwrite").parquet(
        os.path.join(out_dir, "ngram")
    )
    doclens = postings.groupBy("doc_id", "field").agg(F.sum("tf").alias("dl"))
    doclens.write.mode("overwrite").parquet(os.path.join(out_dir, "doclens"))
    avgdl = {
        r["field"]: r["avgdl"]
        for r in doclens.groupBy("field").agg(F.avg("dl").alias("avgdl")).collect()
    }
    n_postings_total = postings.count()
    # segment-size metrics (north_star: "metrics (docs/sec, postings/sec,
    # segment sizes)"): store bytes on disk + per-posting density
    seg_root = os.path.join(out_dir, "segments")
    seg_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(seg_root)
        for f in fs
    )
    n_segment_rows = segments_df.count()
    stats = {
        "n_docs": n_docs,
        "n_postings": n_postings_total,
        "avgdl": avgdl,
        "finalize_sec": round(time.time() - t1, 2),
        "segment_store_bytes": seg_bytes,
        "n_segment_rows": n_segment_rows,
        "bytes_per_posting": round(seg_bytes / max(n_postings_total, 1), 3),
    }
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=2, sort_keys=True)
    manifest["completed"] = True
    manifest["stats"] = stats
    manifest["total_docs_per_sec"] = round(
        n_docs
        / max(sum(c["sec"] for c in manifest["chunks"].values()), 1e-9),
        1,
    )
    _save_manifest(mpath, manifest)
    return manifest

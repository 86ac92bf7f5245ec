"""Exhaustive vs block-max BM25 at scale (VERDICT r01 #7).

At 5k docs (sf0.1) the pruned path loses: its θ-seeding collect adds
jobs that the saved scoring doesn't pay back. This bench runs both
strategies on the ZIPF variant of the synthetic code corpus (input_hint
shape, realistic term-frequency skew — pruning is distribution-
dependent and a uniform-vocabulary corpus has nothing for ANY top-k
algorithm to prune), asserts the top-k are IDENTICAL, and reports
per-query times + skipped-chunk fractions. Appends a section to BENCH.md.

Usage: python scripts/blockmax_bench.py [n_docs] [k]   # default 400_000, 10
"""

import json
import sys
import time

sys.path.insert(0, "/root/repo")


# Zipf corpus: idN has Zipf rank N -> df ~ 1-exp(-9.6/N) of docs.
# Mid-rank terms (the realistic discriminating-query shape) are where
# block-max pruning pays; the all-hot query is the honest worst case.
QUERIES = [
    "id100 id200 id500",          # mid-rank conjunction-ish
    "id50 id300 function",        # mid-rank + hot
    "needle_100 id200 return",    # needle + mid + hot
    "id500 id800 id1200",         # rare-ish tail
    "function return class",      # all-hot: pruning worst case
]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("blockmax-bench")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import pandas as pd

    from phphinder_spark.corpus import generate_code_corpus
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.builder import assign_doc_ids
    from phphinder_spark.schema import code_schema
    from phphinder_spark.scoring import PostingsSource, bm25_topk

    @F.pandas_udf("int")
    def _warm(s: pd.Series) -> pd.Series:
        return s.str.len()

    spark.range(0, 10_000, numPartitions=128).select(
        _warm(F.col("id").cast("string"))
    ).count()

    corpus = generate_code_corpus(spark, n_docs, seed=42, partitions=128, zipf=True).cache()
    corpus.count()
    t0 = time.time()
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    eng = SparkSearchEngine(spark, code_schema())
    eng.index_dataframe(docs)
    n_post = eng.index.postings.count()
    eng.index.doclens.count()
    stats = eng.index.stats()
    build_sec = time.time() - t0

    rows_out = []
    for q in QUERIES:
        t = time.time()
        ex = [
            (r["doc_id"], r["score"])
            for r in eng.search_topk_bm25(q, k=k, field="content").collect()
        ]
        t_ex = time.time() - t
        t = time.time()
        bm = [
            (r["doc_id"], r["score"])
            for r in eng.search_topk_bm25(
                q, k=k, field="content", strategy="blockmax"
            ).collect()
        ]
        t_bm = time.time() - t
        assert ex == bm, f"top-k mismatch for {q!r}: {ex} vs {bm}"
        # pruning diagnostics (untimed extra run)
        terms = [t for t, _ in eng.schema.analyzer.analyze(q)]
        _, metrics = bm25_topk(
            PostingsSource(eng.index.postings, eng.index.doclens, stats),
            terms, "content", k, prune=True,
        )
        rows_out.append(
            {
                "query": q,
                "exhaustive_sec": round(t_ex, 2),
                "blockmax_sec": round(t_bm, 2),
                "speedup": round(t_ex / max(t_bm, 1e-9), 2),
                "chunk_skip_fraction": metrics.get("chunk_skip_fraction"),
                "identical_topk": True,
            }
        )
        print(json.dumps(rows_out[-1]), flush=True)

    # ---- segment-served comparison: here pruning skips real work
    # (skipped chunks' posting arrays are never read), not just scoring exprs
    import os
    import tempfile

    from phphinder_spark.index.segments import (
        SegmentStore,
        encode_segments,
        segment_bm25_topk,
        segment_bm25_topk_blockmax,
        write_segments,
    )

    seg_dir = tempfile.mkdtemp(prefix="bmseg_")
    span = max(64, 1 << (n_docs // 256).bit_length())
    write_segments(
        encode_segments(eng.index.postings, chunk_span=span),
        os.path.join(seg_dir, "segments"),
    )
    eng.index.doclens.write.mode("overwrite").parquet(os.path.join(seg_dir, "doclens"))
    with open(os.path.join(seg_dir, "stats.json"), "w") as fh:
        json.dump({"n_docs": stats["n_docs"], "avgdl": stats["avgdl"]}, fh)
    # one open store for every query: the timings are the scorers' own
    store = SegmentStore(spark, seg_dir)

    seg_rows = []
    for q in QUERIES:
        terms = [t for t, _ in eng.schema.analyzer.analyze(q)]
        t = time.time()
        cold = [
            (r["doc_id"], r["score"])
            for r in segment_bm25_topk(spark, store, terms, "content", k=k).collect()
        ]
        t_cold = time.time() - t
        t = time.time()
        topk, m = segment_bm25_topk_blockmax(spark, store, terms, "content", k=k)
        bm = [(r["doc_id"], r["score"]) for r in topk.collect()]
        t_bm = time.time() - t
        assert cold == bm, f"segment top-k mismatch for {q!r}"
        seg_rows.append(
            {
                "query": q,
                "seg_exhaustive_sec": round(t_cold, 2),
                "seg_blockmax_sec": round(t_bm, 2),
                "speedup": round(t_cold / max(t_bm, 1e-9), 2),
                "chunk_skip_fraction": m["chunk_skip_fraction"],
                "identical_topk": True,
            }
        )
        print(json.dumps(seg_rows[-1]), flush=True)

    summary = {
        "n_docs": n_docs,
        "n_postings": n_post,
        "build_sec": round(build_sec, 1),
        "queries": rows_out,
        "segment_queries": seg_rows,
    }
    print(json.dumps(summary))
    with open("/root/repo/BENCH.md", "a") as fh:
        fh.write(
            f"\n### block-max vs exhaustive BM25 (n_docs={n_docs}, k={k}, "
            "local[32])\n\n"
            "| query | exhaustive (s) | blockmax (s) | speedup | chunks skipped | identical top-k |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows_out:
            fh.write(
                f"| {r['query']} | {r['exhaustive_sec']} | {r['blockmax_sec']} "
                f"| {r['speedup']}x | {r['chunk_skip_fraction']} | yes |\n"
            )
        fh.write(
            "\nSegment-served (decode cost is real — pruning skips posting "
            "decode, not just scoring):\n\n"
            "| query | seg exhaustive (s) | seg blockmax (s) | speedup | chunks skipped | identical top-k |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in seg_rows:
            fh.write(
                f"| {r['query']} | {r['seg_exhaustive_sec']} | {r['seg_blockmax_sec']} "
                f"| {r['speedup']}x | {r['chunk_skip_fraction']} | yes |\n"
            )
    spark.stop()


if __name__ == "__main__":
    main()

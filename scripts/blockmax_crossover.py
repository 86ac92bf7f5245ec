"""Block-max wall-clock crossover evidence (VERDICT r02 #6).

Setup where the pruning is REAL work skipped, not just expression time:
- 1.5M-doc Zipf "topics" corpus (per-language identifier vocabulary) with
  CLUSTERED doc ids (assign_doc_ids_clustered by lang) — the IR
  doc-reordering that localizes a topic's terms into few chunks.
- segment-served BM25: exhaustive decodes every chunk of every query
  term's postings (hot terms span the whole corpus); block-max decodes
  only chunks whose bound clears θ — chunks of OTHER topics contain only
  the hot terms and are skipped wholesale.

Also reports the in-memory split: the doc-id chunks the kernel scores
out of all chunks of the query terms, isolating the data-dependent work
from the fixed per-query job count that dominates local-mode wall-clock.

Appends results to BENCH.md. Usage:
    python scripts/blockmax_crossover.py [n_docs] [k]   # default 1_500_000, 10
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

QUERIES = [
    "t0_id100 t0_id200 function",   # topic mid-rank + hot
    "t1_id50 t1_id300 return",      # another topic
    "t2_id500 t2_id800 class",      # rarer topic terms + hot
    "t3_id100 function return",     # topic + two hot
    "function return class",        # all-hot: honest worst case
]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("blockmax-crossover")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from phphinder_spark.corpus import generate_code_corpus
    from phphinder_spark.index.builder import (
        assign_doc_ids_clustered,
        build_postings,
    )
    from phphinder_spark.index.segments import (
        SegmentStore,
        encode_segments,
        segment_bm25_topk,
        segment_bm25_topk_blockmax,
        write_segments,
    )
    from phphinder_spark.schema import code_schema
    from phphinder_spark.scoring import PostingsSource, bm25_topk

    t0 = time.time()
    corpus = generate_code_corpus(
        spark, n_docs, seed=42, partitions=128, zipf="topics"
    )
    # Cluster key: (lang, xxhash(repo) % B) — NOT bare lang. Chunk skipping
    # only needs each chunk to hold ONE topic (ids contiguous per subcluster),
    # and bare-lang clustering makes one window partition per language:
    # at 5M docs that is 5 single-task 1M-row windows, and every downstream
    # stage (the pandas-UDF tokenizer included) inherits 5-way parallelism
    # — the exact skew caveat assign_doc_ids_clustered documents. B=64
    # subclusters per lang bounds the window partitions at ~n_docs/320
    # rows while keeping chunk-level topic purity intact.
    sub = corpus.withColumn(
        "_sub", F.pmod(F.xxhash64("repo"), F.lit(64)).cast("int")
    )
    docs = assign_doc_ids_clustered(
        sub, ["lang", "_sub"], ["repo", "path", "commit"]
    ).drop("_sub").repartition(128)
    postings = build_postings(docs, code_schema()).where(
        F.col("field") == "content"
    ).cache()
    n_post = postings.count()
    doclens = postings.groupBy("doc_id", "field").agg(F.sum("tf").alias("dl")).cache()
    avgdl = doclens.agg(F.avg("dl")).collect()[0][0]
    build_sec = time.time() - t0
    print(json.dumps({"n_docs": n_docs, "n_postings": n_post,
                      "build_sec": round(build_sec, 1)}), flush=True)

    span = max(64, 1 << (n_docs // 256).bit_length())
    seg_dir = tempfile.mkdtemp(prefix="bmx_")
    t = time.time()
    write_segments(
        encode_segments(postings, chunk_span=span),
        os.path.join(seg_dir, "segments"),
    )
    doclens.write.mode("overwrite").parquet(os.path.join(seg_dir, "doclens"))
    with open(os.path.join(seg_dir, "stats.json"), "w") as fh:
        json.dump({"n_docs": n_docs, "avgdl": {"content": avgdl}}, fh)
    # one open store for every query: the timings are the scorers' own
    store = SegmentStore(spark, seg_dir)
    print(json.dumps({"segment_store_sec": round(time.time() - t, 1),
                      "chunk_span": span}), flush=True)

    analyzer_terms = lambda q: q.split()

    # ---- segment-served: decode work is the real cost
    seg_rows = []
    for q in QUERIES:
        terms = analyzer_terms(q)
        t = time.time()
        cold = [
            (r["doc_id"], r["score"])
            for r in segment_bm25_topk(
                spark, store, terms, "content", k=k
            ).collect()
        ]
        t_cold = time.time() - t
        t = time.time()
        topk, m = segment_bm25_topk_blockmax(
            spark, store, terms, "content", k=k
        )
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

    # ---- in-memory wall-clock + scored-chunk split
    source = PostingsSource(postings, doclens, {"n_docs": n_docs, "avgdl": {"content": avgdl}})
    mem_rows = []
    for q in QUERIES:
        terms = analyzer_terms(q)
        t = time.time()
        ex = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(source, terms, "content", k)[0].collect()
        ]
        t_ex = time.time() - t
        t = time.time()
        topk, m = bm25_topk(source, terms, "content", k, prune=True)
        bm = [(r["doc_id"], r["score"]) for r in topk.collect()]
        t_bm = time.time() - t
        assert ex == bm, f"in-memory top-k mismatch for {q!r}"
        mem_rows.append(
            {
                "query": q,
                "exhaustive_sec": round(t_ex, 2),
                "blockmax_sec": round(t_bm, 2),
                "speedup": round(t_ex / max(t_bm, 1e-9), 2),
                "chunks_total": m.get("chunks_total"),
                "chunks_decoded": m.get("chunks_decoded"),
                "chunk_skip_fraction": m.get("chunk_skip_fraction"),
            }
        )
        print(json.dumps(mem_rows[-1]), flush=True)

    with open("/root/repo/BENCH.md", "a") as fh:
        fh.write(
            f"\n### block-max crossover (n_docs={n_docs}, k={k}, CLUSTERED "
            "topics layout, local[32])\n\n"
            "Doc ids clustered by lang (assign_doc_ids_clustered) over the\n"
            "zipf='topics' corpus: a topic's identifiers live in ~1/5 of the\n"
            "chunks, so segment-served block-max skips the other topics'\n"
            "chunks wholesale — the decode work exhaustive cannot avoid.\n\n"
            "| query | seg exhaustive (s) | seg blockmax (s) | speedup | chunks skipped |\n"
            "|---|---|---|---|---|\n"
        )
        for r in seg_rows:
            fh.write(
                f"| {r['query']} | {r['seg_exhaustive_sec']} | "
                f"{r['seg_blockmax_sec']} | {r['speedup']}x | "
                f"{r['chunk_skip_fraction']} |\n"
            )
        fh.write(
            "\nIn-memory (chunk split: `scored`/`chunks` is the "
            "data-dependent work ratio; the fixed extra jobs are the "
            "local-mode floor):\n\n"
            "| query | exhaustive (s) | blockmax (s) | speedup | chunks | scored | skipped |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in mem_rows:
            fh.write(
                f"| {r['query']} | {r['exhaustive_sec']} | {r['blockmax_sec']} | "
                f"{r['speedup']}x | {r['chunks_total']} | {r['chunks_decoded']} | "
                f"{r['chunk_skip_fraction']} |\n"
            )
    speedups = sorted(r["speedup"] for r in seg_rows)
    summary = {
        "n_docs": n_docs,
        "k": k,
        "layout": "clustered-topics",
        "seg_best_speedup": speedups[-1],
        "seg_median_speedup": speedups[len(speedups) // 2],
        "identical_topk": True,
        "seg": seg_rows,
        "mem": mem_rows,
    }
    with open("/root/repo/BENCH_blockmax.json", "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({"done": True, "seg": seg_rows, "mem": mem_rows}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Block-max wall-clock crossover evidence (VERDICT r02 #6).

Setup where the pruning is REAL work skipped, not just expression time:
- a Zipf "topics" corpus (per-language identifier vocabulary) with
  CLUSTERED doc ids (assign_doc_ids_clustered by lang) — the IR
  doc-reordering that localizes a topic's terms into few chunks — or,
  with ``--layout random``, the same corpus with hash-ordered doc ids
  (assign_doc_ids), where a topic's terms spread over every chunk.
- segment-served BM25: exhaustive decodes every chunk of every query
  term's postings (hot terms span the whole corpus); block-max decodes
  only chunks whose bound clears θ — chunks of OTHER topics contain only
  the hot terms and are skipped wholesale.

Also reports the in-memory split: the doc-id chunks the kernel scores
out of all chunks of the query terms, isolating the data-dependent work
from the fixed per-query job count that dominates local-mode wall-clock.

Each query runs ``--reps`` times per strategy, exhaustive and block-max
interleaved (the order alternates per rep), and the tables report the
median of each — a same-window A/B of the two strategies.

Appends results to BENCH.md and writes the summary to ``--json``.
Usage:
    python scripts/blockmax_crossover.py [n_docs] [k] [--layout clustered|random]
        [--reps N] [--driver-memory 4g] [--json BENCH_blockmax.json]
    # defaults: 1_500_000 docs, k=10, clustered, 1 rep, 4g
The master is local[$SPARK_GRAFT_CPUS] (default 32), with as many shuffle
partitions.
"""

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = [
    "t0_id100 t0_id200 function",   # topic mid-rank + hot
    "t1_id50 t1_id300 return",      # another topic
    "t2_id500 t2_id800 class",      # rarer topic terms + hot
    "t3_id100 function return",     # topic + two hot
    "function return class",        # all-hot: honest worst case
]


def ab(exhaustive, blockmax, reps: int) -> dict:
    """Run the two strategies ``reps`` times each, interleaved with the
    order alternating per rep; both must return the same top-k. Returns
    the median seconds of each and the block-max metrics."""
    times = {"ex": [], "bm": []}
    metrics = {}
    for rep in range(reps):
        order = ("ex", "bm") if rep % 2 == 0 else ("bm", "ex")
        got = {}
        for name in order:
            t = time.time()
            if name == "ex":
                got[name] = [(r["doc_id"], r["score"]) for r in exhaustive().collect()]
            else:
                topk, metrics = blockmax()
                got[name] = [(r["doc_id"], r["score"]) for r in topk.collect()]
            times[name].append(time.time() - t)
        assert got["ex"] == got["bm"], "top-k mismatch"
    ex, bm = statistics.median(times["ex"]), statistics.median(times["bm"])
    return {"ex": ex, "bm": bm, "speedup": ex / max(bm, 1e-9), "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("n_docs", type=int, nargs="?", default=1_500_000)
    ap.add_argument("k", type=int, nargs="?", default=10)
    ap.add_argument("--layout", choices=("clustered", "random"), default="clustered")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--json", default=os.path.join(ROOT, "BENCH_blockmax.json"))
    args = ap.parse_args()
    n_docs, k = args.n_docs, args.k
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("blockmax-crossover")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from phphinder_spark.corpus import generate_code_corpus
    from phphinder_spark.index.builder import (
        assign_doc_ids,
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
    if args.layout == "clustered":
        # Cluster key: (lang, xxhash(repo) % B) — NOT bare lang. Chunk
        # skipping only needs each chunk to hold ONE topic (ids contiguous
        # per subcluster), and bare-lang clustering makes one window
        # partition per language: at 5M docs that is 5 single-task 1M-row
        # windows, and every downstream stage (the pandas-UDF tokenizer
        # included) inherits 5-way parallelism — the exact skew caveat
        # assign_doc_ids_clustered documents. B=64 subclusters per lang
        # bounds the window partitions at ~n_docs/320 rows while keeping
        # chunk-level topic purity intact.
        sub = corpus.withColumn(
            "_sub", F.pmod(F.xxhash64("repo"), F.lit(64)).cast("int")
        )
        docs = assign_doc_ids_clustered(
            sub, ["lang", "_sub"], ["repo", "path", "commit"]
        ).drop("_sub")
    else:
        docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    postings = build_postings(docs.repartition(128), code_schema()).where(
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
    with open(os.path.join(seg_dir, "stats.json"), "w") as fh:
        json.dump({"n_docs": n_docs, "avgdl": {"content": avgdl}}, fh)
    # one open store for every query: the timings are the scorers' own
    store = SegmentStore(spark, seg_dir)
    seg_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(seg_dir, "segments"))
        for f in fs
    )
    print(json.dumps({"segment_store_sec": round(time.time() - t, 1),
                      "chunk_span": span, "segment_store_bytes": seg_bytes}), flush=True)

    # ---- segment-served: decode work is the real cost
    seg_rows = []
    for q in QUERIES:
        terms = q.split()
        r = ab(
            lambda: segment_bm25_topk(spark, store, terms, "content", k=k),
            lambda: segment_bm25_topk_blockmax(spark, store, terms, "content", k=k),
            args.reps,
        )
        seg_rows.append(
            {
                "query": q,
                "seg_exhaustive_sec": round(r["ex"], 3),
                "seg_blockmax_sec": round(r["bm"], 3),
                "speedup": round(r["speedup"], 2),
                "chunk_skip_fraction": r["metrics"]["chunk_skip_fraction"],
                "identical_topk": True,
            }
        )
        print(json.dumps(seg_rows[-1]), flush=True)

    # ---- in-memory wall-clock + scored-chunk split
    source = PostingsSource(postings, doclens, {"n_docs": n_docs, "avgdl": {"content": avgdl}})
    mem_rows = []
    for q in QUERIES:
        terms = q.split()
        r = ab(
            lambda: bm25_topk(source, terms, "content", k)[0],
            lambda: bm25_topk(source, terms, "content", k, prune=True),
            args.reps,
        )
        m = r["metrics"]
        mem_rows.append(
            {
                "query": q,
                "exhaustive_sec": round(r["ex"], 3),
                "blockmax_sec": round(r["bm"], 3),
                "speedup": round(r["speedup"], 2),
                "chunks_total": m.get("chunks_total"),
                "chunks_decoded": m.get("chunks_decoded"),
                "chunk_skip_fraction": m.get("chunk_skip_fraction"),
            }
        )
        print(json.dumps(mem_rows[-1]), flush=True)

    layout = "CLUSTERED" if args.layout == "clustered" else "RANDOM"
    with open(os.path.join(ROOT, "BENCH.md"), "a") as fh:
        fh.write(
            f"\n### block-max crossover (n_docs={n_docs}, k={k}, {layout} "
            f"topics layout, local[{cpus}], median of {args.reps} interleaved "
            f"reps, store {seg_bytes} bytes)\n\n"
        )
        if args.layout == "clustered":
            fh.write(
                "Doc ids clustered by lang (assign_doc_ids_clustered) over the\n"
                "zipf='topics' corpus: a topic's identifiers live in ~1/5 of the\n"
                "chunks, so segment-served block-max skips the other topics'\n"
                "chunks wholesale — the decode work exhaustive cannot avoid.\n\n"
            )
        else:
            fh.write(
                "Hash-ordered doc ids (assign_doc_ids) over the zipf='topics'\n"
                "corpus: a topic's identifiers spread over every chunk, so\n"
                "block-max has little to skip.\n\n"
            )
        fh.write(
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
        "layout": f"{args.layout}-topics",
        "reps": args.reps,
        "segment_store_bytes": seg_bytes,
        "seg_best_speedup": speedups[-1],
        "seg_median_speedup": speedups[len(speedups) // 2],
        "identical_topk": True,
        "seg": seg_rows,
        "mem": mem_rows,
    }
    with open(args.json, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({"done": True, "seg": seg_rows, "mem": mem_rows}))
    spark.stop()


if __name__ == "__main__":
    main()

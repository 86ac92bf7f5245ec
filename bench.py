"""Benchmark harness (driver-run per round).

Note: dedup_jaccard is excluded from the headline set — the driver's
synthetic documents share a 31-word vocabulary, so ~1/3 of ALL doc pairs
exceed 0.7 token-set jaccard and any exact similarity join returns
millions of pairs by construction (data-degenerate, not operator-slow);
it remains an oracle-checked queries() entry at sf0.01.

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of the headline query set (index build
time reported separately as build_sec / build_docs_per_sec). Extra keys:
per-phase metrics + the synthetic code-corpus build throughput used for the
N-vs-4N scaling-efficiency evidence (see scripts/scaling.py + BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("phphinder-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    # build split (r03 verdict: the +39% build drift needed a measured
    # attribution): _engine() runs the real build job (tokenize -> posting
    # agg -> cache postings + count); the two counts after it re-count
    # cached frames (docs cache materializes on its count)
    t0 = time.time()
    eng = em._engine(spark, sf_dir)
    t_index = time.time() - t0
    t1 = time.time()
    n_docs = eng.index.docs.count()
    t_docs = time.time() - t1
    t2 = time.time()
    n_postings = eng.index.postings.count()
    t_postings = time.time() - t2
    # first-query warmup, accounted to BUILD (round-4 verdict #6): one
    # term-shaped and one typo-shaped search pay the per-session costs —
    # whole-stage-codegen compile, python<->jvm warm paths, the driver
    # dictionary count/collect that picks the typo regime — so the per-query
    # timings below measure query cost, not session warmup. Warmup terms
    # deliberately differ from every timed query's terms.
    t3 = time.time()
    eng.search_df("vector").count()
    eng.search_df("windoq").count()  # absent term -> typo path, builds dict
    t_warm = time.time() - t3
    build_sec = time.time() - t0

    headline = [
        "search_term",
        "search_and",
        "search_and_weights",
        "search_not",
        "search_prefix",
        "search_phrase",
        "search_typo",
        "bm25_topk",
        "dedup_exact",
        "dedup_minhash",
        "dedup_simhash",
        "search_or_weights",
        "ann_topk",
        "text_token_counts",
    ]
    qs = em.queries()
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    small = {"bm25_topk", "ann_topk"}  # collect tiny result sets; count the rest
    for name in headline:
        t = time.time()
        df = qs[name](spark, sf_dir)
        rows[name] = len(df.collect()) if name in small else df.count()
        times[name] = round(time.time() - t, 3)

    # round-4 pipeline ops — timed as EXTRAS (not in the headline total,
    # which stays the 14-query set for round-over-round comparability)
    # setup, untimed: the decontamination consumers share ONE prepared
    # benchmark-gram artifact (an eval suite's gram set is a pipeline
    # fixture prepared once, not a per-call input — the guard count job
    # is part of preparation, so the cells below measure the operators)
    em._decontam_grams(spark, sf_dir)
    extras: dict[str, float] = {}
    for name in ("dedup_clusters", "text_gopher_quality", "text_pii_scrub",
                 "text_repetition", "text_decontaminate",
                 "text_pack_sequences", "sample_mixture",
                 "text_remove_dup_spans", "text_perplexity",
                 "text_remove_contaminated",
                 "dedup_paragraphs", "dsir_weights",
                 "pipeline_clean_corpus", "pipeline_clean_full",
                 "pipeline_train_prep", "pipeline_clean_cut",
                 "sample_upsample",
                 "text_c4_filter", "text_chunks", "dedup_boilerplate",
                 "sample_splits", "corpus_divergence",
                 "pipeline_ingest", "text_bpe_merges",
                 "dedup_split_leakage", "text_code_quality",
                 "events_sessions", "events_windows",
                 "web_url_dedup", "web_domain_stats",
                 "events_sessions_hot", "events_funnel",
                 "events_retention", "events_sliding",
                 "emb_covariance", "emb_pca_project",
                 "graph_pagerank", "emb_kmeans",
                 "events_anomalies"):
        t = time.time()
        qs[name](spark, sf_dir).count()
        extras[name] = round(time.time() - t, 3)

    # throughput/pruning variants (not part of the headline total)
    t = time.time()
    batch_terms = [
        "spark table", "vector merge", "filter join", "query window",
        "sort hash", "batch stream", "row column", "data value",
        "small fast", "key order",
    ]
    eng.search_topk_bm25_many(batch_terms, k=10, field="text").collect()
    batched_sec = round(time.time() - t, 3)
    t = time.time()
    eng.search_topk_bm25("spark table vector", k=20, field="text", strategy="blockmax").collect()
    blockmax_sec = round(time.time() - t, 3)

    total = round(sum(times.values()), 3)
    here = os.path.dirname(os.path.abspath(__file__))

    # north-rule scaling evidence lives in side files (BENCH_scaling*.json,
    # produced by scripts/scaling*.py); embed ONLY the headline efficiency
    # numbers here.  r02 lesson: embedding the full blobs made the final
    # JSON line longer than the driver's stdout tail window, so the official
    # BENCH_r02.json archive came back `parsed: null`.
    scaling_summary = {}
    p = os.path.join(here, "BENCH_scaling_executors.json")
    if os.path.exists(p):
        try:
            with open(p) as fh:
                blob = json.load(fh)
            scaling_summary["executor_median_efficiency"] = blob.get(
                "median_pair_efficiency"
            )
            scaling_summary["executor_best_efficiency"] = blob.get(
                "best_of_runs_efficiency"
            )
        except Exception:
            pass

    # blockmax crossover evidence (scripts/blockmax_crossover.py writes
    # the full rows to BENCH_blockmax.json + BENCH.md; embed the headline)
    blockmax_summary = None
    p = os.path.join(here, "BENCH_blockmax.json")
    if os.path.exists(p):
        try:
            with open(p) as fh:
                bx = json.load(fh)
            blockmax_summary = {
                "n_docs": bx.get("n_docs"),
                "seg_best_speedup": bx.get("seg_best_speedup"),
                "seg_median_speedup": bx.get("seg_median_speedup"),
                "identical_topk": bx.get("identical_topk"),
            }
        except Exception:
            pass

    # connected-components depth/scale evidence (scripts/cc_scale.py
    # writes the full rows to BENCH_cc.json + BENCH.md; embed the headline)
    cc_summary = None
    p = os.path.join(here, "BENCH_cc.json")
    if os.path.exists(p):
        try:
            with open(p) as fh:
                blob = json.load(fh)
            b = blob.get("B_e2e_1m_chained_dedup", {})
            chain = next(
                (
                    r
                    for r in blob.get("A_chain_graphs", {}).get("runs", [])
                    if r["algorithm"] == "auto"
                ),
                {},
            )
            cc_summary = {
                "e2e_n_docs": b.get("n_docs"),
                "e2e_cc_rounds": (b.get("cc_label_rounds") or 0)
                + (b.get("cc_star_rounds") or 0),
                "e2e_cc_sec": b.get("cc_sec"),
                "e2e_max_cluster": b.get("max_cluster_size"),
                "adversarial_chain_length": blob.get("A_chain_graphs", {}).get(
                    "chain_length"
                ),
                "chain_auto_rounds": (chain.get("label_rounds") or 0)
                + (chain.get("star_rounds") or 0),
                "chain_auto_status": chain.get("status"),
            }
            c = blob.get("C_composed_pipeline_1m")
            if c:
                cc_summary["pipeline_1m"] = {
                    "n_docs": c.get("n_docs"),
                    "n_kept": c.get("n_kept"),
                    "composed_e2e_sec": c.get("stage_split", {}).get(
                        "composed_e2e_sec"
                    ),
                    "stage_split": c.get("stage_split"),
                }
        except Exception:
            pass

    details = {
        "rows": rows,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "scaling_files": [
            "BENCH_scaling_executors.json",
            "BENCH_scaling.json",
        ],
    }
    try:
        with open(os.path.join(here, "BENCH_details.json"), "w") as fh:
            json.dump(details, fh, indent=1)
    except Exception:
        pass

    result = {
        "metric": "headline query set wall-clock (sf documents corpus)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_dir,
        "cpus": cpus,
        "build_sec": round(build_sec, 3),
        "build_split": {
            "index_job_sec": round(t_index, 3),
            "docs_cache_sec": round(t_docs, 3),
            "postings_recount_sec": round(t_postings, 3),
            "warmup_sec": round(t_warm, 3),
        },
        "build_docs_per_sec": round(n_docs / max(build_sec, 1e-9), 1),
        "bm25_batched_10q_sec": batched_sec,
        "bm25_blockmax_sec": blockmax_sec,
        "extras": extras,
        "scaling": scaling_summary or None,
        "blockmax_crossover": blockmax_summary,
        "cc_scale": cc_summary,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

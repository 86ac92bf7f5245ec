"""Diagnostic benchmark for the optimization round (guide §1).

NOT the driver's bench: bench.py is frozen. This harness mirrors its
session config + query set but additionally records, per headline query:
  - first-run seconds (same methodology as bench.py),
  - second-run seconds (steady state: codegen/AQE warm), so the delta is
    the per-shape first-run overhead,
  - Spark job count + task count (via a job group per query),
and writes .explain("formatted") for each query to plans/r08/.

Usage: python bench_extra.py [--explain-dir plans/r08 --suffix before]
Prints one JSON object (indented; this file's output is not driver-parsed).
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
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

EXTRAS = [
    "dedup_clusters", "text_gopher_quality", "text_pii_scrub",
    "text_repetition", "text_decontaminate", "text_pack_sequences",
    "sample_mixture", "text_remove_dup_spans", "text_perplexity",
    "text_remove_contaminated", "dedup_paragraphs", "dsir_weights",
    "pipeline_clean_corpus", "pipeline_clean_full", "pipeline_train_prep",
    "pipeline_clean_cut", "sample_upsample", "text_c4_filter",
    "text_chunks", "dedup_boilerplate", "sample_splits",
    "corpus_divergence", "pipeline_ingest", "text_bpe_merges",
    "dedup_split_leakage", "text_code_quality", "events_sessions",
    "events_windows", "web_url_dedup", "web_domain_stats",
    "events_sessions_hot", "events_funnel", "events_retention",
    "events_sliding", "emb_covariance", "emb_pca_project",
    "graph_pagerank", "emb_kmeans", "events_anomalies",
]


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--skip-extras", action="store_true")
    ap.add_argument("--only", default="", help="substring filter on query names")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("phphinder-spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as em

    t0 = time.time()
    eng = em._engine(spark, sf_dir)
    t_index = time.time() - t0
    t1 = time.time()
    eng.index.docs.count()
    eng.index.postings.count()
    t2 = time.time()
    eng.search_df("vector").count()
    eng.search_df("windoq").count()
    t_warm = time.time() - t2
    build_sec = time.time() - t0

    qs = em.queries()
    em._decontam_grams(spark, sf_dir)

    names = list(HEADLINE) + ([] if args.skip_extras else EXTRAS)
    if args.only:
        names = [n for n in names if args.only in n]
    small = {"bm25_topk", "ann_topk"}

    out: dict[str, dict] = {}
    tracker = sc.statusTracker()
    for name in names:
        rec: dict = {}
        for attempt in ("first", "second"):
            group = f"{name}:{attempt}"
            sc.setJobGroup(group, name)
            t = time.time()
            df = qs[name](spark, sf_dir)
            n = len(df.collect()) if name in small else df.count()
            rec[attempt] = round(time.time() - t, 3)
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
            rec[f"{attempt}_jobs"] = len(job_ids)
            rec[f"{attempt}_stages"] = n_stages
            rec[f"{attempt}_tasks"] = n_tasks
            sc.setJobGroup(None, None)
        rec["rows"] = n
        out[name] = rec
        if args.explain_dir and name in HEADLINE:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, sf_dir)
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh, contextlib.redirect_stdout(fh):
                df.explain(mode="formatted")

    result = {
        "sf": sf_dir,
        "cpus": cpus,
        "build_sec": round(build_sec, 3),
        "index_job_sec": round(t_index, 3),
        "warmup_sec": round(t_warm, 3),
        "headline_first_total": round(
            sum(out[n]["first"] for n in HEADLINE if n in out), 3
        ),
        "headline_second_total": round(
            sum(out[n]["second"] for n in HEADLINE if n in out), 3
        ),
        "queries": out,
    }
    print(json.dumps(result, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

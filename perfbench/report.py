"""Turns one run's records into the metrics the benchmark prints.

End-to-end metrics come from the untraced run. Per-layer metrics come from
the traced run's spans and event log. Conventions: a query-layer ``_ms``
is the median over the timed ops that call the layer (per op); ``_jobs``,
``_stages``, ``_tasks``, ``_bytes`` and counts are totals over the timed
loop, or over the build for build layers; a build-layer ``_s`` is the
layer's wall time in the build. A layer that does not run on a workload
reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import NPROC, UPSERT_SIZE

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
}

PER_LAYER = {
    "index.builder.assign_doc_ids_s": "s",
    "analysis.analyze_s": "s",
    "analysis.python_bytes_out": "bytes",
    "index.builder.postings_s": "s",
    "index.builder.shuffle_write_bytes": "bytes",
    "index.builder.n_postings": "count",
    "index.segments.encode_write_s": "s",
    "index.segments.python_bytes_out": "bytes",
    "index.segments.dictionary_s": "s",
    "index.typo_ngram.build_s": "s",
    "index.manifest.doclens_stats_s": "s",
    "index.manifest.jobs": "count",
    "index.manifest.stages": "count",
    "index.manifest.tasks": "count",
    "index.segments.store_bytes": "bytes",
    "index.segments.n_segment_rows": "count",
    "query.parser.parse_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.plan_jobs": "count",
    "engine.exec_ms": "ms",
    "engine.exec_jobs": "count",
    "engine.exec_stages": "count",
    "engine.exec_tasks": "count",
    "engine.result_ms": "ms",
    "index.segments.bm25_blockmax_ms": "ms",
    "index.segments.chunks_pruned_frac": "ratio",
    "index.segments.chunks_total": "count",
    "index.segments.decode_python_bytes": "bytes",
    "scoring.bm25_ms": "ms",
    "engine.dict_cache_misses": "count",
    "engine.dict_cache_miss_ms": "ms",
    "engine.flush_ms": "ms",
    "engine.flush_jobs": "count",
    "index.builder.build_index_ms": "ms",
    "index.storage.commit_ms": "ms",
    "index.storage.postings_partitions": "count",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "host.calib_s": "s",
    "host.steal_frac": "ratio",
    "index.manifest.scaling_eff_1_to_n": "ratio",
    "bench.trace_overhead_ms": "ms",
    "bench.traced_query_p50_s": "s",
    "bench.query_samples": "count",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, seconds); None when fewer than 20 samples."""
    n = len(latencies)
    if n < 20:
        return None
    xs = sorted(latencies)
    idx = n - 11  # ten samples lie above xs[idx]
    return 100.0 * (idx + 1) / n, xs[idx]


def bm25_after_flush(records: list[dict]) -> tuple[list[float], list[float]]:
    """BM25 latencies of the op right after a flush, and of the others."""
    first, rest = [], []
    for prev, rec in zip([None] + records[:-1], records):
        if rec["kind"] != "bm25":
            continue
        (first if prev is not None and prev["kind"] == "flush" else rest).append(rec["s"])
    return first, rest


def end_to_end(res: dict) -> dict:
    queries = res["loop"].queries()
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "build_docs_per_s": res["n_docs"] / res["build_s"],
        "query_p50_s": median(r["s"] for r in queries),
        "queries_per_s": len(queries) / res["loop_s"],
    }


def details(workload: str, res: dict, host: dict) -> dict:
    """Figures printed next to the result but not bounded: they exist on
    one workload only, can be 0, or need more samples."""
    recs = res["loop"].records
    queries = res["loop"].queries()
    out = {
        **host,
        "session_s": res["session_s"],
        "build_s": res["build_s"],
        "open_s": res["open_s"],
        "loop_s": res["loop_s"],
        "query_samples": len(queries),
        "failed_ops_frac": sum(not r["ok"] for r in recs) / len(recs),
        "ops": [[r["kind"], round(r["s"], 4)] for r in recs],
        "peak_rss_by_process": res["rss_by_process"],
    }
    t = tail([r["s"] for r in queries])
    if t is not None:
        out["query_tail"] = {"percentile": t[0], "s": t[1]}
    if workload == "cold_query":
        st = res["manifest_stats"]
        out["segment_bytes_per_doc"] = st["segment_store_bytes"] / st["n_docs"]
    else:
        flushes = [r["s"] for r in recs if r["kind"] == "flush"]
        out["flush_p50_s"] = median(flushes)
        out["write_docs_per_s"] = len(flushes) * UPSERT_SIZE / sum(flushes)
    return out


def per_layer(workload: str, res: dict, log: dict, host: dict) -> dict:
    tracer = res["tracer"]
    recs = res["loop"].records
    spans = tracer.spans
    groups = log["groups"]
    m = {name: 0.0 if unit in ("s", "ms", "ratio") else 0 for name, unit in PER_LAYER.items()}

    def dur(s):
        return s["end"] - s["start"]

    def g(span_list, key):
        return sum(groups.get(s["group"], {}).get(key, 0) for s in span_list)

    def jobs(span_list):
        return sum(len(s["jobs"]) for s in span_list)

    def below(name: str):
        """Timed-loop spans called ``name``, with their subtrees."""
        out = []
        for s in spans:
            if s["name"] == name and s["op"] is not None:
                out.extend(tracer.subtree(s))
        return out

    by_op: dict[int, dict[str, list[dict]]] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], {}).setdefault(s["name"], []).append(s)

    def per_op_ms(name: str, kinds=None) -> float:
        vals = []
        for rec in recs:
            if kinds is not None and rec["kind"] not in kinds:
                continue
            got = by_op.get(rec["i"], {}).get(name)
            if got:
                vals.append(1000.0 * sum(dur(s) for s in got))
        return median(vals)

    # ---- build
    build = res["build_span"]
    build_tree = tracer.subtree(build)
    phases: dict[str, list[dict]] = {}
    for s in build_tree:
        phases.setdefault(s["name"], []).append(s)

    def phase_s(name):
        return sum(dur(s) for s in phases.get(name, []))

    postings_phase = phases.get("index.builder.postings", [])
    m["index.builder.assign_doc_ids_s"] = phase_s("index.builder.assign_doc_ids")
    m["index.builder.postings_s"] = phase_s("index.builder.postings")
    m["analysis.analyze_s"] = g(postings_phase, "py_run_ms") / 1000.0
    m["analysis.python_bytes_out"] = g(postings_phase, "py_bytes_out")
    m["index.builder.shuffle_write_bytes"] = g(postings_phase, "shuffle_write_bytes")
    if workload == "cold_query":
        st = res["manifest_stats"]
        m["index.builder.n_postings"] = st["n_postings"]
        m["index.segments.encode_write_s"] = phase_s("index.segments.encode_write")
        m["index.segments.python_bytes_out"] = g(phases.get("index.segments.encode_write", []), "py_bytes_out")
        m["index.segments.dictionary_s"] = phase_s("index.segments.dictionary")
        ngram_ms = 0.0
        for s in phases.get("index.typo_ngram.build", []):
            for ex in log["sql"].get(s["group"], []):
                if "EvalPython" in ex.get("plan", "") and "end_ms" in ex:
                    ngram_ms += ex["end_ms"] - ex["start_ms"]
        m["index.typo_ngram.build_s"] = ngram_ms / 1000.0
        m["index.manifest.doclens_stats_s"] = phase_s("index.typo_ngram.build") - ngram_ms / 1000.0
        m["index.manifest.jobs"] = jobs(build_tree)
        m["index.manifest.stages"] = sum(s["n_stages"] for s in build_tree)
        m["index.manifest.tasks"] = sum(s["n_tasks"] for s in build_tree)
        m["index.segments.store_bytes"] = st["segment_store_bytes"]
        m["index.segments.n_segment_rows"] = st["n_segment_rows"]
        m["index.manifest.scaling_eff_1_to_n"] = g(build_tree, "run_ms") / (1000.0 * NPROC * dur(build))
    else:
        m["index.builder.n_postings"] = res["probe"]["n_postings"]

    # ---- queries
    plan_spans = below("engine.plan")
    exec_spans = below("engine.exec")
    m["query.parser.parse_ms"] = per_op_ms("query.parser.parse")
    m["engine.plan_ms"] = per_op_ms("engine.plan")
    m["engine.plan_jobs"] = jobs(plan_spans)
    m["engine.exec_ms"] = per_op_ms("engine.exec")
    m["engine.exec_jobs"] = jobs(exec_spans)
    m["engine.exec_stages"] = sum(s["n_stages"] for s in exec_spans)
    m["engine.exec_tasks"] = sum(s["n_tasks"] for s in exec_spans)
    result_ms = []
    for rec in recs:
        ops = by_op.get(rec["i"], {})
        if rec["kind"] != "bm25" and ops.get("engine.exec") and ops.get("bench.op"):
            result_ms.append(1000.0 * (ops["bench.op"][0]["end"] - ops["engine.exec"][-1]["end"]))
    m["engine.result_ms"] = median(result_ms)

    def bm25_layer_ms(name):
        vals = []
        for rec in recs:
            ops = by_op.get(rec["i"], {})
            if rec["kind"] == "bm25" and ops.get(name):
                vals.append(1000.0 * (sum(dur(s) for s in ops[name]) + sum(dur(s) for s in ops.get("engine.exec", []))))
        return median(vals)

    if workload == "cold_query":
        m["index.segments.bm25_blockmax_ms"] = bm25_layer_ms("index.segments.bm25_blockmax")
        total = decoded = 0
        for s in spans:
            if s["name"] == "index.segments.bm25_blockmax" and s["op"] is not None:
                total += s["attrs"].get("chunks_total", 0)
                decoded += s["attrs"].get("chunks_decoded", 0)
        m["index.segments.chunks_total"] = total
        m["index.segments.chunks_pruned_frac"] = 1.0 - decoded / total if total else 0.0
        loop_tree = below("bench.op")
        m["index.segments.decode_python_bytes"] = g(loop_tree, "py_bytes_out")
    else:
        m["scoring.bm25_ms"] = bm25_layer_ms("scoring.bm25")
        misses = 0
        for rec in recs:
            plans = by_op.get(rec["i"], {}).get("engine.plan", [])
            if any(jobs(tracer.subtree(p)) for p in plans):
                misses += 1
        m["engine.dict_cache_misses"] = misses
        first, rest = bm25_after_flush(recs)
        if first and rest:
            m["engine.dict_cache_miss_ms"] = 1000.0 * (median(first) - median(rest))
        flush_tree = below("engine.flush")
        m["engine.flush_ms"] = per_op_ms("engine.flush", {"flush"})
        m["engine.flush_jobs"] = jobs(flush_tree)
        m["index.builder.build_index_ms"] = per_op_ms("index.builder.build_index", {"flush"})
        m["index.storage.commit_ms"] = per_op_ms("index.storage.commit", {"flush"})
        m["index.storage.postings_partitions"] = res["probe"]["postings_partitions"]

    # ---- whole run
    m["spark.gc_ms"] = sum(v["gc_ms"] for v in groups.values())
    m["spark.spill_bytes"] = sum(v["spill_bytes"] for v in groups.values())
    m.update(host)
    queries = res["loop"].queries()
    m["bench.trace_overhead_ms"] = median(1000.0 * tracer.overhead_s.get(r["i"], 0.0) for r in recs)
    m["bench.traced_query_p50_s"] = median(r["s"] for r in queries)
    m["bench.query_samples"] = len(queries)
    return m

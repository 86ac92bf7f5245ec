"""The two workloads. Each is a closed loop with one client: the next op is
sent only after the previous one returned. The op count is fixed and the
loop always runs all of it; it is never cut by a clock, because flush cost
grows with the number of flushes.

cold_query  build the Zipf corpus into the compressed segment store with
            ``build_resumable_index`` (timed, part of set-up), open it with
            ``from_index_dir(serve="segments")`` and send BM25 top-k
            queries plus term and AND ``search()`` calls.
mixed_rw    bulk-load the corpus into an in-memory engine
            (``index_dataframe``) and send term/AND/OR/NOT/prefix/phrase/
            typo ``search()`` calls and BM25 top-k, with an
            ``add_documents`` + ``flush`` upsert batch before every block.
            One more batch is flushed in set-up: the first flush after a
            bulk load also seeds the storage with the whole bulk index.
"""

from __future__ import annotations

import hashlib
import os
import random
import signal
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

from perfbench import inputs
from perfbench.oracle import Model, same_topk
from perfbench.trace import NullTracer, Tracer

NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"  # explicit heap that fits a small shared host

COLD_DOCS = 400
COLD_CHUNK_SPAN = 40  # doc ids per segment chunk: ~10 block-max chunks
# The op mixes, counts and batch size are arbitrary choices of this
# benchmark; no usage trace exists to copy. BM25 top-k, the paper's
# ranked path, is three in five cold ops; term and AND fill the rest.
COLD_SHAPES = ["bm25", "term", "bm25", "and", "bm25"]
COLD_OPS = 15

MIXED_DOCS = 400
# one upsert flush, then this block. It opens with the BM25 that pays the
# dictionary-cache rebuild the flush caused; the other BM25 is steady.
MIXED_BLOCK = ["bm25", "term", "and", "not", "bm25", "or", "prefix", "phrase", "typo"]
MIXED_BLOCKS = 3  # timed flushes, each followed by MIXED_BLOCK
UPSERT_SIZE = 10


def calibrate(n: int = 3_000_000) -> float:
    """A fixed single-thread CPU loop; reported next to the metrics so
    host drift shows. No metric is divided by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests. Reported so host contention
    shows next to the metrics; no metric is divided by it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, frontier = [], [root]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, [])]
        out.extend(frontier)
    return out


def peak_rss() -> tuple[float, dict]:
    """Peak resident memory of the JVM and its Python workers: the sum of
    the VmHWM of every process below this one, read once while the Spark
    session is still up (the short-lived launcher JVM has exited by then,
    and reused Python workers are still alive). Returns (MB, MB and count
    per process name)."""
    total_kb = 0
    by_name: dict[str, list] = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        total_kb += kb
        entry = by_name.setdefault(fields["Name"].strip(), [0.0, 0])
        entry[0] += kb / 1024.0
        entry[1] += 1
    return total_kb / 1024.0, by_name


def stop_children(timeout: float = 30.0) -> None:
    """End the JVM and its Python workers after ``spark.stop()`` and wait
    until every one has ended. With ``become_subreaper`` in effect, a
    process orphaned below this one becomes its child, so once ``waitpid``
    finds no child left, nothing the run started is still running. (The
    JVM's main thread can show as a zombie while its other threads still
    shut down, so /proc state alone does not tell that it has ended.)"""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:
                return


def become_subreaper() -> None:
    """Make processes orphaned below this one our children instead of
    init's, so ``stop_children`` can reap them (Linux prctl
    PR_SET_CHILD_SUBREAPER)."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def spark_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(NPROC))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Loop:
    """Runs ops, times each one, checks it against the oracle and keeps
    every failure (a wrong or raised op is never dropped)."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.records: list[dict] = []

    def run(self, kind: str, fn, check) -> None:
        i = len(self.records)
        self.tracer.op = i
        rec = {"i": i, "kind": kind, "ok": False}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.op", kind=kind):
                out = fn()
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = bool(check(out))
            if not rec["ok"]:
                print(f"perfbench: op {i} ({kind}) returned a wrong result", file=sys.stderr)
        except Exception:
            rec["s"] = time.perf_counter() - t0
            traceback.print_exc()
        self.tracer.op = None
        self.records.append(rec)

    def queries(self) -> list[dict]:
        return [r for r in self.records if r["kind"] != "flush"]


def _bm25(eng, tracer, terms: list[str]):
    with tracer.span("engine.plan"):
        df = eng.search_topk_bm25(" ".join(terms), k=inputs.TOPK, field=inputs.FIELD)
    tracer.capture_plan(df)
    with tracer.span("engine.exec"):
        rows = df.collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _op_fn(eng, tracer, shape, q):
    if shape == "bm25":
        return lambda: _bm25(eng, tracer, q)
    return lambda: eng.search(q)


def _check_fn(model: Model, shape, q, docs_sha: bool):
    """Freeze the expected answer now, while the model matches the
    engine's state at this op."""
    if shape == "bm25":
        want = model.bm25_topk(q, inputs.FIELD, inputs.TOPK)
        return lambda got: same_topk(got, want)
    want = model.search(shape, q)
    contents = {d: _sha(model.docs[d]["content"]) for d in want} if docs_sha else {}

    def check(results) -> bool:
        ids = {r.doc_id for r in results}
        if ids != want or len(ids) != len(results):
            return False
        return all(_sha(r.document["content"]) == contents[r.doc_id] for r in results) if docs_sha else True

    return check


@dataclass
class Context:
    workload: str
    seed: int
    trace: bool
    work: str  # scratch directory of this run
    # test hook: builds the tracer instead of the one ``trace`` selects
    tracer_hook: Callable | None = None

    def new_tracer(self, sc):
        if self.tracer_hook is not None:
            return self.tracer_hook(sc)
        return Tracer(sc) if self.trace else NullTracer()


def cold_query(ctx: Context) -> dict:
    from phphinder_spark.engine import SparkSearchEngine, apply_interactive_conf
    from phphinder_spark.index.manifest import build_resumable_index

    rows = inputs.corpus_rows(COLD_DOCS, ctx.seed)
    pools = inputs.TermPools(rows)
    rng = random.Random(f"{ctx.seed}:cold_query")
    warm = [inputs.make_op(rng, pools, s) for s in dict.fromkeys(COLD_SHAPES)]
    shapes = [COLD_SHAPES[i % len(COLD_SHAPES)] for i in range(COLD_OPS)]
    # the BM25 ops cycle through the term mixes, so every seed sends the same mix
    ops = [inputs.make_op(rng, pools, s, shapes[:i].count("bm25")) for i, s in enumerate(shapes)]
    schema = inputs.bench_schema()

    t_setup = time.perf_counter()
    inputs.write_corpus(rows, os.path.join(ctx.work, "corpus"), NPROC, doc_ids=False)
    spark = spark_session(ctx.work, ctx.trace)
    session_s = time.perf_counter() - t_setup
    tracer = ctx.new_tracer(spark.sparkContext)
    try:
        with tracer.patched():
            corpus = spark.read.parquet(os.path.join(ctx.work, "corpus"))
            index_dir = os.path.join(ctx.work, "index")
            t_build = time.perf_counter()
            with tracer.span("index.manifest.build") as build_span:
                manifest = build_resumable_index(
                    spark, corpus, schema, index_dir, n_chunks=1, resume=False,
                    chunk_span=COLD_CHUNK_SPAN,
                )
            build_s = time.perf_counter() - t_build
            t_open = time.perf_counter()
            eng = SparkSearchEngine.from_index_dir(spark, index_dir, schema, serve="segments")
            apply_interactive_conf(spark)
            for shape, q in warm:
                _op_fn(eng, tracer, shape, q)()
            open_s = time.perf_counter() - t_open
            setup_s = time.perf_counter() - t_setup

            # oracle: ids are the program's choice, content is the source's
            import pyarrow.parquet as pq

            stored = pq.read_table(os.path.join(index_dir, "docs"), columns=["doc_id", "path", "content_sha256"]).to_pylist()
            by_path = {r["path"]: r for r in rows}
            integrity_ok = len(stored) == len(rows) and all(
                s["content_sha256"] == _sha(by_path[s["path"]]["content"]) for s in stored
            )
            model = Model({s["doc_id"]: by_path[s["path"]] for s in stored}, schema.indexed_fields, schema.unique_field)
            checks = [_check_fn(model, shape, q, docs_sha=False) for shape, q in ops]

            loop = Loop(tracer)
            t_loop = time.perf_counter()
            for (shape, q), check in zip(ops, checks):
                loop.run(shape, _op_fn(eng, tracer, shape, q), check)
            loop_s = time.perf_counter() - t_loop
            rss_mb, rss_by_process = peak_rss()
    finally:
        spark.stop()
    stats = manifest["stats"]
    return {
        "loop": loop,
        "tracer": tracer,
        "setup_s": setup_s,
        "session_s": session_s,
        "build_s": build_s,
        "open_s": open_s,
        "build_span": build_span,
        "n_docs": stats["n_docs"],
        "loop_s": loop_s,
        "peak_rss_mb": rss_mb,
        "rss_by_process": rss_by_process,
        "integrity_ok": integrity_ok,
        "manifest_stats": stats,
    }


def mixed_rw(ctx: Context) -> dict:
    from phphinder_spark.engine import SparkSearchEngine, apply_interactive_conf

    rows = inputs.corpus_rows(MIXED_DOCS, ctx.seed)
    pools = inputs.TermPools(rows)
    rng = random.Random(f"{ctx.seed}:mixed_rw")
    warm_batch = inputs.upsert_batch(rng, MIXED_DOCS, 0, UPSERT_SIZE, ctx.seed)
    warm = [inputs.make_op(rng, pools, s) for s in dict.fromkeys(MIXED_BLOCK)]
    plan: list[tuple[str, object]] = []
    for b in range(1, MIXED_BLOCKS + 1):
        plan.append(("flush", inputs.upsert_batch(rng, MIXED_DOCS, b, UPSERT_SIZE, ctx.seed)))
        # both BM25s of a block use the same term mix, one per block
        plan.extend(inputs.make_op(rng, pools, s, b) for s in MIXED_BLOCK)
    schema = inputs.bench_schema()

    t_setup = time.perf_counter()
    inputs.write_corpus(rows, os.path.join(ctx.work, "corpus"), NPROC, doc_ids=True)
    spark = spark_session(ctx.work, ctx.trace)
    session_s = time.perf_counter() - t_setup
    tracer = ctx.new_tracer(spark.sparkContext)
    try:
        eng = SparkSearchEngine(spark, schema)
        with tracer.patched(eng):
            corpus = spark.read.parquet(os.path.join(ctx.work, "corpus"))
            t_build = time.perf_counter()
            with tracer.span("engine.index_dataframe") as build_span:
                eng.index_dataframe(corpus)
                with tracer.span("index.builder.postings"):
                    eng.index.stats()  # materializes docs, postings, doclens
            build_s = time.perf_counter() - t_build
            t_open = time.perf_counter()
            apply_interactive_conf(spark)
            # the first flush after a bulk load seeds the storage with the
            # whole bulk index; it belongs to set-up, not to the timed loop
            eng.add_documents([dict(d) for d in warm_batch])
            eng.flush()
            for shape, q in warm:
                _op_fn(eng, tracer, shape, q)()
            open_s = time.perf_counter() - t_open
            setup_s = time.perf_counter() - t_setup

            model = Model({i + 1: r for i, r in enumerate(rows)}, schema.indexed_fields, schema.unique_field)
            model.upsert(warm_batch)
            checks = []
            for shape, q in plan:
                if shape == "flush":
                    model.upsert(q)
                    checks.append(lambda _: True)
                else:
                    checks.append(_check_fn(model, shape, q, docs_sha=True))

            def flush(batch):
                def run():
                    with tracer.span("engine.flush"):
                        eng.add_documents([dict(d) for d in batch])
                        eng.flush()

                return run

            loop = Loop(tracer)
            t_loop = time.perf_counter()
            for (shape, q), check in zip(plan, checks):
                fn = flush(q) if shape == "flush" else _op_fn(eng, tracer, shape, q)
                loop.run(shape, fn, check)
            loop_s = time.perf_counter() - t_loop

            probe = {}
            if ctx.trace:
                with tracer.span("bench.probe"):
                    probe["postings_partitions"] = eng.storage.postings().rdd.getNumPartitions()
                    probe["n_postings"] = eng.index.postings.count()
            rss_mb, rss_by_process = peak_rss()
    finally:
        spark.stop()
    return {
        "loop": loop,
        "tracer": tracer,
        "setup_s": setup_s,
        "session_s": session_s,
        "build_s": build_s,
        "open_s": open_s,
        "build_span": build_span,
        "n_docs": MIXED_DOCS,
        "loop_s": loop_s,
        "peak_rss_mb": rss_mb,
        "rss_by_process": rss_by_process,
        "integrity_ok": True,  # every search op checks sha256(content)
        "probe": probe,
    }


WORKLOADS = {"cold_query": cold_query, "mixed_rw": mixed_rw}

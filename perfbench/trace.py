"""Spans around the calls into phphinder_spark's layers, made from outside.

A traced run wraps public layer functions (module attributes the program
looks up at call time) so that each call opens a span: name, start, end,
parent span and op id. Each span runs under its own Spark job group, and
its jobs, stages and tasks are read back through ``statusTracker()`` when
it closes. Byte, GC and Python-boundary counts come from the Spark event
log, which only traced runs enable. Nothing here runs a Spark action, so
tracing adds no jobs.

Lazy layer functions (``build_postings``, ``encode_segments``, ...) only
build plans; inside ``build_resumable_index`` each such call starts a
*phase* that lasts until the next phase's call, so the jobs that execute a
phase's plan land in that phase's job group.

An untraced run uses ``NullTracer``: the same call sites, no job groups, no
status reads, no wrappers.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import io
import json
import os
import time
from collections import defaultdict


class NullTracer:
    op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def capture_plan(self, df) -> None:
        pass

    @contextlib.contextmanager
    def patched(self, engine=None):
        yield


class Tracer:
    """Records spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._phase: dict | None = None
        self.op: int | None = None  # id of the timed op in progress
        self.overhead_s: dict[int | None, float] = defaultdict(float)
        self.plans: dict[int, list[str]] = defaultdict(list)

    # ------------------------------------------------------------ spans

    def _enter(self, name: str, attrs: dict) -> dict:
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{len(self.spans)}",
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        self.overhead_s[self.op] += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        return rec

    def _exit(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        t0 = rec["end"]
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = sorted(self.tracker.getJobIdsForGroup(rec["group"]))
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no task
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numTasks
        rec.update(jobs=jobs, n_stages=stages, n_tasks=tasks)
        self.overhead_s[rec["op"]] += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self._enter(name, attrs)
        try:
            yield rec
        finally:
            self._close_phase()
            self._exit(rec)

    def switch(self, name: str) -> None:
        """End the open phase of the enclosing span and start ``name``."""
        self._close_phase()
        self._phase = self._enter(name, {})

    def _close_phase(self) -> None:
        if self._phase is not None and self._stack and self._stack[-1] is self._phase:
            phase, self._phase = self._phase, None
            self._exit(phase)

    def capture_plan(self, df) -> None:
        """The formatted physical plan, through the public ``explain``."""
        t0 = time.perf_counter()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        self.plans[self.op].append(buf.getvalue())
        self.overhead_s[self.op] += time.perf_counter() - t0

    # ---------------------------------------------------------- wrappers

    def _spanned(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        return wrapper

    def _phased(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.switch(name)
            return fn(*args, **kwargs)

        return wrapper

    def _traced_search_df(self, fn):
        tracer = self

        @functools.wraps(fn)
        def search_df(engine, phrase):
            with tracer.span("engine.plan"):
                df = fn(engine, phrase)
            tracer.capture_plan(df)
            return _ExecSpan(df, tracer)

        return search_df

    @contextlib.contextmanager
    def patched(self, engine=None):
        """Install the span wrappers; restore the originals on exit."""
        from phphinder_spark import engine as engine_mod
        from phphinder_spark.index import manifest, segments, typo_ngram
        from phphinder_spark.query.parser import QueryParser

        def keep_metrics(rec, out):
            rec["attrs"].update(out[1])

        patches = [
            (manifest, "assign_doc_ids", self._phased("index.builder.assign_doc_ids", manifest.assign_doc_ids)),
            (manifest, "build_postings", self._phased("index.builder.postings", manifest.build_postings)),
            (manifest, "encode_segments", self._phased("index.segments.encode_write", manifest.encode_segments)),
            (manifest, "merge_segment_dictionaries", self._phased("index.segments.dictionary", manifest.merge_segment_dictionaries)),
            (typo_ngram, "build_ngram_index", self._phased("index.typo_ngram.build", typo_ngram.build_ngram_index)),
            (QueryParser, "parse", self._spanned("query.parser.parse", QueryParser.parse)),
            (engine_mod.SparkSearchEngine, "search_df", self._traced_search_df(engine_mod.SparkSearchEngine.search_df)),
            (segments, "segment_bm25_topk_blockmax", self._spanned("index.segments.bm25_blockmax", segments.segment_bm25_topk_blockmax, keep_metrics)),
            (engine_mod, "bm25_topk", self._spanned("scoring.bm25", engine_mod.bm25_topk)),
            (engine_mod, "build_index", self._spanned("index.builder.build_index", engine_mod.build_index)),
        ]
        if engine is not None:
            patches.append((engine.storage, "commit", self._spanned("index.storage.commit", engine.storage.commit)))
        saved = [(obj, name, obj.__dict__.get(name, _MISSING)) for obj, name, _ in patches]
        try:
            for obj, name, fn in patches:
                setattr(obj, name, fn)
            yield
        finally:
            for obj, name, old in saved:
                if old is _MISSING:
                    delattr(obj, name)
                else:
                    setattr(obj, name, old)

    # ------------------------------------------------------------ output

    def subtree(self, rec: dict) -> list[dict]:
        """``rec`` and every span below it."""
        out, frontier = [rec], [rec["id"]]
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        while frontier:
            nxt = []
            for sid in frontier:
                for c in children[sid]:
                    out.append(c)
                    nxt.append(c["id"])
            frontier = nxt
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "plans": self.plans, **extra}, fh, default=str)


_MISSING = object()


class _ExecSpan:
    """The DataFrame ``search_df`` returned, with ``collect`` (the action
    ``search`` runs) under an ``engine.exec`` span."""

    def __init__(self, df, tracer: Tracer):
        self._df = df
        self._tracer = tracer

    def collect(self):
        with self._tracer.span("engine.exec"):
            return self._df.collect()

    def __getattr__(self, name):
        return getattr(self._df, name)


# ------------------------------------------------------------ event log

_PY_OUT = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def read_event_log(log_dir: str) -> dict:
    """Per job group totals from an uncompressed, non-rolling event log:
    task run time, GC, spill, shuffle write, Python-boundary bytes and
    Python run time, plus the SQL executions (plan text, wall) each group
    started."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stage_group: dict[int, str] = {}
    job_exec: dict[int, tuple[str, str | None]] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
            job_exec[e["Job ID"]] = (group, props.get("spark.sql.execution.id"))
    zero = lambda: {  # noqa: E731
        "run_ms": 0, "gc_ms": 0, "spill_bytes": 0, "shuffle_write_bytes": 0,
        "py_bytes_out": 0, "py_run_ms": 0.0,
    }
    groups: dict[str, dict] = defaultdict(zero)
    sql: dict[str, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            g = groups[stage_group.get(e["Stage ID"], "")]
            tm = e["Task Metrics"]
            g["run_ms"] += tm["Executor Run Time"]
            g["gc_ms"] += tm["JVM GC Time"]
            g["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            g["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == _PY_OUT:
                    g["py_bytes_out"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == _PY_RUN:
                    g["py_run_ms"] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[str(e["executionId"])] = {
                "plan": e.get("physicalPlanDescription", ""),
                "start_ms": e["time"],
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            sql.setdefault(str(e["executionId"]), {})["end_ms"] = e["time"]
    group_sql: dict[str, list[dict]] = defaultdict(list)
    seen = set()
    for group, exec_id in job_exec.values():
        if exec_id is not None and (group, exec_id) not in seen and exec_id in sql:
            seen.add((group, exec_id))
            group_sql[group].append(sql[exec_id])
    return {"groups": dict(groups), "sql": dict(group_sql)}

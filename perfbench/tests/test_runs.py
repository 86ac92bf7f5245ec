"""Whole workload runs on a tiny corpus: the same seed gives the same
inputs and the same structural counts, and tracing adds no Spark jobs."""

import os

import pytest

from perfbench import inputs, workloads
from perfbench.trace import NullTracer, Tracer


def test_same_seed_same_inputs():
    assert inputs.corpus_rows(50, 7) == inputs.corpus_rows(50, 7)
    assert inputs.corpus_rows(50, 7) != inputs.corpus_rows(50, 8)
    pools = inputs.TermPools(inputs.corpus_rows(150, 7))
    import random

    def stream(seed):
        rng = random.Random(seed)
        return [inputs.make_op(rng, pools, s) for s in workloads.MIXED_BLOCK]

    assert stream(1) == stream(1)
    assert stream(1) != stream(2)


class JobCounter(NullTracer):
    """Untraced stand-in that only reads job ids (no job groups, no
    wrappers) so per-op job counts can be compared with a traced run."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.jobs_per_op: dict[int, int] = {}

    def _n_jobs(self) -> int:
        return len(self.tracker.getJobIdsForGroup(None))

    def span(self, name, **attrs):
        import contextlib

        if name != "bench.op":
            return super().span(name, **attrs)

        @contextlib.contextmanager
        def counted():
            before = self._n_jobs()
            yield None
            self.jobs_per_op[self.op] = self._n_jobs() - before

        return counted()


def _traced_jobs_per_op(tracer: Tracer) -> dict[int, int]:
    out = {}
    for s in tracer.spans:
        if s["name"] == "bench.op":
            out[s["op"]] = sum(len(x["jobs"]) for x in tracer.subtree(s))
    return out


def _structure(tracer: Tracer) -> list[tuple]:
    return [
        (s["name"], s["op"], len(s["jobs"]), s["n_stages"], s["n_tasks"])
        for s in tracer.spans
    ]


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "COLD_DOCS", 150)
    monkeypatch.setattr(workloads, "COLD_CHUNK_SPAN", 20)
    monkeypatch.setattr(workloads, "MIXED_DOCS", 150)
    monkeypatch.setattr(workloads, "COLD_OPS", 5)
    monkeypatch.setattr(workloads, "MIXED_BLOCKS", 2)


def _run(name, tmp_path, tag, trace, tracer_hook=None):
    work = os.path.join(str(tmp_path), tag)
    os.makedirs(work)
    ctx = workloads.Context(name, 4, trace, work, tracer_hook)
    return workloads.WORKLOADS[name](ctx)


def test_cold_query_structure_repeats_and_tracing_adds_no_jobs(tiny, tmp_path):
    a = _run("cold_query", tmp_path, "a", True)
    b = _run("cold_query", tmp_path, "b", True)
    assert all(r["ok"] for r in a["loop"].records + b["loop"].records)
    assert a["manifest_stats"]["n_postings"] == b["manifest_stats"]["n_postings"]
    assert a["manifest_stats"]["segment_store_bytes"] == b["manifest_stats"]["segment_store_bytes"]
    assert _structure(a["tracer"]) == _structure(b["tracer"])
    counter = {}
    c = _run("cold_query", tmp_path, "c", False, lambda sc: counter.setdefault("t", JobCounter(sc)))
    assert all(r["ok"] for r in c["loop"].records)
    assert counter["t"].jobs_per_op == _traced_jobs_per_op(a["tracer"])


def test_mixed_rw_tracing_adds_no_jobs(tiny, tmp_path):
    a = _run("mixed_rw", tmp_path, "a", True)
    counter = {}
    c = _run("mixed_rw", tmp_path, "c", False, lambda sc: counter.setdefault("t", JobCounter(sc)))
    assert all(r["ok"] for r in a["loop"].records + c["loop"].records)
    assert counter["t"].jobs_per_op == _traced_jobs_per_op(a["tracer"])

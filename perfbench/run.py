"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cold_query --seed 1 --seconds 30 --trace 0

Run from the repository root. Each workload runs a fixed op count, so
``--seconds`` is accepted but does not change the run. The last line of
standard output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a traced run, whose spans are written to
``.perfbench_work/traces/``. The line before it carries figures that are
not bounded metrics (see README.md). Exits non-zero without a result when
the package under test is missing or a run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "phphinder_spark")):
        print(f"perfbench: no phphinder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from perfbench import report, workloads
    from perfbench.trace import read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp

    ctx = workloads.Context(args.workload, args.seed, bool(args.trace), work)
    try:
        workloads.become_subreaper()
        ticks = workloads.cpu_ticks()
        host = {"host.calib_s": workloads.calibrate()}
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            workloads.stop_children()
        host["host.steal_frac"] = workloads.steal_frac(ticks, workloads.cpu_ticks())
        recs = res["loop"].records
        failed = sum(not r["ok"] for r in recs)
        correct = failed == 0 and res["integrity_ok"]
        detail = {"workload": args.workload, "seed": args.seed,
                  **report.details(args.workload, res, host)}
        if args.trace:
            log = read_event_log(os.path.join(work, "eventlog"))
            values = report.per_layer(args.workload, res, log, host)
            units = report.PER_LAYER
            res["tracer"].dump(
                os.path.join(base, "traces", f"{args.workload}-{args.seed}-{int(time.time())}.json"),
                {"workload": args.workload, "seed": args.seed, "ops": recs, "metrics": values},
            )
        else:
            values = report.end_to_end(res)
            units = report.END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # The JVM is already stopped and reaped; a normal exit would let py4j
    # finalizers try to reach it and log connection errors.
    os._exit(code)

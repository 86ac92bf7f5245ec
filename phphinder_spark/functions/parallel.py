"""Input-parallelism guard for per-row compute stages (optimization
guide §2.5, input skew / §4, the Python boundary).

A small corpus often arrives as ONE parquet file under
``spark.sql.files.maxPartitionBytes``, so the scan yields a single input
partition and every map-side stage downstream — Arrow-vectorized
analyzer/signature UDFs in particular — runs on ONE core while the rest
of the cluster idles. ``ensure_min_partitions`` round-robin-repartitions
such inputs up to the session's default parallelism; on real multi-split
inputs (any corpus of scale) the guard is a no-op, so it cannot add a
shuffle at 100 TB.

Determinism: ``repartition(n)`` without keys sorts records locally
before assigning partitions (``spark.sql.execution.sortBeforeRepartition``,
on by default), so retried tasks reproduce the same row placement; the
operators using this guard are row-wise maps + key-grouped aggregations,
whose results are partitioning-independent anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# logical plan nodes whose partition count is known without a job
_SCAN_ONLY_NODES = {
    "Project", "Filter", "SubqueryAlias", "LogicalRelation",
    "LocalRelation", "LogicalRDD", "Range", "DataSourceV2ScanRelation",
}


def _scan_only(df: DataFrame) -> bool:
    """True when every node of ``df``'s optimized plan is a scan, a
    projection or a filter."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() not in _SCAN_ONLY_NODES:
            return False
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return True


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to ``target`` partitions (default:
    the session's ``sparkContext.defaultParallelism``) iff it is a
    scan-only plan that yields fewer; otherwise return ``df`` unchanged.
    Starts no Spark job."""
    sc = df.sparkSession.sparkContext
    n_target = int(target or sc.defaultParallelism)
    if n_target <= 1 or not _scan_only(df):
        return df
    if df.rdd.getNumPartitions() >= n_target:
        return df
    return df.repartition(n_target)

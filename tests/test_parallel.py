"""``functions.parallel.ensure_min_partitions``: widens a scan-only input
that yields too few partitions, and starts no Spark job on any input —
a shuffle-bearing plan is returned as it is."""

from pyspark.sql import functions as F

from phphinder_spark.functions.parallel import ensure_min_partitions


def _jobs(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("ensure-min-partitions", "pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup("ensure-min-partitions"))


def test_groupby_input_starts_no_job_with_aqe_on(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    out, jobs = _jobs(spark, lambda: ensure_min_partitions(agg, target=64))
    assert jobs == 0
    assert out is agg


def test_scan_only_input_is_widened(spark, tmp_path):
    path = str(tmp_path / "one_file")
    spark.range(50).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path).where(F.col("id") > 3).select("id")
    out, jobs = _jobs(spark, lambda: ensure_min_partitions(scan, target=4))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in out.collect()) == list(range(4, 50))
    wide = spark.range(0, 50, numPartitions=8)
    assert ensure_min_partitions(wide, target=4) is wide

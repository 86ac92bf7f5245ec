import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("phphinder-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # pin the session zone so event-time goldens (epoch-us
        # constants from naive datetimes) hold on any host timezone —
        # also the recommended production default (ops/events._micros)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def typo_reference():
    """Exhaustive reference for a typo leaf, independent of the engine's
    typo regimes: ``(postings, query, fields) -> sorted doc ids`` holding
    any dictionary (field, term) within the length band and Levenshtein
    distance of ``query``."""
    from pyspark.sql import functions as F

    from phphinder_spark.functions.typo import levenshtein_distance_for_term
    from phphinder_spark.index.builder import dictionary

    def doc_ids(postings, query, fields):
        d = levenshtein_distance_for_term(query)
        cand = (
            dictionary(postings)
            .where(F.col("field").isin(fields))
            .where(F.abs(F.length("term") - F.lit(len(query))) <= d)
            .where(F.levenshtein(F.col("term"), F.lit(query)) <= d)
            .select("field", "term")
        )
        return sorted({r["doc_id"] for r in postings.join(cand, ["field", "term"]).collect()})

    return doc_ids

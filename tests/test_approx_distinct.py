"""approx_count_distinct tolerance: the A2 query's HLL sketch (rsd 0.02)
stays within ±5% of the exact distinct count."""

from pyspark.sql import functions as F


def test_approx_distinct_tolerance(spark):
    ev = spark.range(50_000).select(
        (F.col("id") % 9173).alias("u")
    )
    approx = ev.agg(F.approx_count_distinct("u", 0.02).alias("a")).collect()[0]["a"]
    assert abs(approx - 9173) / 9173 < 0.05

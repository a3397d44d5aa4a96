"""Shared DataFrame helpers (crawlspark/util.py)."""


def test_fan_out_is_conditional(spark):
    """fan_out only repartitions when the input carries fewer
    partitions than the executor parallelism — identity otherwise (at
    scale a multi-split table must NOT gain a corpus-wide shuffle)."""
    from crawlspark.util import fan_out

    p = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(1,)], "x int").coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == p

    wide = spark.range(0, 1000, 1, p + 4)
    out = fan_out(wide.toDF("x"))
    assert out.rdd.getNumPartitions() == p + 4  # untouched

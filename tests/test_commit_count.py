"""Every commit counts the rows it writes with an observation on its own
job: the count is exact and adds no job, in memory mode
(``localCheckpoint``) and through a ``ParquetStateStore``."""

import pytest
from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.plans.engine import CrawlEngine
from crawlspark.sources.statestore import ParquetStateStore


def _frame(spark, kind):
    if kind == "empty":
        return spark.createDataFrame([], "a int, b string")
    if kind == "three_partitions":
        return spark.range(0, 100, 1, 3)
    # a join that only turns out empty at run time: the right side's
    # shuffle stage reports zero rows and AQE drops the join
    left = spark.range(0, 1000, 1, 3).withColumn("k", F.col("id") % 10)
    right = (
        spark.range(0, 10, 1, 2)
        .filter(F.col("id") > 100)
        .select(F.col("id").alias("k"))
        .repartition(2, "k")
    )
    return left.join(right, "k")


@pytest.mark.parametrize("kind", ["empty", "three_partitions", "aqe_empty_join"])
@pytest.mark.parametrize("mode", ["memory", "store"])
def test_commit_counts_rows_without_a_job(
    spark, fixture_pages, spark_jobs, tmp_path, mode, kind
):
    ck = str(tmp_path / "ck") if mode == "store" else None
    engine = CrawlEngine(spark, fixture_pages, Options(checkpoint_dir=ck))
    want = _frame(spark, kind).count()

    with spark_jobs() as bare:
        if ck is None:
            _frame(spark, kind).localCheckpoint(eager=True)
        else:
            ParquetStateStore(spark, str(tmp_path / "bare")).commit(
                _frame(spark, kind), "t", 0
            )
    with spark_jobs() as jobs:
        out, rows = engine._ckpt(_frame(spark, kind), "t", 0)

    assert rows == want
    assert len(jobs) == len(bare), (jobs, bare)
    assert out.count() == want

import os
from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from crawlspark.session import get_spark

    s = get_spark(
        app_name="crawlspark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            # One JVM serves the whole session.  With the engine's 24g
            # default heap G1 grows it past the RAM of a 16 GB host and
            # the kernel kills the JVM partway through the suite; a
            # bounded heap garbage-collects instead.
            "spark.driver.memory": os.environ.get(
                "CRAWLSPARK_DRIVER_MEM", "6g"
            ),
            # The status store keeps the plan graph and description of
            # the last 1000 SQL executions by default, and wave plans
            # are large: keep few.  Keep enough jobs for `spark_jobs`
            # blocks.
            "spark.sql.ui.retainedExecutions": "20",
            "spark.ui.retainedJobs": "200",
            "spark.ui.retainedStages": "200",
            # On CPython 3.11 the stock worker re-reads pyspark.zip's
            # directory 16 times before every Python task (~0.3 s);
            # crawl tests run hundreds of such tasks each.
            "spark.python.daemon.module": "crawlspark.workerd",
            # A crawl generates ~700 classes; with the default 100-entry
            # cache every wave recompiles its plans' code.  Crawl tests
            # share plan shapes, so a larger cache compiles each once.
            "spark.sql.codegen.cache.maxEntries": "4000",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_pages(spark):
    from crawlspark.fixtures import fixture_pages_df
    from crawlspark.sources.pages import PagesSource

    df = fixture_pages_df(spark).cache()
    df.count()
    return PagesSource(df)


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` collects the Spark jobs submitted
    inside the block.

    ``jobs`` is filled on exit with one ``"job N: <stage names>"`` entry
    per job, read from ``statusTracker``.  Counts the jobs that carry no
    job group, as every job the engine submits does.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        # the status store is fed asynchronously by the listener bus:
        # drain it so every job submitted so far is visible
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    @contextmanager
    def count():
        before = job_ids()
        jobs: list[str] = []
        yield jobs
        for jid in sorted(job_ids() - before):
            info = tracker.getJobInfo(jid)
            stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else [])]
            jobs.append(f"job {jid}: " + ", ".join(s.name for s in stages if s))

    return count

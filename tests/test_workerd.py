"""Worker daemon that keeps zip importers cached (crawlspark/workerd.py)."""


def test_task_start_keeps_zip_directories(spark):
    """The session's Python workers run crawlspark.workerd: the
    importlib.invalidate_caches() that starts every task leaves the
    directories of already-open zip archives as they were read."""
    from pyspark.sql import functions as F

    @F.udf("array<string>")
    def probe(_):
        import importlib
        import sys
        import zipimport

        zips = [
            v
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        before = [id(z._files) for z in zips]
        importlib.invalidate_caches()
        return [
            zipimport.zipimporter.invalidate_caches.__code__.co_filename,
            str(before == [id(z._files) for z in zips]),
        ]

    source, kept = spark.range(1).select(probe("id")).first()[0]
    assert source.endswith("workerd.py")
    assert kept == "True"

"""Wave-state storage seam: parquet today, Iceberg on a real cluster.

The north rule keeps frontier state, URL-seen shards and per-partition
lineage/metrics in **Iceberg tables** committed every wave.  This
sandbox ships no Iceberg runtime, so the engine's durable mode writes
plain parquet dirs (`wave=N/<name>`) — the same commit points, the same
read-back contract.  This module makes that substitution an explicit,
swappable seam instead of prose:

- :class:`ParquetStateStore` — the tested default; exactly what
  ``CrawlEngine._ckpt`` does, factored behind the interface.
- :class:`IcebergStateStore` — the cluster implementation: one
  namespaced table per state name, hidden-partitioned by wave (and
  ``bucket(url)`` for row-keyed tables), append snapshots per wave,
  snapshot-id bookkeeping for resume/rollback.  Constructing it
  verifies the Spark session actually has an Iceberg catalog; every
  operation is plain ``spark.sql``/DataFrameWriterV2 against that
  catalog, so the class is exercised for real the moment a cluster
  provides one (`spark.sql.catalog.<name>` config + iceberg-runtime
  jar) — no other engine change required.

Mapping (parquet analog → Iceberg):

| engine commit | parquet analog | Iceberg |
|---|---|---|
| candidates / seen_inc / host_state / deferred / metrics per wave | `wave=N/<name>` dir overwrite | `append` into `<ns>.<name>` with a `wave` column (hidden partition `identity(wave)`; row-keyed tables add `bucket(url_norm)`) |
| seen snapshot compaction | one `seen_snapshot` dir replacing inc dirs | `rewrite_data_files` / `MERGE INTO` the compacted snapshot |
| MANIFEST.json resume pointer | driver-side JSON | table snapshot ids (`.history()`), `VERSION AS OF` reads |
| row counts read on resume (commits count themselves) | parquet footer scan | `SELECT count(*) ... VERSION AS OF` (metadata-only in Iceberg) |
| table schema for read-back | `_schema.json` inside each committed dir, replaced with it | table metadata (schema is part of every snapshot) |

The parquet store's schema record lets ``commit()`` and ``read()``
return ``spark.read.schema(...)`` readers: Spark then skips the
one-task footer-inference job it would otherwise run for every read.
The record lives inside the table directory, so an overwrite of the
directory (by the store or by hand) removes it together with the data
it describes; a directory without one is read with inference, as
checkpoints written before the record existed are.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: per-table schema record; the leading underscore hides it from the
#: parquet readers (Spark and pyarrow both skip ``_``-prefixed files)
SCHEMA_FILE = "_schema.json"


def _write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` via a temp file and ``os.replace``: a
    reader sees the previous content or the new one, never a partial
    write."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


class StateStore:
    """Commit/read/count interface the wave loop needs from storage."""

    def commit(self, df: DataFrame, name: str, wave: int) -> DataFrame:
        """Durably write one state table for one wave; return a reader
        DataFrame backed by the committed data (NOT the input plan)."""
        raise NotImplementedError

    def read(self, name: str, wave: int) -> DataFrame:
        raise NotImplementedError

    def rows(self, name: str, wave: int) -> int | None:
        """Exact committed row count from storage METADATA, without a
        job; None when the table does not exist.  The engine counts its
        own commits and calls this only on resume."""
        raise NotImplementedError

    def put_manifest(self, manifest: dict) -> None:
        """Durably record the resume pointer (wave, counters, ...)."""
        raise NotImplementedError

    def get_manifest(self) -> dict:
        raise NotImplementedError


class ParquetStateStore(StateStore):
    """The sandbox default: `wave=N/<name>` parquet dirs under a root
    (`seed/<name>` for pre-wave state), footer-based row counts."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, name: str, wave: int) -> str:
        subdir = f"wave={wave}" if wave >= 0 else "seed"
        return os.path.join(self.root, subdir, name)

    def commit(self, df: DataFrame, name: str, wave: int) -> DataFrame:
        path = self._path(name, wave)
        df.write.mode("overwrite").parquet(path)
        # written after the data: a crash in between leaves a directory
        # without a record, which read() infers like an older checkpoint
        _write_atomic(os.path.join(path, SCHEMA_FILE), df.schema.json())
        return self.spark.read.schema(df.schema).parquet(path)

    def read(self, name: str, wave: int) -> DataFrame:
        path = self._path(name, wave)
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as fh:
                schema = StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def rows(self, name: str, wave: int) -> int | None:
        import pyarrow.dataset as pads

        # only a missing table reads as None: an unreadable file raises
        try:
            return pads.dataset(
                self._path(name, wave), format="parquet"
            ).count_rows()
        except FileNotFoundError:
            return None

    def put_manifest(self, manifest: dict) -> None:
        _write_atomic(
            os.path.join(self.root, "MANIFEST.json"), json.dumps(manifest)
        )

    def get_manifest(self) -> dict:
        with open(os.path.join(self.root, "MANIFEST.json")) as fh:
            return json.load(fh)


class IcebergStateStore(StateStore):
    """Iceberg-backed state: one table per state name under
    ``<catalog>.<namespace>``, `wave` as a hidden identity partition,
    appends as per-wave snapshot commits.

    Requires an Iceberg catalog on the session (raises RuntimeError
    otherwise, so misconfiguration fails loudly at construction)."""

    #: row-keyed tables additionally bucket by url for co-located probes
    BUCKETED = {"seen_inc": "url_norm", "candidates": "url"}

    def __init__(
        self,
        spark: SparkSession,
        catalog: str,
        namespace: str = "crawlspark",
        buckets: int = 64,
    ):
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"no Iceberg catalog '{catalog}' on this session — set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark."
                "SparkCatalog (+ iceberg-spark-runtime jar)"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.buckets = buckets
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def commit(self, df: DataFrame, name: str, wave: int) -> DataFrame:
        from pyspark.sql import functions as F

        tbl = self._table(name)
        out = df.withColumn("_wave", F.lit(wave))
        parts = [F.col("_wave")]
        key = self.BUCKETED.get(name)
        if key is not None and key in df.columns:
            parts.append(F.bucket(self.buckets, F.col(key)))
        writer = out.writeTo(tbl).partitionedBy(*parts)
        # write mode decided by EXISTENCE, never by catching the write's
        # failure: a transient error (commit conflict, connectivity)
        # must propagate, not silently replace the table and destroy
        # every previously committed wave.
        if self.spark.catalog.tableExists(tbl):
            # overwritePartitions only replaces partitions PRESENT in
            # the new data — a retried wave that legitimately produces
            # zero rows would overwrite nothing and leave the failed
            # attempt's stale rows visible.  Delete this wave's
            # partition first so the commit is idempotent even when the
            # incoming DataFrame is empty (partition-pruned metadata
            # delete in Iceberg, no data rewrite), matching the parquet
            # store's unconditional per-(wave, name) dir overwrite.
            self.spark.sql(f"DELETE FROM {tbl} WHERE _wave = {wave}")
            writer.append()
        else:
            writer.create()
        return self.read(name, wave)

    def read(self, name: str, wave: int) -> DataFrame:
        from pyspark.sql import functions as F

        return (
            self.spark.table(self._table(name))
            .filter(F.col("_wave") == wave)
            .drop("_wave")
        )

    def rows(self, name: str, wave: int) -> int | None:
        # Iceberg answers partition-pruned counts from manifest
        # metadata; still a (tiny) job, so report None and let the
        # engine decide — or use the files metadata table:
        try:
            r = self.spark.sql(
                f"SELECT sum(record_count) FROM "
                f"{self._table(name)}.partitions "
                f"WHERE partition._wave = {wave}"
            ).collect()[0][0]
            return int(r) if r is not None else 0
        except Exception:
            return None

    def put_manifest(self, manifest: dict) -> None:
        self.spark.createDataFrame(
            [(json.dumps(manifest),)], "manifest_json string"
        ).writeTo(self._table("manifest")).createOrReplace()

    def get_manifest(self) -> dict:
        row = self.spark.table(self._table("manifest")).collect()[0]
        return json.loads(row["manifest_json"])

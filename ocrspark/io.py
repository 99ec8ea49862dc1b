"""Table IO: Iceberg when available, partitioned-parquet fallback otherwise.

The design targets Iceberg (north rule: "over Iceberg tables ... at
10^12-document scale"): the extractions table is partitioned by
``bucket(N, doc_id)``; upserts use MERGE with keep-latest semantics mirroring
the reference's catalog upsert (/root/reference/scripts/object_handling.py:221-246:
replace task on same key, dedupe keep-latest).

This sandbox ships no iceberg-spark-runtime jar, so the same interface is
implemented over a parquet directory layout with identical semantics:

  <root>/extractions/bucket=K/*.parquet   (dynamic partition overwrite = the
                                           per-bucket idempotent upsert)
  <root>/checkpoints/*.parquet            (append-only lineage/metrics log)

A cluster that provides the runtime (spark-submit --packages
org.apache.iceberg:...) and configures an Iceberg catalog has the caller
construct ``IcebergStore`` instead of ``ParquetStore``; both implement the
same store interface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import EXTRACTIONS_SCHEMA

EXTRACTIONS = "extractions"
CHECKPOINTS = "checkpoints"

# Target extractions schema, shared by the CREATE TABLE DDL and the
# ALTER TABLE ADD COLUMNS reconciliation: a store created by an earlier
# (narrower) release is widened in place instead of failing the first write.
EXTRACTIONS_COLUMNS: list[tuple[str, str]] = [
    (f.name, f.dataType.simpleString()) for f in EXTRACTIONS_SCHEMA.fields
]

# What ParquetStore's extractions table holds: the extract columns plus the
# ``bucket`` partition column.  Reading with it spares the schema-inference
# job a read of the directory would run.
STORED_EXTRACTIONS_SCHEMA = T.StructType(
    [*EXTRACTIONS_SCHEMA.fields, T.StructField("bucket", T.IntegerType())])


def _dir_has_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and contains at least one DATA file — the
    ONLY condition under which history (landed rows, checkpoints) is
    assumed.  Any other read problem (corrupt footer, transient FS error,
    permissions) must fail the read instead of passing for "no history":
    a resume would silently redo landed work, a streaming micro-batch
    would re-append duplicates.

    Only ``*.parquet`` files count: a zero-row first write leaves a
    ``_SUCCESS`` marker and no parts, and treating that as history would
    poison every later read with an unreadable (schema-less) table."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


class ParquetStore:
    """Parquet-directory tables with per-bucket idempotent overwrite."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_extractions(self, df: DataFrame) -> None:
        """df must carry a `bucket` column; overwrites only touched buckets
        (idempotent per bucket — the MERGE-equivalent for full-bucket
        recomputes, which is exactly what checkpointed batches produce)."""
        (
            df.write.partitionBy("bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self._path(EXTRACTIONS))
        )

    def read_extractions(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(STORED_EXTRACTIONS_SCHEMA).parquet(
            self._path(EXTRACTIONS))

    def append_checkpoints(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path(CHECKPOINTS))

    def read_checkpoints(self, spark: SparkSession) -> DataFrame | None:
        path = self._path(CHECKPOINTS)
        if not _dir_has_files(spark, path):
            return None
        # mergeSchema: a resumed run may append part files with newer
        # checkpoint columns (e.g. landed_task_count) next to files from an
        # older release; without the union schema the read picks one
        # footer's schema.  Reading every footer fails on a corrupt part.
        return spark.read.option("mergeSchema", "true").parquet(path)

    def landed_per_bucket(self, spark: SparkSession, buckets) -> dict[int, int]:
        """Durable row count per bucket for the just-written buckets,
        collected to the driver; a bucket without rows is absent.

        `bucket` is a physical partition column here, so the scan is
        partition-pruned to exactly the buckets written by this batch —
        O(batch output), not a table scan.  Lets the checkpoint record what
        LANDED, not just what was computed.  A batch without output rows
        still leaves the table directory, so the read always finds it."""
        rows = (
            self.read_extractions(spark)
            .filter(F.col("bucket").isin(list(buckets)))
            .groupBy("bucket").count().collect()
        )
        return {r.bucket: r["count"] for r in rows}


class IcebergStore:
    """Same interface over a configured Iceberg catalog (cluster path).

    Table DDL issued on first write:
      CREATE TABLE IF NOT EXISTS <ns>.extractions (...)
      USING iceberg PARTITIONED BY (bucket(N, doc_id))
    Upsert: MERGE INTO ... ON doc_id/task_number WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT (keep-latest, object_handling.py:221-246 parity).

    Unverified: ``run_resumable`` reads a batch's checkpoint counts from
    observers on the DataFrame it hands ``write_extractions``, and this
    store writes that DataFrame through a temp view and a MERGE.  Whether
    the MERGE plan keeps the observed nodes is untested, because no
    Iceberg runtime runs here (its test skips).  If it drops them,
    ``run_resumable`` raises, naming this store, after its bounded wait.
    The snapshot and bucket-count checks of a resume hold as for
    ``ParquetStore``.
    """

    def __init__(self, spark: SparkSession, namespace: str = "ocr.db",
                 buckets: int = 1024):
        self.spark = spark
        self.ns = namespace
        self.buckets = buckets
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def write_extractions(self, df: DataFrame) -> None:
        full = f"{self.ns}.{EXTRACTIONS}"
        df = df.drop("bucket")  # Iceberg's bucket transform replaces it
        df.createOrReplaceTempView("_ocr_batch")
        ddl_cols = ", ".join(f"{n} {t}" for n, t in EXTRACTIONS_COLUMNS)
        self.spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {full} ({ddl_cols})
                USING iceberg PARTITIONED BY (bucket({self.buckets}, doc_id))"""
        )
        self._add_missing_columns(full, EXTRACTIONS_COLUMNS)
        self.spark.sql(
            f"""MERGE INTO {full} t USING _ocr_batch s
                ON t.doc_id = s.doc_id AND t.task_number = s.task_number
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *"""
        )

    def _add_missing_columns(self, full: str, cols: list[tuple[str, str]]) -> None:
        """Widen a pre-existing (older-release) table to ``cols``, given as
        (name, type) pairs.

        CREATE TABLE IF NOT EXISTS never migrates an existing table, so a
        resume against a store created before new columns were added would
        fail on the first write.  Iceberg ADD COLUMNS is a metadata-only
        commit (existing rows read the new columns as NULL)."""
        existing = {f.name for f in self.spark.table(full).schema.fields}
        missing = [(n, t) for n, t in cols if n not in existing]
        if missing:
            ddl = ", ".join(f"{n} {t}" for n, t in missing)
            self.spark.sql(f"ALTER TABLE {full} ADD COLUMNS ({ddl})")

    def read_extractions(self, spark: SparkSession) -> DataFrame:
        return spark.table(f"{self.ns}.{EXTRACTIONS}")

    def landed_per_bucket(self, spark: SparkSession, buckets) -> None:
        """Unavailable here without a table scan: the Iceberg bucket is a
        hidden partition transform (no physical bucket column to prune on),
        and the MERGE is transactional anyway — the commit snapshot's
        added-records metrics are the landed evidence on a real catalog.
        Returning None records a NULL landed_task_count, which means only
        'this store cannot verify'."""
        return None

    def append_checkpoints(self, df: DataFrame) -> None:
        full = f"{self.ns}.{CHECKPOINTS}"
        if self.spark.catalog.tableExists(full):
            # same migration contract as extractions: widen an older-release
            # checkpoints table before appending a wider batch (otherwise
            # the checkpoint write fails AFTER extractions already landed)
            self._add_missing_columns(full, [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields])
            df.writeTo(full).append()
        else:
            df.writeTo(full).create()

    def read_checkpoints(self, spark: SparkSession) -> DataFrame | None:
        full = f"{self.ns}.{CHECKPOINTS}"
        return spark.table(full) if spark.catalog.tableExists(full) else None


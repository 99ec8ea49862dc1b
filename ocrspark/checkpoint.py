"""Batch checkpoint/resume with per-bucket lineage + metrics.

Replaces the reference's ``progress.json`` status lines
(/root/reference/scripts/utils.py:22-66, polled by the GUI in
app/App.cpp:460-586) with a durable checkpoint table: one row per completed
doc-bucket carrying lineage (run id, input snapshot, the bucket count it was
written under) and metrics (doc / task / span counts).

Resume semantics: work is partitioned into ``buckets`` by hash(doc_id)
(Iceberg ``bucket(N, doc_id)`` parity) and processed in ``batches`` groups of
buckets.  Each batch is filter -> extract -> idempotent per-bucket overwrite
-> checkpoint append, run as several Spark jobs: on perfbench's
``resume_store`` (a ParquetStore), a run of one batch is 11 (checkpoint read
2 at the start, partitioned write 3, the landed read-back's schema 1,
checkpoint append 5).  On restart, the buckets
the checkpoints record are skipped and only pending buckets run; a re-run of
a completed bucket is harmless (same deterministic output, dynamic-partition
overwrite).  A bucket id names a doc set only under the count that wrote it,
so a resume with a different ``buckets`` fails loudly.

At cluster scale, batches bound the blast radius of a failure to one batch's
work while keeping the job count low (buckets=1024, batches~32).
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_BUCKETS
from .partitioning import with_bucket
from .pipeline import extract


def completed_buckets(spark: SparkSession, store, buckets: int) -> set[int]:
    """Buckets the store's checkpoints record as done under ``buckets``.

    Raises ValueError when a checkpoint row was written under another
    bucket count: its bucket ids name other doc sets, so skipping them
    would skip undone work and redo landed rows into other buckets.  A
    NULL ``n_buckets`` comes from a release that did not record it and
    is accepted as written under ``buckets``.
    """
    cps = store.read_checkpoints(spark)
    if cps is None:
        return set()
    if "n_buckets" not in cps.columns:
        cps = cps.withColumn("n_buckets", F.lit(None).cast("int"))
    rows = cps.select("bucket", "n_buckets").distinct().collect()
    other = sorted({r.n_buckets for r in rows} - {None, buckets})
    if other:
        raise ValueError(
            f"run_resumable: the store was checkpointed with buckets={other}, "
            f"this run asks for buckets={buckets}; resume with the same "
            "bucket count or start a fresh store")
    return {r.bucket for r in rows}


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    store,
    buckets: int = DEFAULT_BUCKETS,
    batches: int = 4,
    max_batches: int | None = None,
    run_id: str | None = None,
    input_snapshot_id: str = "",
) -> dict:
    """Process all pending buckets; returns a summary dict.

    ``max_batches`` stops after a prefix of batches: the tests use it to
    simulate a killed run, and perfbench's ``resume_store`` workload to
    stop half way before resuming.  ``buckets`` must match the count the
    store was checkpointed with (see ``completed_buckets``).
    """
    if buckets < 1 or batches < 1:
        raise ValueError(f"run_resumable: buckets={buckets} and "
                         f"batches={batches} must both be >= 1")
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, store, buckets)
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return {"run_id": run_id, "batches_run": 0, "buckets_done": sorted(done)}

    docs_b = with_bucket(docs, buckets)
    per_batch = max(1, math.ceil(len(pending) / batches))
    groups = [pending[i:i + per_batch] for i in range(0, len(pending), per_batch)]
    if max_batches is not None:
        groups = groups[:max_batches]

    ran = 0
    for group in groups:
        batch_docs = docs_b.filter(F.col("bucket").isin(group))
        out = extract(batch_docs.select("doc_id", "spans"))
        # Persist the batch once: the sink write and the metrics agg both
        # consume the cached rows.  (A per-batch read-back of the whole
        # extractions table is O(batches) full scans, and IcebergStore's
        # bucket(N, doc_id) partition transform cannot prune a filter on a
        # re-derived xxhash64 bucket column.)
        out = with_bucket(out, buckets).persist()
        try:
            store.write_extractions(out)
            stats = out.groupBy("bucket").agg(
                F.countDistinct("doc_id").alias("doc_count"),
                F.count(F.lit(1)).alias("task_count"),
                F.sum(F.size("spans")).alias("span_count"),
            )
            # buckets that held zero docs still need a checkpoint row.  The
            # bucket list is a JVM range: a local Python list would plan as
            # Scan ExistingRDD and start Python workers to unpickle it.
            all_rows = spark.range(buckets).where(F.col("id").isin(group)).select(
                F.col("id").cast("int").alias("bucket")
            ).join(stats, "bucket", "left").fillna(
                0, ["doc_count", "task_count", "span_count"]
            )
            # landed_task_count = what is durably IN the store for these
            # buckets (partition-pruned read-back), vs task_count = what was
            # computed.  NULL = store can't verify cheaply (IcebergStore:
            # transactional MERGE; snapshot metrics are the evidence there).
            landed = store.landed_per_bucket(spark, group)
            if landed is not None:
                all_rows = all_rows.join(landed, "bucket", "left").fillna(
                    0, ["landed_task_count"]
                )
            else:
                all_rows = all_rows.withColumn(
                    "landed_task_count", F.lit(None).cast("long")
                )
            cp = all_rows.select(
                F.lit(run_id).alias("run_id"),
                F.col("bucket"),
                F.col("doc_count").cast("long"),
                F.col("task_count").cast("long"),
                F.col("span_count").cast("long"),
                F.col("landed_task_count").cast("long"),
                F.lit(input_snapshot_id).alias("input_snapshot_id"),
                F.current_timestamp().alias("completed_at"),
                F.lit(buckets).alias("n_buckets"),
            )
            store.append_checkpoints(cp)
        finally:
            out.unpersist()
        ran += 1

    return {
        "run_id": run_id,
        "batches_run": ran,
        "buckets_done": sorted(done | {b for g in groups for b in g}),
    }

"""Batch checkpoint/resume with per-bucket lineage + metrics.

Replaces the reference's ``progress.json`` status lines
(/root/reference/scripts/utils.py:22-66, polled by the GUI in
app/App.cpp:460-586) with a durable checkpoint table: one row per completed
doc-bucket carrying lineage (run id, input snapshot, the bucket count it was
written under) and metrics (doc / task / span counts, and the task count
that landed).

Resume semantics: work is partitioned into ``buckets`` by hash(doc_id)
(Iceberg ``bucket(N, doc_id)`` parity) and processed in ``batches`` groups of
buckets.  Each batch is filter -> extract -> idempotent per-bucket overwrite
-> landed read-back -> checkpoint append.  The counts ride the write: two
``Observation``s on the written plan count, per bucket, the docs that yield
a task (on segment's per-doc rows, before the explode) and the tasks and
spans handed to the store.  No copy of the batch is cached and no second
pass counts it.  The landed task counts come from a partition-pruned
read-back of what the write left in the store, the durable evidence.  The
checkpoint rows are JVM literals, so no Python worker starts.  On
perfbench's ``resume_store`` (a ParquetStore, 16 buckets, 4 cores) a batch
is 6 Spark jobs: partitioned write 2, the landed read-back's schema 1,
checkpoint append 3 (its join aggregates the read-back).  A resumed run
adds 3 for the checkpoint read.

On restart, the buckets the checkpoints record are skipped and only
pending buckets run.  A bucket id names a doc set only under the count
that wrote it, and a checkpoint names the input it was computed from, so a
resume with a different ``buckets`` or ``input_snapshot_id`` fails loudly.
A bucket can run twice: a crash between the write and the checkpoint
append leaves landed rows without a checkpoint, and the resume recomputes
the bucket and overwrites its partition.  That is harmless when the
recomputed rows equal the landed ones, i.e. on the same input with unique
span offsets per doc.  On tied offsets the sessionize window orders ties
arbitrarily, so the output can differ run to run (ROADMAP direction 2).  A
re-run that yields no row for a bucket writes no partition, so the
dynamic-partition overwrite keeps that bucket's old rows.

At cluster scale, batches bound the blast radius of a failure to one batch's
work while keeping the job count low (buckets=1024, batches~32).
"""

from __future__ import annotations

import math
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .assemble import assemble
from .config import DEFAULT_BUCKETS
from .partitioning import bucket_of, with_bucket
from .segment import segment
from .stage1 import stage1

# The listener bus delivers a write's observed counts moments after the
# write returns; a store whose plan dropped the observed nodes never does.
OBSERVATION_TIMEOUT_S = 60


def completed_buckets(spark: SparkSession, store, buckets: int,
                      input_snapshot_id: str) -> set[int]:
    """Buckets the store's checkpoints record as done under ``buckets``
    for the input ``input_snapshot_id``.

    Raises ValueError when a checkpoint row was written under another
    bucket count (its bucket ids name other doc sets, so skipping them
    would skip undone work and redo landed rows into other buckets) or
    from another input snapshot (the resume would mix two inputs in one
    store).  A NULL ``n_buckets`` or ``input_snapshot_id`` comes from a
    release that did not record it and is accepted as this run's.  The
    empty id is an id like any other.
    """
    cps = store.read_checkpoints(spark)
    if cps is None:
        return set()
    for name, kind in (("n_buckets", "int"), ("input_snapshot_id", "string")):
        if name not in cps.columns:
            cps = cps.withColumn(name, F.lit(None).cast(kind))
    rows = cps.select("bucket", "n_buckets", "input_snapshot_id").distinct().collect()
    other = sorted({r.n_buckets for r in rows} - {None, buckets})
    if other:
        raise ValueError(
            f"run_resumable: the store was checkpointed with buckets={other}, "
            f"this run asks for buckets={buckets}; resume with the same "
            "bucket count or start a fresh store")
    other = sorted({r.input_snapshot_id for r in rows} - {None, input_snapshot_id})
    if other:
        raise ValueError(
            f"run_resumable: the store was checkpointed from "
            f"input_snapshot_id={other}, this run reads "
            f"input_snapshot_id={input_snapshot_id!r}; resume on the same "
            "input or start a fresh store")
    return {r.bucket for r in rows}


def _per_bucket(bucket: Column, value: Column, group: list[int]) -> Column:
    """One observed counter: the sum of ``value`` in each bucket of
    ``group``, as an array in group order.  ``observe`` takes no grouping
    and no DISTINCT, so each bucket is its own conditional sum; the
    coalesce makes a bucket (or a batch) without rows count 0, not NULL."""
    return F.array(*[F.coalesce(F.sum(F.when(bucket == b, value)), F.lit(0))
                     for b in group])


def _observed(spark: SparkSession, obs: Observation, store) -> dict:
    """The metrics of ``obs``, waiting at most OBSERVATION_TIMEOUT_S for
    the listener bus to deliver them."""
    jvm = spark._jvm
    try:
        jvm.scala.concurrent.Await.ready(
            obs._jo.future(),
            jvm.scala.concurrent.duration.Duration.create(
                OBSERVATION_TIMEOUT_S, "seconds"))
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.concurrent.TimeoutException":
            raise
        raise RuntimeError(
            f"run_resumable: {type(store).__name__}.write_extractions "
            f"returned, but no observed counts arrived within "
            f"{OBSERVATION_TIMEOUT_S} s; the store must write the DataFrame "
            "it is handed, whose plan carries the checkpoint counters"
        ) from None
    return obs.get


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
    stop half way before resuming.  ``buckets`` and ``input_snapshot_id``
    must match what the store was checkpointed with (see
    ``completed_buckets``).  Each step's Spark jobs are described with the
    run id, batch and buckets; the caller's description is restored.
    """
    if buckets < 1 or batches < 1:
        raise ValueError(f"run_resumable: buckets={buckets} and "
                         f"batches={batches} must both be >= 1")
    run_id = run_id or uuid.uuid4().hex[:12]
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(f"ocrspark run {run_id}: checkpoint read")
        done = completed_buckets(spark, store, buckets, input_snapshot_id)
        pending = [b for b in range(buckets) if b not in done]
        if not pending:
            return {"run_id": run_id, "batches_run": 0,
                    "buckets_done": sorted(done)}

        docs_b = with_bucket(docs, buckets)
        per_batch = max(1, math.ceil(len(pending) / batches))
        groups = [pending[i:i + per_batch]
                  for i in range(0, len(pending), per_batch)]
        n_groups = len(groups)
        if max_batches is not None:
            groups = groups[:max_batches]

        for i, group in enumerate(groups):
            step = f"ocrspark run {run_id} batch {i + 1}/{n_groups} buckets {group}"
            sc.setJobDescription(f"{step}: extract+write")
            cp = _write_batch(spark, docs_b, store, buckets, group)
            # landed_task_count = what is durably IN the store for these
            # buckets (partition-pruned read-back), vs task_count = what was
            # computed.  NULL = store can't verify cheaply (IcebergStore:
            # transactional MERGE; snapshot metrics are the evidence there).
            sc.setJobDescription(f"{step}: landed read-back")
            landed = store.landed_per_bucket(spark, group)
            if landed is not None:
                cp = cp.join(landed, "bucket", "left").fillna(
                    0, ["landed_task_count"])
            else:
                cp = cp.withColumn("landed_task_count", F.lit(None).cast("long"))
            sc.setJobDescription(f"{step}: checkpoint append")
            store.append_checkpoints(cp.select(
                F.lit(run_id).alias("run_id"),
                "bucket", "doc_count", "task_count", "span_count",
                F.col("landed_task_count").cast("long"),
                F.lit(input_snapshot_id).alias("input_snapshot_id"),
                F.current_timestamp().alias("completed_at"),
                F.lit(buckets).alias("n_buckets"),
            ))
    finally:
        sc.setJobDescription(caller_description)

    return {
        "run_id": run_id,
        "batches_run": len(groups),
        "buckets_done": sorted(done | {b for g in groups for b in g}),
    }


def _write_batch(spark: SparkSession, docs_b: DataFrame, store, buckets: int,
                 group: list[int]) -> DataFrame:
    """Extract the batch's buckets into the store; returns their counts as
    rows (bucket, doc_count, task_count, span_count).

    The plan is ``extract()``'s with an observer where it already breaks
    (an observer splits whole-stage codegen and stops filter pushdown):
    on segment's per-doc rows after the ``nest_per_doc`` aggregation, and
    on the rows the store writes, where the partitioned write sorts.  Docs
    are counted where they are one row each, as docs with a task: the
    same as counting distinct doc ids in the output, which ``observe``
    cannot do."""
    batch = docs_b.filter(F.col("bucket").isin(group)).select("doc_id", "spans")
    docs_obs, rows_obs = Observation(), Observation()
    per_doc = segment(stage1(batch)).observe(docs_obs, _per_bucket(
        bucket_of(F.col("doc_id"), buckets),
        (F.size("tasks") > 0).cast("int"), group).alias("docs"))
    out = with_bucket(assemble(per_doc), buckets).observe(
        rows_obs,
        _per_bucket(F.col("bucket"), F.lit(1), group).alias("tasks"),
        _per_bucket(F.col("bucket"), F.size("spans"), group).alias("spans"),
    )
    store.write_extractions(out)
    n_docs = _observed(spark, docs_obs, store)["docs"]
    n_rows = _observed(spark, rows_obs, store)
    # buckets that held zero docs still get a checkpoint row; the counts are
    # ints, so the literal rows are plain SQL and plan in the JVM
    rows = ", ".join(
        f"named_struct('bucket', {b}, 'doc_count', {d}L, 'task_count', {t}L, "
        f"'span_count', {s}L)"
        for b, d, t, s in zip(group, n_docs, n_rows["tasks"], n_rows["spans"]))
    return spark.range(1).selectExpr(f"inline(array({rows}))")

"""Streaming ingestion dedup (SURVEY.md section 2.11).

The extraction engine itself is batch (the reference is a batch job per
document; resumability is checkpointed batch, SURVEY.md section 2.10).  The
one streaming operator the survey names is ingestion dedup, in its two
shapes, both keyed on the canonical-text fingerprint of
``ops.dedup.canonical_fp``:

* ``dedup_stream`` — bounded state: ``dropDuplicatesWithinWatermark``
  drops a duplicate that arrives within the watermark horizon of its
  first copy.
* ``dedup_ingest`` — full history: each micro-batch is anti-joined
  (``landed_anti_join``) against the landed corpus itself, so the output
  is the state.

Both run under ``trigger(availableNow=True)`` in tests (bounded drain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_BUCKETS
from .io import _dir_has_files

WATERMARK = "1 hour"  # dedup_stream's state horizon on ``ingested_at``
MAX_FILES_PER_TRIGGER = 64  # dedup_ingest's micro-batch size, in files


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: first-seen wins within the watermark horizon.

    The ingestion-side twin of ``ops.dedup.exact_groups``: the same
    canonical-text md5 key, deduped incrementally with
    ``dropDuplicatesWithinWatermark`` so state is BOUNDED — a duplicate
    arriving within ``WATERMARK`` of its first copy's ``ingested_at`` is
    dropped; state for keys older than the horizon is evicted (at 100
    TB/day the horizon is the memory knob; full-history dedup belongs to
    the batch op over the landed corpus).  Works on batch DataFrames too (falls back to plain
    dropDuplicates semantics on the key).
    """
    from .ops.dedup import canonical_fp

    keyed = docs.withColumn("fp", canonical_fp(F.col("text"))).withColumn(
        "ingested_at", F.col("ingested_at").cast("timestamp")
    )
    if keyed.isStreaming:
        return keyed.withWatermark("ingested_at", WATERMARK)\
            .dropDuplicatesWithinWatermark(["fp"])
    return keyed.dropDuplicates(["fp"])


def landed_anti_join(keyed: DataFrame, landed: DataFrame,
                     bucketed: bool = False) -> DataFrame:
    """Anti-join the micro-batch against the landed corpus keys.

    ``bucketed=True`` pins a sort-merge join so a landed table bucketed by
    fp is scanned IN PLACE: the landed side needs no exchange, only the
    (small) micro-batch shuffles into the bucket layout — per-batch cost
    O(batch), not O(history) (plan-asserted in test_streaming_metrics).
    The non-bucketed parquet path leaves the strategy to Catalyst (a small
    history is best broadcast)."""
    keys = landed.select("fp")
    if bucketed:
        keys = keys.hint("merge")
    return keyed.join(keys, "fp", "left_anti")


def dedup_ingest(spark: SparkSession, input_dir: str, out_dir: str | None,
                 checkpoint_dir: str, schema: str,
                 landed_table: str | None = None):
    """FULL-history streaming dedup: survivors of each micro-batch are the
    docs whose canonical fingerprint has never landed.

    The complement of ``dedup_stream``: that one bounds state by a
    watermark horizon; this one is exact against all history by
    anti-joining the batch against the durable corpus itself (no
    streaming state at all — the output IS the state).  Replay-safe by
    the same construction: a micro-batch re-run after a crash anti-joins
    against whatever its first attempt already appended, so re-appends
    only what is missing.

    Landed side, two shapes:

    * ``landed_table`` set (the 100 TB path): the corpus is a Spark table
      bucketed (``DEFAULT_BUCKETS`` buckets) and sorted by fp, appended
      once per batch.  The anti-join then shuffles ONLY the micro-batch
      side — per-batch cost O(batch), independent of history size.
    * ``landed_table`` None: the corpus is ``out_dir`` parquet; each batch
      re-reads the fingerprint column of the full history (fine for small
      corpora; the bucketed table is the scale default).

    Error policy: 'first batch' is established positively (the landed
    location verifiably has no data yet).  Any read failure on an
    existing corpus — corrupt footer, transient FS error, permissions —
    propagates and FAILS the micro-batch, so the checkpoint retries it;
    it is never treated as an empty history (that would silently append
    duplicates, the one wrong-data error path round 3 flagged).
    """
    from .ops.dedup import canonical_fp

    if (out_dir is None) == (landed_table is None):
        raise ValueError("exactly one of out_dir / landed_table is required")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        keyed = batch_df.withColumn(
            "fp", canonical_fp(F.col("text"))
        ).dropDuplicates(["fp"])
        if landed_table is not None:
            if ss.catalog.tableExists(landed_table):
                keyed = landed_anti_join(keyed, ss.table(landed_table),
                                         bucketed=True)
            (keyed.write.mode("append").format("parquet")
             .bucketBy(DEFAULT_BUCKETS, "fp").sortBy("fp")
             .saveAsTable(landed_table))
        else:
            if _dir_has_files(ss, out_dir):
                keyed = landed_anti_join(keyed, ss.read.parquet(out_dir))
            keyed.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

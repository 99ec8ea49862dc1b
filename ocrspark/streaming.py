"""Structured Streaming surface.

The extraction engine itself is batch (the reference is a batch job per
document; resumability is checkpointed batch, SURVEY.md section 2.10).  The
streaming module covers the ingestion side a live corpus would need:

* ``stream_extract`` — the SAME extraction pipeline bound to a file-source
  stream of span-table parquet: Structured Streaming replays the identical
  logical plan per micro-batch (foreachBatch), reusing the batch writer, so
  the batch/streaming split costs no second implementation.
* ``windowed_event_counts`` — watermarked sliding-window aggregation over an
  event stream (late-data handling demo on the driver's `events` shape).

Both run under ``trigger(availableNow=True)`` in tests (bounded drain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_BUCKETS
from .io import _dir_has_files
from .pipeline import extract
from .schema import DOCS_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, out_dir: str,
                   checkpoint_dir: str):
    """File-source streaming extraction: each micro-batch of new doc files
    runs the batch pipeline and appends to the output parquet."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        extract(batch_df).write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_GAP_MS = 1_800_000  # 30 min, same as the batch sessionization


def sessionize_stream(events: DataFrame, gap_ms: int = SESSION_GAP_MS,
                      late_policy: str = "clamp"):
    """Custom stateful streaming operator: per-user session numbering via
    ``applyInPandasWithState`` (the sanctioned stateful-UDF surface).

    State per user = (last event ms, running session counter); each
    micro-batch's events extend the numbering exactly like the batch
    ``w2`` sessionization (gap > 30 min opens a new session).  The batch
    inside the group is vectorized numpy (no per-row Python loop).

    Out-of-order input is OBSERVABLE, never silently misnumbered: an event
    arriving in a later micro-batch with ms < state.last_ms is late, flagged
    ``is_late`` in the output, and handled per ``late_policy``:

    * ``"clamp"`` (default): the late event's time is clamped to the state
      floor, so it joins the session that was active at state.last_ms and
      the state never regresses (the pre-fix behavior regressed last_ms,
      corrupting subsequent gap computation).
    * ``"drop"``: late events are dead-lettered — emitted with
      ``session_seq = -1`` and excluded from numbering and state.

    Events that arrive in the correct micro-batch are never late (within a
    batch the group is sorted here); production pairs this with a
    watermark-delayed source to bound how late an event can be.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    if late_policy not in ("clamp", "drop"):
        raise ValueError(f"late_policy must be clamp|drop, got {late_policy!r}")

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ms", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("is_late", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_ms", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        last_ms, seq = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ms", "event_id"])
        ms = rows["ms"].to_numpy()
        if not len(ms):
            return
        floor = last_ms  # None on first sight of the user
        late = ms < floor if floor is not None else np.zeros(len(ms), bool)
        min_sentinel = np.iinfo(np.int64).min // 2

        def _number(xs, first_is_new_user):
            prev = np.concatenate(
                [[floor if floor is not None else min_sentinel], xs[:-1]]
            )
            new = (xs - prev) > gap_ms
            if first_is_new_user:
                new[0] = True
            return seq + np.cumsum(new.astype(np.int64))

        if late_policy == "drop":
            keep = ~late
            seqs = np.full(len(ms), -1, dtype=np.int64)
            ms_k = ms[keep]
            if len(ms_k):
                seqs_k = _number(ms_k, floor is None)
                state.update((int(ms_k[-1]), int(seqs_k[-1])))
                seqs[keep] = seqs_k
        else:  # clamp: late events join the session active at the floor
            ms_eff = np.maximum(ms, floor) if floor is not None else ms
            seqs = _number(ms_eff, floor is None)
            state.update((int(ms_eff[-1]), int(seqs[-1])))
        yield pd.DataFrame({
            "user_id": np.int64(key[0]),
            "event_id": rows["event_id"].to_numpy(),
            "ms": ms,
            "session_seq": seqs,
            "is_late": late,
        })

    prepared = events.select(
        F.col("user_id").cast("long"),
        F.col("event_id").cast("long"),
        F.unix_millis(F.col("ts").cast("timestamp_ltz")).alias("ms"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def windowed_event_counts(events: DataFrame, window: str = "10 minutes",
                          slide: str | None = None,
                          watermark: str = "30 minutes") -> DataFrame:
    """Watermarked (sliding) window counts per event_type.

    ``events`` may be a streaming DataFrame (readStream) or batch — the same
    expression works for both (batch ignores the watermark).
    """
    # cast first, watermark second, and reference the *watermarked* column
    # bare inside window() — any further cast strips the event-time tag
    df = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    ts = F.col("ts")
    w = F.window(ts, window, slide) if slide else F.window(ts, window)
    return df.groupBy(w.alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )


def dedup_stream(docs: DataFrame, ts_col: str = "ingested_at",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: first-seen wins within the watermark horizon.

    The ingestion-side twin of ``ops.dedup.exact_groups``: the same
    canonical-text md5 key, deduped incrementally with
    ``dropDuplicatesWithinWatermark`` so state is BOUNDED — a duplicate
    arriving within ``watermark`` of the first copy is dropped; state for
    keys older than the horizon is evicted (at 100 TB/day the horizon is
    the memory knob; full-history dedup belongs to the batch op over the
    landed corpus).  Works on batch DataFrames too (falls back to plain
    dropDuplicates semantics on the key).
    """
    from .ops.dedup import canonical_fp

    keyed = docs.withColumn("fp", canonical_fp(F.col("text"))).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    if keyed.isStreaming:
        return keyed.withWatermark(ts_col, watermark)\
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
                 max_files_per_trigger: int = 64,
                 landed_table: str | None = None,
                 landed_buckets: int = DEFAULT_BUCKETS):
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
      bucketed+sorted by fp (``partitioning.write_bucketed`` layout, one
      append per batch).  The anti-join then shuffles ONLY the micro-batch
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
        .option("maxFilesPerTrigger", max_files_per_trigger)
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
             .bucketBy(landed_buckets, "fp").sortBy("fp")
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

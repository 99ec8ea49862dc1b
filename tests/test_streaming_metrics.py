"""Streaming (availableNow drain) + observe-metrics tests."""

import os

from pyspark.sql import Window, functions as F

from ocrspark.corpus import generate_docs
from ocrspark.metrics import observed
from ocrspark.pipeline import extract
from ocrspark.streaming import (sessionize_stream, stream_extract,
                                windowed_event_counts)


def test_observed_metrics(spark):
    docs = generate_docs(spark, 15, seed=3)
    obs, df = observed(extract(docs))
    n = df.count()
    m = obs.get
    assert m["tasks"] == n > 0
    assert m["docs"] <= 15 and m["docs"] > 0
    assert m["spans"] > m["tasks"]
    assert m["points_total"] > 0


def test_stream_extract_matches_batch(spark, tmp_path):
    docs = generate_docs(spark, 25, seed=11)
    in_dir, out_dir, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    docs.write.parquet(in_dir)

    q = stream_extract(spark, in_dir, out_dir, cp)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).select(
        "doc_id", "task_number", "points", F.to_json("spans").alias("sj"))
    exp = extract(spark.read.parquet(in_dir)).select(
        "doc_id", "task_number", "points", F.to_json("spans").alias("sj"))
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0

    # resume: no new files -> drain produces nothing new
    q2 = stream_extract(spark, in_dir, out_dir, cp)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == exp.count()


def test_dedup_stream_first_seen_wins(spark, tmp_path):
    """Streaming exact dedup across micro-batches: duplicates of an
    already-seen canonical text are dropped (state carry-over), first
    arrival survives."""
    import os

    from ocrspark.streaming import dedup_stream

    batches = [
        [(1, "alpha  text", "2026-01-01 10:00:00"),
         (2, "beta text", "2026-01-01 10:01:00")],
        [(3, "ALPHA TEXT", "2026-01-01 10:05:00"),   # dup of 1 (canon)
         (4, "gamma text", "2026-01-01 10:06:00")],
        [(5, "beta   TEXT", "2026-01-01 10:10:00"),  # dup of 2
         (6, "alpha text", "2026-01-01 10:11:00"),   # dup of 1
         (7, "delta text", "2026-01-01 10:12:00")],
    ]
    in_dir = tmp_path / "dedup_in"
    in_dir.mkdir()
    schema = "doc_id int, text string, ingested_at string"
    for i, rows in enumerate(batches):
        tmp = tmp_path / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        src = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = in_dir / f"{i}.parquet"
        src.rename(dst)
        os.utime(dst, (2_000_000 + i * 1000, 2_000_000 + i * 1000))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    q = (dedup_stream(stream).writeStream.format("memory")
         .queryName("dedup_stream_t").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("dedup_stream_t").collect()}
    assert got == {1, 2, 4, 7}

    # batch form: same keep-count on the same input
    batch = spark.read.parquet(str(in_dir))
    assert dedup_stream(batch).count() == 4


def test_dedup_ingest_full_history(spark, tmp_path):
    """Full-history ingestion dedup: duplicates are dropped against ALL
    landed batches (not a watermark horizon), and a re-drain with no new
    input appends nothing (replay-safe by construction)."""
    import os

    from ocrspark.streaming import dedup_ingest

    batches = [
        [(1, "alpha text"), (2, "beta text")],
        [(3, "ALPHA  text"), (4, "gamma text")],   # 3 dups 1
        [(5, "beta TEXT"), (6, "delta text")],     # 5 dups 2
    ]
    schema = "doc_id int, text string"
    in_dir = tmp_path / "ing_in"
    in_dir.mkdir()
    out_dir, cp = str(tmp_path / "ing_out"), str(tmp_path / "ing_cp")
    for i, rows in enumerate(batches):
        tmp = tmp_path / f"ib{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        src = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = in_dir / f"{i}.parquet"
        src.rename(dst)
        os.utime(dst, (3_000_000 + i * 1000, 3_000_000 + i * 1000))

    q = dedup_ingest(spark, str(in_dir), out_dir, cp, schema,
                     max_files_per_trigger=1)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 2, 4, 6}

    q2 = dedup_ingest(spark, str(in_dir), out_dir, cp, schema,
                      max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 4


def _stage_batches(spark, tmp_path, in_dir, batches, schema):
    """Write each batch as one input file with increasing mtimes (the
    file-source picks them up as separate micro-batches)."""
    in_dir.mkdir(exist_ok=True)
    base = len(list(in_dir.glob("*.parquet")))
    for j, rows in enumerate(batches):
        i = base + j
        tmp = tmp_path / f"stage_{in_dir.name}_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        src = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = in_dir / f"{i}.parquet"
        src.rename(dst)
        os.utime(dst, (3_000_000 + i * 1000, 3_000_000 + i * 1000))


def test_dedup_ingest_corrupt_landed_fails_loudly(spark, tmp_path):
    """A landed corpus that EXISTS but cannot be read must fail the
    micro-batch (checkpoint retries it) — never be treated as 'first
    batch', which would silently re-append duplicates (the round-3
    wrong-data error path).  A verifiably absent/empty landed dir is the
    only 'first batch' condition."""
    import pytest

    from ocrspark.streaming import dedup_ingest

    schema = "doc_id int, text string"
    in_dir = tmp_path / "cor_in"
    _stage_batches(spark, tmp_path, in_dir,
                   [[(1, "alpha text"), (2, "beta text")]], schema)
    out_dir, cp = str(tmp_path / "cor_out"), str(tmp_path / "cor_cp")
    q = dedup_ingest(spark, str(in_dir), out_dir, cp, schema)
    q.awaitTermination(120)
    n_landed = spark.read.parquet(out_dir).count()
    assert n_landed == 2

    # corrupt the landed corpus, then feed a new micro-batch
    files_before = {p.name for p in (tmp_path / "cor_out").iterdir()
                    if p.name.endswith(".parquet")}
    for p in (tmp_path / "cor_out").iterdir():
        if p.name.endswith(".parquet"):
            p.write_bytes(b"not a parquet footer")
    _stage_batches(spark, tmp_path, in_dir,
                   [[(3, "ALPHA  text"), (4, "gamma text")]], schema)
    # fresh checkpoint so the corrupted corpus is consulted again
    q2 = dedup_ingest(spark, str(in_dir), out_dir,
                      str(tmp_path / "cor_cp2"), schema,
                      max_files_per_trigger=2)
    with pytest.raises(Exception):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()
    # nothing was appended on the failed path
    files_after = {p.name for p in (tmp_path / "cor_out").iterdir()
                   if p.name.endswith(".parquet")}
    assert files_after == files_before


def test_dedup_ingest_bucketed_landed(spark, tmp_path, plan_nodes):
    """The scale path: landed corpus as an fp-bucketed table.  Same
    first-seen-wins semantics as the parquet path, replay-safe, and the
    per-batch anti-join plan shuffles ONLY the batch side (the bucketed
    landed scan has no Exchange above it) — per-batch cost O(batch), not
    O(history)."""
    from ocrspark.ops.dedup import canonical_fp
    from ocrspark.streaming import dedup_ingest, landed_anti_join

    schema = "doc_id int, text string"
    in_dir = tmp_path / "bkt_in"
    _stage_batches(spark, tmp_path, in_dir, [
        [(1, "alpha text"), (2, "beta text")],
        [(3, "ALPHA  text"), (4, "gamma text")],   # 3 dups 1
        [(5, "beta TEXT"), (6, "delta text")],     # 5 dups 2
    ], schema)
    cp = str(tmp_path / "bkt_cp")
    table = "landed_ingest_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        q = dedup_ingest(spark, str(in_dir), None, cp, schema,
                         max_files_per_trigger=1, landed_table=table)
        q.awaitTermination(120)
        assert {r.doc_id for r in spark.table(table).collect()} == {1, 2, 4, 6}

        # replay with the same checkpoint: nothing new lands
        q2 = dedup_ingest(spark, str(in_dir), None, cp, schema,
                          max_files_per_trigger=1, landed_table=table)
        q2.awaitTermination(120)
        assert spark.table(table).count() == 4

        # plan contract: one Exchange total (batch side), none above the
        # bucketed landed scan
        batch = spark.createDataFrame([(9, "epsilon text")], schema)
        keyed = batch.withColumn("fp", canonical_fp(F.col("text")))
        anti = landed_anti_join(keyed, spark.table(table), bucketed=True)
        nodes = plan_nodes(anti)
        assert "SortMergeJoin" in nodes, nodes
        assert nodes.count("Exchange") == 1, nodes
        # text: the join type is an argument of the join node
        plan = anti._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization across MULTIPLE micro-batches
    (state carry-over) equals the batch window sessionization."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    e = events.select("user_id", "event_id", "ts").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    )
    med = e.agg(F.expr("percentile(ms, 0.5)")).first()[0]

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    for i, part in enumerate([e.filter(F.col("ms") <= med),
                              e.filter(F.col("ms") > med)]):
        tmp = tmp_path / f"half{i}"
        part.select("user_id", "event_id", "ts").coalesce(1).write.parquet(str(tmp))
        src = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = in_dir / f"{i}.parquet"
        src.rename(dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    schema = "user_id long, event_id long, ts timestamp"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    q = (sessionize_stream(stream).writeStream.format("memory")
         .queryName("sess_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, r.event_id): r.session_seq
           for r in spark.table("sess_stream").collect()}

    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    new_s = F.when(
        (F.col("ms") - F.lag("ms").over(w) > 1_800_000)
        | F.lag("ms").over(w).isNull(), 1,
    ).otherwise(0)
    exp_df = e.withColumn(
        "session_seq",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    exp = {(r.user_id, r.event_id): r.session_seq for r in exp_df.collect()}
    assert len(got) == len(exp) > 0
    assert got == exp


def test_windowed_event_counts_batch(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events, window="1 hour").collect()
    assert len(out) > 0
    assert sum(r.n_events for r in out) == events.count()


def test_windowed_event_counts_streaming(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev")
    events.write.parquet(in_dir)
    stream = spark.readStream.schema(events.schema).parquet(in_dir)
    agg = windowed_event_counts(stream, window="1 hour")
    q = (agg.writeStream.format("memory").queryName("wincounts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode only emits windows older than the watermark; with a bounded
    # drain the final (max-ts) windows stay open — totals are a lower bound
    got = spark.sql("select sum(n_events) s from wincounts").collect()[0].s
    assert got is None or got <= events.count()


def _drive_two_batches(spark, tmp_path, batches, name, **kw):
    """Write each batch as one parquet file with increasing mtime, drain with
    maxFilesPerTrigger=1 (one micro-batch per file), return output rows."""
    import time

    in_dir = tmp_path / f"{name}_in"
    in_dir.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
        tmp = tmp_path / f"{name}_b{i}"
        df.coalesce(1).write.parquet(str(tmp))
        src = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = in_dir / f"{i}.parquet"
        src.rename(dst)
        os.utime(dst, (2_000_000 + i * 1000, 2_000_000 + i * 1000))
    schema = "user_id long, event_id long, ts timestamp"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(in_dir)))
    q = (sessionize_stream(stream, **kw).writeStream.format("memory")
         .queryName(name).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return {r.event_id: r for r in spark.table(name).collect()}


def test_sessionize_stream_late_events(spark, tmp_path):
    """An event arriving in a LATER micro-batch with ms < state.last_ms must
    be flagged, never silently misnumbered (the pre-fix behavior regressed
    state.last_ms and folded the late event in with no trace)."""
    from datetime import datetime, timezone

    def t(minutes):
        return datetime.fromtimestamp(minutes * 60, tz=timezone.utc)

    # batch 0: events at minute 10 and 20 (one session);
    # batch 1: LATE event at minute 5, then minute 60 (gap 40 > 30 -> new
    # session) — all for user 1
    batches = [
        [(1, 100, t(10)), (1, 101, t(20))],
        [(1, 102, t(5)), (1, 103, t(60))],
    ]

    # clamp: late event joins the session active at the state floor (seq 1),
    # is_late=True; state does not regress so event 103 opens session 2
    got = _drive_two_batches(spark, tmp_path, batches, "sess_clamp",
                             late_policy="clamp")
    assert {k: (v.session_seq, v.is_late) for k, v in got.items()} == {
        100: (1, False), 101: (1, False), 102: (1, True), 103: (2, False),
    }

    # drop: late event dead-lettered with session_seq=-1, excluded from
    # numbering and state
    got = _drive_two_batches(spark, tmp_path, batches, "sess_drop",
                             late_policy="drop")
    assert {k: (v.session_seq, v.is_late) for k, v in got.items()} == {
        100: (1, False), 101: (1, False), 102: (-1, True), 103: (2, False),
    }


def test_dedup_ingest_zero_survivor_first_batch(spark, tmp_path):
    """A first batch whose write lands no data files (_SUCCESS only) must
    not poison later batches: the landed dir counts as 'no history' until
    a real parquet part exists.  Simulated by pre-creating the marker-only
    dir a crashed empty write would leave."""
    from ocrspark.streaming import dedup_ingest

    schema = "doc_id int, text string"
    in_dir = tmp_path / "z_in"
    _stage_batches(spark, tmp_path, in_dir,
                   [[(1, "alpha text"), (2, "beta text")]], schema)
    out_dir = tmp_path / "z_out"
    out_dir.mkdir()
    (out_dir / "_SUCCESS").write_bytes(b"")
    q = dedup_ingest(spark, str(in_dir), str(out_dir),
                     str(tmp_path / "z_cp"), schema)
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(str(out_dir)).collect()} \
        == {1, 2}

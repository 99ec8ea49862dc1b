"""Streaming ingestion dedup (availableNow drain) tests.

Covers both ingestion dedup shapes of ``ocrspark.streaming``: the
watermark-bounded ``dedup_stream`` (first-seen wins across micro-batches)
and the full-history ``dedup_ingest`` (replay-safe, fail-loud on a corrupt
landed corpus, and an O(batch) anti-join plan on the bucketed table).
The observed counters that ride a job are tested with the checkpoint
that records them, in ``test_resume.py``.
"""

import os

from pyspark.sql import functions as F


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


def test_dedup_ingest_full_history(spark, tmp_path, monkeypatch):
    """Full-history ingestion dedup: duplicates are dropped against ALL
    landed batches (not a watermark horizon), and a re-drain with no new
    input appends nothing (replay-safe by construction)."""
    import os

    from ocrspark import streaming
    from ocrspark.streaming import dedup_ingest

    # one input file per micro-batch: duplicates meet the landed history
    monkeypatch.setattr(streaming, "MAX_FILES_PER_TRIGGER", 1)
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

    q = dedup_ingest(spark, str(in_dir), out_dir, cp, schema)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 2, 4, 6}

    q2 = dedup_ingest(spark, str(in_dir), out_dir, cp, schema)
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
                      str(tmp_path / "cor_cp2"), schema)
    with pytest.raises(Exception):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()
    # nothing was appended on the failed path
    files_after = {p.name for p in (tmp_path / "cor_out").iterdir()
                   if p.name.endswith(".parquet")}
    assert files_after == files_before


def test_dedup_ingest_bucketed_landed(spark, tmp_path, plan_nodes, plan_text,
                                      monkeypatch):
    """The scale path: landed corpus as an fp-bucketed table.  Same
    first-seen-wins semantics as the parquet path, replay-safe, and the
    per-batch anti-join plan shuffles ONLY the batch side (the bucketed
    landed scan has no Exchange above it) — per-batch cost O(batch), not
    O(history)."""
    from ocrspark import streaming
    from ocrspark.ops.dedup import canonical_fp
    from ocrspark.streaming import dedup_ingest, landed_anti_join

    monkeypatch.setattr(streaming, "MAX_FILES_PER_TRIGGER", 1)
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
                         landed_table=table)
        q.awaitTermination(120)
        assert {r.doc_id for r in spark.table(table).collect()} == {1, 2, 4, 6}

        # replay with the same checkpoint: nothing new lands
        q2 = dedup_ingest(spark, str(in_dir), None, cp, schema,
                          landed_table=table)
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
        assert "LeftAnti" in plan_text(anti), plan_text(anti)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


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

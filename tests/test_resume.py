"""Checkpoint/resume tests (FIXTURES.md section 6).

Kill-after-prefix then resume must produce a table identical to a clean run;
checkpoints must carry per-bucket lineage; re-running a completed store is a
no-op.
"""

from pyspark.sql import functions as F

from ocrspark.checkpoint import run_resumable
from ocrspark.corpus import generate_docs
from ocrspark.io import ParquetStore
from ocrspark.pipeline import extract


def _canon(df):
    return df.select(
        "doc_id", "subject", "exam_version", "task_number", "points",
        F.to_json("spans").alias("sj"),
    )


def test_resume_equals_clean_run(spark, tmp_path):
    docs = generate_docs(spark, 40, seed=5)

    # clean single-shot pipeline result
    clean = _canon(extract(docs))

    # killed run: only 1 of 4 batches completes
    store = ParquetStore(str(tmp_path / "store"))
    r1 = run_resumable(spark, docs, store, buckets=8, batches=4, max_batches=1,
                       input_snapshot_id="snap-1")
    assert r1["batches_run"] == 1
    cps = store.read_checkpoints(spark)
    done_after_kill = {r.bucket for r in cps.select("bucket").distinct().collect()}
    assert 0 < len(done_after_kill) < 8

    # resume: finishes the rest, skipping completed buckets
    r2 = run_resumable(spark, docs, store, buckets=8, batches=4,
                       input_snapshot_id="snap-1")
    assert set(r2["buckets_done"]) == set(range(8))

    final = _canon(store.read_extractions(spark).drop("bucket"))
    assert final.count() == clean.count() > 0
    assert final.exceptAll(clean).count() == 0
    assert clean.exceptAll(final).count() == 0

    # third run: nothing pending, no-op
    r3 = run_resumable(spark, docs, store, buckets=8, batches=4)
    assert r3["batches_run"] == 0


def test_checkpoint_lineage_and_metrics(spark, tmp_path):
    docs = generate_docs(spark, 20, seed=6)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, docs, store, buckets=4, batches=2,
                  input_snapshot_id="snapshot-abc", run_id="run-1")
    cps = store.read_checkpoints(spark)
    rows = cps.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert all(r.run_id == "run-1" for r in rows)
    assert all(r.input_snapshot_id == "snapshot-abc" for r in rows)
    assert all(r.completed_at is not None for r in rows)
    # landed counts (durable read-back) match computed counts per bucket
    assert all(r.landed_task_count == r.task_count for r in rows)
    # metrics reconcile with the stored table
    ext = store.read_extractions(spark)
    assert sum(r.task_count for r in rows) == ext.count()
    assert sum(r.span_count for r in rows) == ext.select(
        F.sum(F.size("spans"))).collect()[0][0]
    assert sum(r.doc_count for r in rows) == ext.select("doc_id").distinct().count()


def test_checkpoint_rows_need_no_python_worker(spark, tmp_path, plan_nodes):
    """The checkpoint rows are built in the JVM: the plan a batch appends
    has no ``Scan ExistingRDD`` (a local Python list, unpickled by Python
    workers) and no other Python-evaluating node.  The docs are read from
    parquet, so the corpus generator's mapInPandas is not in the plan;
    test_checkpoint_lineage_and_metrics checks the values."""
    generate_docs(spark, 20, seed=6).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plans = []

    class CapturingStore(ParquetStore):
        def append_checkpoints(self, df):
            plans.append(plan_nodes(df))
            super().append_checkpoints(df)

    run_resumable(spark, docs, CapturingStore(str(tmp_path / "store")),
                  buckets=4, batches=2)
    assert len(plans) == 2
    for nodes in plans:
        python = [n for n in nodes if n.startswith("Scan ExistingRDD")
                  or any(w in n for w in ("Python", "Pandas", "Arrow"))]
        assert not python, nodes


def test_resume_with_other_bucket_count_fails_loudly(spark, tmp_path):
    """A bucket id names a doc set only under the count that wrote it: a
    resume with another bucket count must fail instead of skipping undone
    work and landing duplicate rows.  The same count still resumes to the
    one-shot result, and bucket/batch counts below 1 are rejected."""
    import pytest

    docs = generate_docs(spark, 40, seed=5)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, docs, store, buckets=4, batches=2, max_batches=1)
    with pytest.raises(ValueError, match="checkpointed with buckets=\\[4\\]"):
        run_resumable(spark, docs, store, buckets=8, batches=1)
    run_resumable(spark, docs, store, buckets=4, batches=2)
    ext = store.read_extractions(spark)
    assert ext.count() == ext.select("doc_id", "task_number").distinct().count()
    assert ext.count() == extract(docs).count()
    assert {r.n_buckets for r in store.read_checkpoints(spark).collect()} == {4}
    for buckets, batches in ((0, 1), (4, 0)):
        with pytest.raises(ValueError, match=">= 1"):
            run_resumable(spark, docs, ParquetStore(str(tmp_path / "fresh")),
                          buckets=buckets, batches=batches)


def test_checkpoints_without_bucket_count_are_accepted(spark, tmp_path):
    """Checkpoint rows of a release that did not record ``n_buckets`` are
    taken as written under the requested count: the resume skips them."""
    docs = generate_docs(spark, 20, seed=6)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, docs, store, buckets=4, batches=2, max_batches=1)
    cps_dir = str(tmp_path / "store" / "checkpoints")
    old = spark.read.parquet(cps_dir).drop("n_buckets").collect()
    schema = spark.read.parquet(cps_dir).drop("n_buckets").schema
    spark.createDataFrame(old, schema).write.mode("overwrite").parquet(cps_dir)
    done = {r.bucket for r in old}
    assert 0 < len(done) < 4
    r = run_resumable(spark, docs, store, buckets=4, batches=2)
    assert set(r["buckets_done"]) == set(range(4))
    rows = store.read_checkpoints(spark).collect()
    assert {row.bucket for row in rows if row.n_buckets is None} == done
    assert {row.bucket for row in rows if row.n_buckets == 4} \
        == set(range(4)) - done


def test_corrupt_checkpoint_fails_loudly(spark, tmp_path):
    """An unreadable checkpoint part is a fault, not "no checkpoints":
    resuming must raise instead of silently re-running landed batches.
    A fresh store still resumes from nothing."""
    import pytest

    docs = generate_docs(spark, 20, seed=7)
    store = ParquetStore(str(tmp_path / "store"))
    assert store.read_checkpoints(spark) is None
    r = run_resumable(spark, docs, store, buckets=4, batches=2)
    assert r["batches_run"] == 2
    part = sorted((tmp_path / "store" / "checkpoints").glob("*.parquet"))[0]
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        run_resumable(spark, docs, store, buckets=4, batches=2)


def test_batch_without_output_still_checkpoints(spark, tmp_path):
    """A first batch that lands no row leaves no data file to read back:
    its buckets are checkpointed with an unverified (NULL) landed count."""
    docs = generate_docs(spark, 4, seed=8).withColumn(
        "spans", F.slice("spans", 1, 0))
    store = ParquetStore(str(tmp_path / "store"))
    r = run_resumable(spark, docs, store, buckets=2, batches=1)
    assert r["batches_run"] == 1
    rows = store.read_checkpoints(spark).collect()
    assert {row.bucket for row in rows} == {0, 1}
    assert all(row.task_count == 0 and row.landed_task_count is None
               for row in rows)


def _iceberg_jar():
    import glob
    import os
    jar = os.environ.get("ICEBERG_JAR")
    if jar and os.path.exists(jar):
        return jar
    hits = glob.glob(
        os.path.join(os.path.dirname(__file__), "..", "dist", "jars",
                     "iceberg-spark-runtime-*.jar")
    )
    return hits[0] if hits else None


def test_iceberg_store_roundtrip(tmp_path):
    """IcebergStore end-to-end: CREATE + MERGE INTO upsert + ADD COLUMNS
    migration + resume.  Requires the iceberg-spark-runtime jar
    (scripts/fetch_iceberg.sh — no network in this sandbox, so this is a
    clean skip until the jar is vendored into dist/jars)."""
    import pytest

    jar = _iceberg_jar()
    if jar is None:
        pytest.skip("iceberg-spark-runtime jar absent; run scripts/fetch_iceberg.sh")

    from pyspark.sql import SparkSession

    from ocrspark.io import IcebergStore

    # dedicated session: jars + catalog conf must be set before the JVM starts
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-roundtrip")
        .config("spark.jars", jar)
        .config("spark.sql.catalog.ocr", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ocr.type", "hadoop")
        .config("spark.sql.catalog.ocr.warehouse", str(tmp_path / "wh"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    try:
        docs = generate_docs(spark, 12, seed=9)
        store = IcebergStore(spark, buckets=8)
        r = run_resumable(spark, docs, store, buckets=4, batches=2)
        assert set(r["buckets_done"]) == set(range(4))
        ext = store.read_extractions(spark)
        clean = _canon(extract(docs))
        assert _canon(ext).exceptAll(clean).count() == 0
        assert ext.count() == clean.count() > 0
        # idempotent MERGE: second run over same docs keeps the row count
        store.write_extractions(extract(docs))
        assert store.read_extractions(spark).count() == clean.count()
        # checkpoint rows recorded NULL landed (MERGE is transactional)
        cps = store.read_checkpoints(spark)
        assert all(row.landed_task_count is None for row in cps.collect())
    finally:
        spark.stop()

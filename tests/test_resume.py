"""Checkpoint/resume tests (FIXTURES.md section 6).

Kill-after-prefix then resume must produce a table identical to a clean run;
checkpoints must carry per-bucket lineage; re-running a completed store is a
no-op.  A store that fails mid-batch resumes to the same table, the
checkpoint counts ride the batch's write (no cached copy, no extra job),
and each batch step's jobs are described.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from ocrspark import checkpoint
from ocrspark.checkpoint import run_resumable
from ocrspark.corpus import generate_docs
from ocrspark.io import ParquetStore
from ocrspark.partitioning import with_bucket
from ocrspark.pipeline import extract
from ocrspark.schema import DOCS_SCHEMA


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
    r3 = run_resumable(spark, docs, store, buckets=8, batches=4,
                       input_snapshot_id="snap-1")
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
    """Checkpoint rows of a release that recorded neither ``n_buckets``
    nor ``input_snapshot_id`` are taken as written under the requested
    count from the requested input: the resume skips them."""
    docs = generate_docs(spark, 20, seed=6)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, docs, store, buckets=4, batches=2, max_batches=1)
    cps_dir = str(tmp_path / "store" / "checkpoints")
    old_release = ("n_buckets", "input_snapshot_id")
    old = spark.read.parquet(cps_dir).drop(*old_release).collect()
    schema = spark.read.parquet(cps_dir).drop(*old_release).schema
    spark.createDataFrame(old, schema).write.mode("overwrite").parquet(cps_dir)
    done = {r.bucket for r in old}
    assert 0 < len(done) < 4
    r = run_resumable(spark, docs, store, buckets=4, batches=2,
                      input_snapshot_id="snap")
    assert set(r["buckets_done"]) == set(range(4))
    rows = store.read_checkpoints(spark).collect()
    assert {row.bucket for row in rows if row.n_buckets is None} == done
    assert {row.bucket for row in rows if row.n_buckets == 4} \
        == set(range(4)) - done
    assert {row.bucket for row in rows if row.input_snapshot_id is None} == done


def test_corrupt_checkpoint_fails_loudly(spark, tmp_path):
    """An unreadable checkpoint part is a fault, not "no checkpoints":
    resuming must raise instead of silently re-running landed batches.
    A fresh store still resumes from nothing."""
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


def test_resume_on_other_input_fails_loudly(spark, tmp_path):
    """A checkpoint names the input it was computed from: a resume with
    another ``input_snapshot_id`` must raise instead of mixing two inputs
    in one store.  The empty default id is an id like any other, both
    ways.  The same id still resumes to the one-shot result."""
    a, b = generate_docs(spark, 40, seed=5), generate_docs(spark, 40, seed=11)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, a, store, buckets=8, batches=4, max_batches=2,
                  input_snapshot_id="A")
    for snap in ("B", ""):
        with pytest.raises(ValueError, match=r"input_snapshot_id=\['A'\]"):
            run_resumable(spark, b, store, buckets=8, batches=4,
                          input_snapshot_id=snap)
    run_resumable(spark, a, store, buckets=8, batches=4, input_snapshot_id="A")
    final = _canon(store.read_extractions(spark).drop("bucket"))
    clean = _canon(extract(a))
    assert final.count() == clean.count() > 0
    assert final.exceptAll(clean).count() == 0
    assert {r.input_snapshot_id for r in store.read_checkpoints(spark).collect()} \
        == {"A"}

    unnamed = ParquetStore(str(tmp_path / "unnamed"))
    run_resumable(spark, a, unnamed, buckets=4, batches=2, max_batches=1)
    with pytest.raises(ValueError, match=r"input_snapshot_id=\[''\]"):
        run_resumable(spark, a, unnamed, buckets=4, batches=2,
                      input_snapshot_id="A")


class _FailsOnce(ParquetStore):
    """A ParquetStore whose ``method`` raises on its ``call``-th call,
    before doing any of its work."""

    def __init__(self, root, method, call):
        super().__init__(root)
        self.method, self.call, self.calls = method, call, 0

    def _fault(self, method):
        if method == self.method:
            self.calls += 1
            if self.calls == self.call:
                raise RuntimeError(f"injected fault in {method}")

    def write_extractions(self, df):
        self._fault("write_extractions")
        super().write_extractions(df)

    def append_checkpoints(self, df):
        self._fault("append_checkpoints")
        super().append_checkpoints(df)


@pytest.mark.parametrize("method", ["append_checkpoints", "write_extractions"])
def test_resume_after_store_fault_equals_one_shot(spark, tmp_path, method):
    """A store that fails in a batch's second write step leaves that batch
    unrecorded: in ``append_checkpoints`` its extractions have landed, in
    ``write_extractions`` they have not.  Either way the resume redoes the
    batch, the store equals the one-shot ``extract``, and the checkpoint
    rows (one per bucket) sum to its doc, task and span counts."""
    docs = generate_docs(spark, 40, seed=5)
    store = _FailsOnce(str(tmp_path / "store"), method, call=2)
    with pytest.raises(RuntimeError, match="injected fault"):
        run_resumable(spark, docs, store, buckets=8, batches=4)
    done = {r.bucket for r in store.read_checkpoints(spark).collect()}
    assert 0 < len(done) < 8
    landed = {r.bucket for r in
              store.read_extractions(spark).select("bucket").distinct().collect()}
    assert bool(landed - done) == (method == "append_checkpoints")

    run_resumable(spark, docs, store, buckets=8, batches=4)
    clean = extract(docs)
    final = _canon(store.read_extractions(spark).drop("bucket"))
    assert final.count() == clean.count() > 0
    assert final.exceptAll(_canon(clean)).count() == 0
    assert _canon(clean).exceptAll(final).count() == 0
    rows = store.read_checkpoints(spark).collect()
    assert sorted(r.bucket for r in rows) == list(range(8))
    assert all(r.landed_task_count == r.task_count for r in rows)
    want = clean.agg(F.countDistinct("doc_id"), F.count(F.lit(1)),
                     F.sum(F.size("spans"))).collect()[0]
    assert (sum(r.doc_count for r in rows), sum(r.task_count for r in rows),
            sum(r.span_count for r in rows)) == tuple(want)


def test_checkpoint_counts_ride_the_write(spark, tmp_path):
    """Per bucket, the checkpoint's counts equal the one-shot ``extract``'s
    distinct docs, tasks and spans.  A doc counts only when it yields a
    task: the bucket that holds a taskless doc counts fewer docs than it
    holds."""
    taskless = spark.createDataFrame([{
        "doc_id": "no-tasks",
        "spans": [{"kind": "text", "text": "Innledning uten oppgaver.",
                   "media_ref": None, "offset": 0}],
    }], schema=DOCS_SCHEMA)
    docs = generate_docs(spark, 15, seed=3).unionByName(taskless)
    store = ParquetStore(str(tmp_path / "store"))
    run_resumable(spark, docs, store, buckets=4, batches=2)

    want = {r.bucket: (r.docs, r.tasks, r.spans) for r in
            with_bucket(extract(docs), 4).groupBy("bucket").agg(
                F.countDistinct("doc_id").alias("docs"),
                F.count(F.lit(1)).alias("tasks"),
                F.sum(F.size("spans")).alias("spans")).collect()}
    got = {r.bucket: (r.doc_count, r.task_count, r.span_count)
           for r in store.read_checkpoints(spark).collect()}
    assert got == {b: want.get(b, (0, 0, 0)) for b in range(4)}
    held = {r.bucket: r["count"] for r in
            with_bucket(docs, 4).groupBy("bucket").count().collect()}
    (b,) = [r.bucket for r in
            with_bucket(taskless, 4).select("bucket").collect()]
    assert got[b][0] == held[b] - 1


def _group_jobs(spark, group):
    """Ids of the jobs run under ``group``, once the status store has
    seen every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _under_group(spark, description, fn):
    """Run ``fn`` under a new job group; returns its job ids."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, description)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return _group_jobs(spark, group)


def test_batch_runs_no_counting_job(spark, tmp_path, plan_nodes):
    """A batch counts its checkpoint rows on the jobs it runs anyway.  On
    150 docs in 16 buckets a first run's batch is 6 jobs (write 2, the
    landed read-back's schema 1, checkpoint append 3) and a resume's
    batch 9 (its checkpoint read 3).  Caching the batch and aggregating
    the cache took 9 and 12.  No plan the store is handed holds a cached
    relation."""
    generate_docs(spark, 150, seed=3).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plans = []

    class CapturingStore(ParquetStore):
        def write_extractions(self, df):
            plans.append(plan_nodes(df))
            super().write_extractions(df)

        def append_checkpoints(self, df):
            plans.append(plan_nodes(df))
            super().append_checkpoints(df)

    store = CapturingStore(str(tmp_path / "store"))
    first = _under_group(spark, "first", lambda: run_resumable(
        spark, docs, store, buckets=16, batches=2, max_batches=1))
    resume = _under_group(spark, "resume", lambda: run_resumable(
        spark, docs, store, buckets=16, batches=1))
    assert (len(first), len(resume)) == (6, 9)
    assert len(plans) == 4
    for nodes in plans:
        assert not {"InMemoryRelation", "InMemoryTableScan"} & set(nodes), nodes


def test_small_extract_keeps_every_core_busy(spark, tmp_path):
    """AQE sizes post-shuffle partitions by bytes, while the extract costs
    ~4.4 CPU-s per shuffled MB.  With the default 1 MB minimum an uncached
    ~200-doc extract ran its post-shuffle stage in 1 task; ``get_spark``'s
    64 KB minimum gives it a task per core."""
    generate_docs(spark, 200, seed=4).write.parquet(str(tmp_path / "docs"))
    out = extract(spark.read.parquet(str(tmp_path / "docs")))
    jobs = _under_group(spark, "noop extract", lambda: out.write.format(
        "noop").mode("overwrite").save())
    tracker = spark.sparkContext.statusTracker()
    last_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    cores = spark.sparkContext.defaultParallelism
    assert tracker.getStageInfo(last_stage).numTasks >= cores >= 4


def test_batch_steps_are_described(spark, tmp_path):
    """Every job of a run carries a description naming the run id, the
    batch, its buckets and the step; the caller's description is back
    afterwards."""
    docs = generate_docs(spark, 20, seed=6)
    store = ParquetStore(str(tmp_path / "store"))
    sc = spark.sparkContext
    jobs = []

    def two_runs():
        run_resumable(spark, docs, store, buckets=4, batches=2, max_batches=1,
                      run_id="run-a")
        assert sc.getLocalProperty("spark.job.description") == "caller"
        jobs.extend(_group_jobs(spark, sc.getLocalProperty("spark.jobGroup.id")))
        run_resumable(spark, docs, store, buckets=4, batches=1, run_id="run-b")
        assert sc.getLocalProperty("spark.job.description") == "caller"

    every = _under_group(spark, "caller", two_runs)
    status = sc._jsc.sc().statusStore()

    def described(ids):
        return {status.job(i).description().get() for i in ids}

    steps = ("extract+write", "landed read-back", "checkpoint append")
    assert described(jobs) == {
        f"ocrspark run run-a batch 1/2 buckets [0, 1]: {s}" for s in steps}
    assert described(set(every) - set(jobs)) == {
        "ocrspark run run-b: checkpoint read",
        *(f"ocrspark run run-b batch 1/1 buckets [2, 3]: {s}" for s in steps)}


def test_store_that_drops_the_counters_fails_loudly(spark, tmp_path, monkeypatch):
    """The counts arrive only from the plan the store is handed.  A store
    that writes another DataFrame makes the bounded wait for them fail,
    naming the store, before any checkpoint row is appended."""
    monkeypatch.setattr(checkpoint, "OBSERVATION_TIMEOUT_S", 1)

    class CopyingStore(ParquetStore):
        def write_extractions(self, df):
            super().write_extractions(df.sparkSession.createDataFrame([], df.schema))

    store = CopyingStore(str(tmp_path / "store"))
    with pytest.raises(RuntimeError, match="CopyingStore.write_extractions"):
        run_resumable(spark, generate_docs(spark, 8, seed=6), store,
                      buckets=2, batches=1)
    assert store.read_checkpoints(spark) is None


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

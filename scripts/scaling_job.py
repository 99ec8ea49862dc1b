#!/usr/bin/env python
"""The spark-submit job behind both N vs 4N scaling harnesses.

Reads the cached deterministic corpus (generating it on first use), runs the
full extraction pipeline with an aggregate sink, prints one JSON line.
``run_scaling.py`` runs it whole at each thread level;
``multi_executor_bench.py`` runs one copy per executor JVM, each over a
disjoint hash shard of the corpus.

Usage: scaling_job.py [n_docs] [shard n_shards]
  With ``shard n_shards`` the job keeps only the docs with
  ``pmod(xxhash64(doc_id), n_shards) == shard`` (before the warmup) and
  reports that shard's own doc count as ``n_docs``.

Measurement discipline for a noisy shared-VM host:
  * one untimed warmup pass (JIT) on a 20% hash slice;
  * the timed region is repeated IN-JVM (best of TIMED_RUNS) with a
    per-iteration literal added to the aggregate (and subtracted after
    collect) so the canonicalized plans differ and Spark 4's
    repeated-collect result reuse cannot fire;
  * the JVM's own CPU time (utime+stime from /proc/<jvmpid>/stat) is
    captured around each run — cpu_sec should be ~constant across
    parallelism levels (same work), which separates host noise from real
    scaling in the report.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from ocrspark.corpus import generate_docs  # noqa: E402
from ocrspark.pipeline import extract  # noqa: E402

TIMED_RUNS = 2


def _jvm_cpu_sec(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    parts = open(f"/proc/{pid}/stat").read().split()
    hz = 100  # USER_HZ
    return (int(parts[13]) + int(parts[14])) / hz


def cached_corpus(spark, n_docs: int):
    """The deterministic bench corpus of ``n_docs`` docs (seed 42,
    fat_doc_rate 0.001), written to ``.bench_cache/`` on first use."""
    # v2: corpus grammar gained G7 glued-boundary and duplicate-figure cases
    cache = REPO / ".bench_cache" / f"docs_n{n_docs}_s42_v2"
    if not (cache / "_SUCCESS").exists():
        generate_docs(spark, n_docs, seed=42, fat_doc_rate=0.001,
                      partitions=128).write.mode("overwrite").parquet(str(cache))
    return spark.read.parquet(str(cache))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    shard, n_shards = (int(a) for a in sys.argv[2:4]) if len(sys.argv) > 3 else (0, 1)
    spark = SparkSession.builder.appName("ocrspark-scaling").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cores * 2))

    docs = cached_corpus(spark, n_docs)
    if n_shards > 1:
        docs = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)) == shard)
        n_docs = docs.count()
    # JIT warmup, untimed (a long-lived cluster job amortizes this to zero)
    warm = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0)
    extract(warm).agg(F.sum(F.size("spans")),
                      F.sum(F.length("task_text_html"))).collect()

    best = None
    for i in range(TIMED_RUNS):
        cpu0 = _jvm_cpu_sec(spark)
        t0 = time.time()
        # `+ lit(i+1)` survives constant folding (unlike `* 0`), so each
        # iteration's canonicalized plan is distinct; undone after collect.
        # html/text sums keep the topic/HTML/G7 stages in the timed plan
        # (column pruning would otherwise drop them from an agg-only job).
        row = extract(docs).agg(
            (F.sum(F.size("spans")) + F.lit(i + 1)).alias("n_spans"),
            F.count(F.lit(1)).alias("n_tasks"),
            F.sum(F.length("task_text_html")).alias("html_chars"),
            F.sum(F.col("was_merged").cast("int")).alias("n_merged"),
        ).collect()[0]
        wall = time.time() - t0
        cpu = _jvm_cpu_sec(spark) - cpu0
        if best is None or wall < best["wall_sec"]:
            best = {"wall_sec": round(wall, 2), "cpu_sec": round(cpu, 1),
                    "n_tasks": row.n_tasks, "n_spans": int(row.n_spans) - (i + 1)}

    print(json.dumps({
        "parallelism": cores,
        "n_docs": n_docs,
        **best,
        "docs_per_sec": round(n_docs / best["wall_sec"], 1),
        "spans_per_sec": round(best["n_spans"] / best["wall_sec"], 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""The workloads and their timed passes, all through the public API.

A pass is ``work()`` (timed) followed by ``verify(result)`` (untimed).
Each pass reads the corpus into a new DataFrame, so no pass can be served
from a result cached for an earlier, identical plan.
"""

from __future__ import annotations

import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from bootstrap import WORK
from inputs import Corpus, CorpusSpec, checksum, matches

# bench-grammar corpora (fat_doc_rate=0.001); text_chars is the median
# volume of that many docs over seeds.  1200 docs shuffle ~4.4 MB, enough
# for adaptive coalescing to keep one post-shuffle task per core.
TYPICAL = CorpusSpec(n_docs=1200, fat_doc_rate=0.001, text_chars=7_530_000)
# resume_store's cost is mostly per-batch jobs, so fewer docs suffice
RESUME = CorpusSpec(n_docs=150, fat_doc_rate=0.001, text_chars=924_000)
# every run's cold (set-up) pass: a small corpus with a fixed seed, so
# set-up time is mostly JIT compilation and code generation
SETUP = CorpusSpec(n_docs=30, fat_doc_rate=0.001, text_chars=185_000)
STORE = WORK / "store"


def read_docs(spark, corpus: Corpus):
    return spark.read.parquet(corpus.path)


def extract_work(spark, corpus: Corpus) -> dict:
    from ocrspark.pipeline import extract

    return checksum(extract(read_docs(spark, corpus)))


def extract_verify(spark, corpus: Corpus, got: dict) -> bool:
    return matches(got, corpus.golden)


def resume_work(spark, corpus: Corpus, store=None, store_dir: Path | None = None):
    """Stop after one of two batches, then resume the pending half in one
    batch, into the same store."""
    from ocrspark.checkpoint import run_resumable
    from ocrspark.config import DEFAULT_BUCKETS
    from ocrspark.io import ParquetStore

    store_dir = store_dir or STORE / "pass"
    shutil.rmtree(store_dir, ignore_errors=True)
    store = store or ParquetStore(str(store_dir))
    docs = read_docs(spark, corpus)
    run_resumable(spark, docs, store, buckets=DEFAULT_BUCKETS, batches=2,
                  max_batches=1)
    run_resumable(spark, docs, store, buckets=DEFAULT_BUCKETS, batches=1)
    return store, store_dir


def store_problems(spark, corpus: Corpus, store) -> list[str]:
    """Differences between a completed store and the golden (empty = ok)."""
    from pyspark.sql import functions as F

    from ocrspark.config import DEFAULT_BUCKETS

    g = corpus.golden
    problems = []
    got = checksum(store.read_extractions(spark).drop("bucket"))
    if not matches(got, g):
        problems.append(f"store checksum {got} != golden {g}")
    cp = store.read_checkpoints(spark).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("bucket").alias("buckets"),
        F.sum("doc_count").alias("docs"),
        F.sum("task_count").alias("tasks"),
        F.sum("span_count").alias("spans"),
        F.sum(F.when(F.col("landed_task_count") == F.col("task_count"), 0)
              .otherwise(1)).alias("unlanded"),
    ).collect()[0]
    want = {"rows": DEFAULT_BUCKETS, "buckets": DEFAULT_BUCKETS, "docs": g["docs"],
            "tasks": g["rows"], "spans": g["spans"], "unlanded": 0}
    for k, v in want.items():
        if cp[k] != v:
            problems.append(f"checkpoints {k}={cp[k]} want {v}")
    return problems


def resume_verify(spark, corpus: Corpus, result) -> bool:
    store, store_dir = result
    try:
        problems = store_problems(spark, corpus, store)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    for p in problems:
        print(f"resume_store: {p}", file=sys.stderr, flush=True)
    return not problems


@dataclass(frozen=True)
class Workload:
    spec: CorpusSpec
    work: Callable  # (spark, corpus) -> result; the timed part of a pass
    verify: Callable  # (spark, corpus, result) -> bool; the untimed check


WORKLOADS = {
    "extract_typical": Workload(TYPICAL, extract_work, extract_verify),
    "resume_store": Workload(RESUME, resume_work, resume_verify),
}

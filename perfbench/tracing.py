"""Per-layer attribution, measured from outside each module's public function.

Extraction layers.  Prefix k applies the first k layer functions to the
corpus scan (``scan`` is the empty prefix; the last prefix is exactly
``pipeline.extract``).  Every prefix is run to a row-count sink on its own
physical plan (each row is produced and dropped, as a noop write does), in
its own job group, and the prefixes are interleaved round by round.  A
layer's value is the median over rounds of prefix k minus prefix k-1 in the
same round:

* ``self_s`` — wall seconds; ``cpu_s``, ``gc_s``, ``spill_mb`` — task
  metrics summed over the job group's stages;
* ``exchange_n``, ``sort_n``, ``window_n``, ``regexp_n`` — node counts from
  walking the prefix's executed (final, adaptive) plan tree;
* ``rows_out`` — rows leaving the layer (the sink's count).

``jvm.old_gen_peak_mb`` is the old generation's peak over the whole sweep.

Store layers.  One resumable run goes through ``TimedStore``, which times
each public store method; ``checkpoint.self_s`` is the run's wall time minus
those spans.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections import defaultdict
from pathlib import Path

import probes
from inputs import Corpus
from workloads import STORE, read_docs, resume_work, store_problems


LAYERS = ["stage1", "sessionize", "aggregate_tasks", "nest_per_doc",
          "select_tasks", "assemble"]
PER_LAYER_KEYS = ("self_s", "rows_out", "exchange_n", "sort_n", "window_n",
                  "regexp_n", "cpu_s", "gc_s", "spill_mb")
# fewest rounds a sweep makes, so per-layer medians do not telescope
MIN_ROUNDS = 3
STORE_METRICS = ["io.write_s", "io.landed_s", "io.checkpoint_append_s",
                 "io.checkpoint_read_s", "io.bytes_written_mb",
                 "checkpoint.self_s", "checkpoint.jobs_n"]
METRICS = (["scan.self_s", "extract.wall_s", "sessionize.shuffle_write_mb",
            "jvm.old_gen_peak_mb"]
           + [f"{n}.{k}" for n in LAYERS for k in PER_LAYER_KEYS] + STORE_METRICS)


def _layer_functions():
    """The public function of each layer in LAYERS, in the same order."""
    from ocrspark import assemble, segment, stage1

    return [stage1.stage1, segment.sessionize, segment.aggregate_tasks,
            segment.nest_per_doc, segment.select_tasks, assemble.assemble]


def _run_prefix(spark, corpus: Corpus, fns, group: str) -> dict:
    df = read_docs(spark, corpus)
    for fn in fns:
        df = fn(df)
    spark.sparkContext.setJobGroup(group, group)
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rows = qe.toRdd().count()
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    m = probes.group_stage_metrics(spark, group)
    m.update(wall_s=wall, rows=rows, plan=probes.plan_counts(qe.executedPlan()))
    return m


def sweep(spark, corpus: Corpus, seconds: float) -> tuple[dict, int]:
    """Interleaved prefix rounds for at least ``seconds``; (metrics, rounds)."""
    fns = _layer_functions()
    names = ["scan"] + LAYERS
    runs: list[list[dict]] = []
    heap = probes.OldGenPeak(spark)
    heap.reset()
    t_end = time.perf_counter() + seconds
    while len(runs) < MIN_ROUNDS or time.perf_counter() < t_end:
        r = len(runs)
        runs.append([
            _run_prefix(spark, corpus, fns[:k], f"perfbench:{names[k]}:{r}")
            for k in range(len(names))
        ])

    def delta(k: int, key: str) -> float:
        return statistics.median(rnd[k][key] - rnd[k - 1][key] for rnd in runs)

    last = runs[-1]
    out = {"scan.self_s": statistics.median(rnd[0]["wall_s"] for rnd in runs),
           "extract.wall_s": statistics.median(rnd[-1]["wall_s"] for rnd in runs),
           "jvm.old_gen_peak_mb": heap.read_mb()}
    for k in range(1, len(names)):
        n = names[k]
        out[f"{n}.self_s"] = delta(k, "wall_s")
        out[f"{n}.cpu_s"] = delta(k, "cpu_s")
        out[f"{n}.gc_s"] = delta(k, "gc_s")
        out[f"{n}.spill_mb"] = delta(k, "spill_mb")
        out[f"{n}.rows_out"] = last[k]["rows"]
        for node in ("exchange", "sort", "window", "regexp"):
            out[f"{n}.{node}_n"] = last[k]["plan"][node] - last[k - 1]["plan"][node]
    # the one hashpartitioning(doc_id) exchange is the only shuffle writer
    # in the sessionize prefix (the scan and stage1 prefixes write none)
    k = names.index("sessionize")
    out["sessionize.shuffle_write_mb"] = statistics.median(
        rnd[k]["shuffle_write_mb"] for rnd in runs)
    return out, len(runs)


class TimedStore:
    """Delegates to a store; accumulates wall seconds per public method."""

    TIMED = ("write_extractions", "read_extractions", "append_checkpoints",
             "read_checkpoints", "landed_per_bucket")

    def __init__(self, inner):
        self._inner = inner
        self.seconds: dict[str, float] = defaultdict(float)

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self.TIMED:
            return attr

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return attr(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0

        return timed


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


def traced_resume(spark, corpus: Corpus) -> tuple[dict, list[str]]:
    """One resumable run through TimedStore; (metrics, problems)."""
    from ocrspark.io import ParquetStore

    store_dir = STORE / "traced"
    store = TimedStore(ParquetStore(str(store_dir)))
    group = "perfbench:resume"
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    resume_work(spark, corpus, store=store, store_dir=store_dir)
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    jobs = probes.group_stage_metrics(spark, group)["jobs_n"]
    s = store.seconds
    out = {
        "io.write_s": s["write_extractions"],
        "io.landed_s": s["landed_per_bucket"],
        "io.checkpoint_append_s": s["append_checkpoints"],
        "io.checkpoint_read_s": s["read_checkpoints"],
        "io.bytes_written_mb": _dir_mb(store_dir),
        "checkpoint.self_s": wall - sum(s.values()),
        "checkpoint.jobs_n": jobs,
    }
    try:
        problems = store_problems(spark, corpus, store._inner)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    return out, problems

#!/usr/bin/env python3
"""ocrspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_typical --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root (or any checkout of it).  ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` measures the per-layer
metrics instead (see perfbench/README.md).  Human-readable lines come
first; the last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``.  Exits non-zero, printing no result, when the program is not
next to the benchmark or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
import traceback

import bootstrap
import calibrate
from workloads import RESUME, SETUP, WORKLOADS

# calibration jobs timed after every pass (see calibrate.py)
CALIBRATION_JOBS = 5
# fewest timed passes in a run, so the best pass is never the only one
MIN_PASSES = 2
E2E_UNITS = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s/kdoc", "setup_s": "s"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return args


def run_work(spark, corpus, work):
    """The timed part of a pass; None if it raised."""
    try:
        return work(spark, corpus)
    except Exception:
        traceback.print_exc()
        return None


def verified(spark, corpus, verify, result) -> bool:
    """The untimed check of a pass against the golden."""
    if result is None:
        return False
    try:
        return verify(spark, corpus, result)
    except Exception:
        traceback.print_exc()
        return False


def measure(spark, corpus, work, verify, seconds: float):
    """Back-to-back checked passes for ``seconds`` (at least MIN_PASSES),
    each followed by CALIBRATION_JOBS calibration jobs; (failed, per-pass
    lists).  Wall and CPU cover ``work`` only, not the check or the
    calibration; a pass's calibration time is the median of its jobs'."""
    import probes

    cpu = probes.ProcessCpu(spark)
    walls, cpus, calib, failed = [], [], [], 0

    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        c0, t0 = cpu.seconds(), time.perf_counter()
        result = run_work(spark, corpus, work)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu.seconds() - c0)
        failed += not verified(spark, corpus, verify, result)
        calib.append(statistics.median(
            calibrate.run_job(spark) for _ in range(CALIBRATION_JOBS)))
    return failed, {"pass_walls_s": walls, "pass_cpu_s": cpus,
                    "pass_calibration_s": calib}


def end_to_end(corpus, passes: dict, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the same without host-speed scaling.

    Throughput and CPU come from the run's best pass: other tenants of the
    host and the JIT's tail after set-up only ever add time to a pass.
    Wall times are scaled to reference host speed by the run's slowness,
    the median over its passes' calibrations."""

    kdocs = corpus.n_docs / 1000
    slowness = statistics.median(
        calibrate.slowness(c) for c in passes["pass_calibration_s"])
    raw = {
        "docs_per_s": max(corpus.n_docs / w for w in passes["pass_walls_s"]),
        "cpu_s_per_kdoc": min(passes["pass_cpu_s"]) / kdocs,
        "setup_s": setup_s,
        "slowness": slowness,
    }
    metrics = {
        "docs_per_s": raw["docs_per_s"] * slowness,
        "cpu_s_per_kdoc": raw["cpu_s_per_kdoc"],
        "setup_s": setup_s / slowness,
    }
    return metrics, raw


def main(argv=None) -> int:
    args = parse_args(argv)
    if not bootstrap.program_present():
        print(f"perfbench: no ocrspark package under {bootstrap.ROOT}",
              file=sys.stderr)
        return 2
    bootstrap.prepare_env()
    import inputs

    workload = WORKLOADS[args.workload]
    work, verify = workload.work, workload.verify
    spark, session_s = bootstrap.start_session()
    try:
        # Set-up ends with the first (cold) checked pass, which carries the
        # JIT compilation and code generation of the workload.  It runs on
        # a fixed corpus, cached from the first run in a checkout on, so
        # the JVM has done the same before it whether or not this seed's
        # corpus is cached.
        setup_corpus = inputs.load(spark, inputs.SETUP_SEED, SETUP)
        t0 = time.perf_counter()
        result = run_work(spark, setup_corpus, work)
        cold_s = time.perf_counter() - t0
        setup_failed = int(not verified(spark, setup_corpus, verify, result))
        for _ in range(CALIBRATION_JOBS):  # untimed: JIT-compile the job
            calibrate.run_job(spark)
        t0 = time.perf_counter()
        corpus = inputs.load(spark, args.seed, workload.spec)
        inputs_s = time.perf_counter() - t0
        record = dict(bootstrap.host_record(spark), workload=args.workload,
                      seed=args.seed, seconds=args.seconds, trace=args.trace,
                      corpus_seed=corpus.corpus_seed, n_docs=corpus.n_docs,
                      n_spans=corpus.n_spans, text_chars=corpus.text_chars,
                      session_s=session_s, inputs_s=inputs_s, cold_pass_s=cold_s)
        if args.trace:
            import tracing

            metrics, rounds = tracing.sweep(spark, corpus, args.seconds)
            # the store layers are measured on resume_store's corpus in
            # every traced run: on the larger extract corpus the traced
            # resume would double the run's length
            store_corpus = inputs.load(spark, args.seed, RESUME)
            store_metrics, problems = tracing.traced_resume(spark, store_corpus)
            metrics.update(store_metrics)
            for p in problems:
                print(f"resume (traced): {p}", file=sys.stderr)
            attempted = 2
            failed = setup_failed + bool(problems)
            units = {k: layer_unit(k) for k in tracing.METRICS}
            metrics = {k: metrics[k] for k in tracing.METRICS}
            self_sum = metrics["scan.self_s"] + sum(
                metrics[f"{n}.self_s"] for n in tracing.LAYERS)
            record.update(sweep_rounds=rounds, self_s_sum=self_sum)
        else:
            failed, passes = measure(spark, corpus, work, verify, args.seconds)
            metrics, raw = end_to_end(corpus, passes, session_s + cold_s)
            attempted = 1 + len(passes["pass_walls_s"])
            failed += setup_failed
            units = E2E_UNITS
            record.update(passes, raw=raw)
    finally:
        bootstrap.stop_session(spark)

    print("env " + json.dumps(record))
    print(f"fail_ratio {failed / attempted:.4f} ({failed} of {attempted} checked passes)")
    for k in units:
        print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

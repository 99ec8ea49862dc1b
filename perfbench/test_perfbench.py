"""Self-checks of the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import time

import pytest

import bootstrap
import run
import tracing
from workloads import WORKLOADS

# Node counts of the full extract plan as recorded in
# plans/r07/extract_after.txt (Exchange 1, Sort 2, Window 4,
# regexp_replace 26).
RECORDED_EXTRACT = {"exchange": 1, "sort": 2, "window": 4, "RegExpReplace": 26}


@pytest.fixture(scope="module")
def spark():
    bootstrap.prepare_env()
    session, _ = bootstrap.start_session()
    yield session
    bootstrap.stop_session(session)


def test_plan_walker_matches_recorded_extract_plan(spark):
    import probes
    from ocrspark.corpus import generate_docs
    from ocrspark.pipeline import extract

    qe = extract(generate_docs(spark, 200, seed=42))._jdf.queryExecution()
    before = probes.plan_counts(qe.executedPlan())
    assert not probes.is_final_plan(qe.executedPlan())
    assert qe.toRdd().count() > 0
    assert probes.is_final_plan(qe.executedPlan())
    after = probes.plan_counts(qe.executedPlan())
    for counts in (before, after):
        got = {k: counts[k] for k in RECORDED_EXTRACT}
        assert got == RECORDED_EXTRACT
    # adaptive execution changes none of the counted nodes
    assert after == before


def test_benchmark_json_lists_what_the_benchmark_prints():
    spec = json.loads((bootstrap.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: run.layer_unit(k) for k in tracing.METRICS}


def test_old_gen_peak_reads_a_positive_size(spark):
    import probes

    heap = probes.OldGenPeak(spark)
    heap.reset()
    spark.range(100_000).selectExpr("sum(id)").collect()
    assert heap.read_mb() > 0


def test_timed_store_times_only_store_methods():
    class Inner:
        root = "somewhere"

        def write_extractions(self, df):
            time.sleep(0.01)
            return df

    store = tracing.TimedStore(Inner())
    assert store.write_extractions("df") == "df"
    assert store.root == "somewhere"
    assert set(store.seconds) == {"write_extractions"}
    assert store.seconds["write_extractions"] >= 0.01
    assert not hasattr(store, "landed_per_bucket")

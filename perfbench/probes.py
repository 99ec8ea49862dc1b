"""Read-only probes into the driver JVM, reached through py4j.

Everything here observes from outside the program under test:

* ``ProcessCpu`` — the driver JVM's process CPU time;
* ``OldGenPeak`` — peak use of the old-generation heap pool between a reset
  and a read;
* ``group_stage_metrics`` — task metrics summed over the stages of every job
  in a job group, from Spark's application status store;
* ``plan_counts`` — node counts from walking a physical plan tree
  (operators and their expression trees), descending through adaptive
  query execution wrappers into the current (after execution: final) plan.
"""

from __future__ import annotations

from collections import Counter

EXCHANGE_NODES = {"ShuffleExchangeExec", "BroadcastExchangeExec"}
SORT_NODES = {"SortExec"}
WINDOW_NODES = {"WindowExec"}
# old-generation pool names of the Parallel, G1 and Serial collectors
OLD_GEN_POOLS = ("Old Gen", "Tenured Gen")
# expression classes that run a regex engine over their input
REGEX_EXPRESSIONS = {
    "RLike", "RegExpReplace", "RegExpExtract", "RegExpExtractAll",
    "RegExpInStr", "RegExpCount", "RegExpSubStr", "StringSplit",
}


class ProcessCpu:
    """The driver JVM's process CPU time.  The platform bean's class is not
    exported, so its method is invoked through the exported interface."""

    def __init__(self, spark):
        jvm, gw = spark._jvm, spark.sparkContext._gateway
        iface = jvm.java.lang.Class.forName("com.sun.management.OperatingSystemMXBean")
        self._method = iface.getMethod(
            "getProcessCpuTime", gw.new_array(jvm.java.lang.Class, 0))
        self._bean = jvm.java.lang.management.ManagementFactory.getOperatingSystemMXBean()
        self._no_args = gw.new_array(jvm.java.lang.Object, 0)

    def seconds(self) -> float:
        return self._method.invoke(self._bean, self._no_args) / 1e9


class OldGenPeak:
    """Peak old-generation use over an interval: reset, run, read.

    The young pools are left out: within an allocation-heavy pass the eden
    peak is eden's capacity, whatever the program keeps.  What survives
    young collections is promoted to the old generation, so its peak
    follows the memory the program retains (plus promoted garbage not yet
    collected)."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        pools = mf.getMemoryPoolMXBeans()
        self._pools = [pools.get(i) for i in range(pools.size())
                       if pools.get(i).getName().endswith(OLD_GEN_POOLS)]
        if not self._pools:
            raise RuntimeError("no old-generation heap pool found")

    def reset(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def read_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2**20


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def drain_listeners(spark) -> None:
    """Block until the listener bus has delivered every event so far, so the
    status store holds complete metrics for finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum task metrics over the stages of every job in ``group``."""
    sc = spark.sparkContext
    drain_listeners(spark)
    store = sc._jsc.sc().statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for job_id in job_ids:
        stage_ids.update(_seq(store.job(job_id).stageIds()))
    out = {"jobs_n": len(job_ids),
           "cpu_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0, "shuffle_write_mb": 0.0}
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
    return out


def _walk_expression(expr, counts: Counter) -> None:
    stack = [expr]
    while stack:
        e = stack.pop()
        name = e.getClass().getSimpleName()
        if name in REGEX_EXPRESSIONS:
            counts["regexp"] += 1
            counts[name] += 1
        stack.extend(_seq(e.children()))


def plan_counts(jplan) -> Counter:
    """Count exchange, sort, window and regex nodes in a physical plan.

    ``jplan`` is a JVM SparkPlan, e.g.
    ``df._jdf.queryExecution().executedPlan()``.  Adaptive plans are walked
    through ``executedPlan()`` (the final plan once the query has run) and
    query stages through their wrapped ``plan()``."""
    counts: Counter = Counter()
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name in EXCHANGE_NODES:
            counts["exchange"] += 1
        elif name in SORT_NODES:
            counts["sort"] += 1
        elif name in WINDOW_NODES:
            counts["window"] += 1
        for expr in _seq(node.expressions()):
            _walk_expression(expr, counts)
        stack.extend(_seq(node.children()))
    return counts


def is_final_plan(jplan) -> bool:
    return (jplan.getClass().getSimpleName() != "AdaptiveSparkPlanExec"
            or bool(jplan.isFinalPlan()))

"""SparkSession factory with scale-oriented defaults.

Tuned for the 100TB design point, scaled to local[*] testing:
  * AQE on (runtime coalescing + skew-join splitting), 128 MB input splits
    and Arrow batches capped at 10,000 records so a fat doc's spans never
    blow an executor: all Spark 4.1 defaults, so they are not set here
    (``tests/test_plan.py::test_relied_on_spark_defaults`` pins them),
  * shuffle partitions sized to cores locally (any other master: 200),
  * post-shuffle partitions sized by CPU, not bytes: the extract spends
    ~4.4 CPU-s per shuffled MB (``extract_typical``'s 4.4 MB doc_id exchange
    feeds ~19 CPU-s), so AQE's 1 MB minimum would fold a 75-doc batch's
    ~0.28 MB shuffle into one task on one core.  At 64 KB a partition is
    at least ~0.3 CPU-s of work, and a batch of that size keeps every
    local core busy.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# smallest post-shuffle partition AQE coalesces to (see the module docstring)
MIN_PARTITION_SIZE = "64k"


def get_spark(app: str = "ocrspark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("OCRSPARK_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = cores if inner == "*" else max(int(inner), 4)
        else:
            shuffle_partitions = 200
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Oracle parity for timestamp_ltz casts must not depend on the host
        # timezone (events sessionize/window queries interpret NTZ parquet ts).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                MIN_PARTITION_SIZE)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("OCRSPARK_DRIVER_MEM", "8g"))
        # This pipeline is allocation-heavy (regex chains over short strings);
        # G1's GCLocker contention throttles 32-thread local mode — ParallelGC
        # measured 45% faster at local[32] and is required to hit the >=0.8
        # N->4N scaling efficiency target.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # bucketed-table writes (streaming.dedup_ingest's landed table) go
        # through the session catalog; keep the warehouse out of the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("OCRSPARK_WAREHOUSE", "/tmp/ocrspark_warehouse"))
    )
    return b.getOrCreate()


def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize a Column-tree builder per live gateway JVM.

    Every ``pyspark.sql.functions`` call is a py4j round trip, so building
    extract's expression trees costs thousands of them per DataFrame while
    the executors idle.  The trees hold only unresolved names, so one build
    serves every DataFrame of the JVM; the builder's arguments are part of
    the key (each variant gets its own trees) and so is
    ``SparkContext._jvm``, so a restarted gateway rebuilds instead of
    handing out references into a dead JVM.  Every caller gets the same
    result objects, so callers only read them."""
    cached = functools.cache(lambda jvm, *args: build(*args))

    @functools.wraps(build)
    def memoized(*args):
        return cached(SparkContext._jvm, *args)

    return memoized

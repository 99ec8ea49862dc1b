"""Partitioning helpers: output buckets and co-located bucketed tables.

Skew: the pipeline's one exchange is ``hashpartitioning(doc_id)`` for the
sessionization window, which needs each whole doc in order (running max /
cumsum), so a fat doc rides its one window partition — a 100k-span doc is
~10 MB, bounded like the reference's per-doc Python lists — and AQE
partition coalescing absorbs the residual imbalance.  Stage 1 is narrow
and runs in the input splits.  Salting doc_id is not used: a salted
repartition after the explode would add a second exchange in front of the
``hash(doc_id)`` window.

* ``with_bucket``/``bucket_of``: the Iceberg-style ``bucket(N, doc_id)``
  partition column used for checkpointed writes.
* ``write_bucketed``: bucketed+sorted tables for shuffle-free joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT_BUCKETS


def bucket_of(col, buckets: int = DEFAULT_BUCKETS):
    """Deterministic doc bucket: pmod(xxhash64(doc_id), N) — the parquet
    fallback's stand-in for Iceberg's bucket(N, doc_id) transform."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def with_bucket(df: DataFrame, buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", bucket_of(F.col("doc_id"), buckets))


def write_bucketed(df: DataFrame, table: str, key: str = "doc_id",
                   buckets: int = DEFAULT_BUCKETS) -> None:
    """Persist as a Spark bucketed+sorted table so later equi-joins and
    aggregations on ``key`` are exchange-free.

    This is the co-located-join path for 100 TB: two tables bucketed by
    the same key with the same bucket count sort-merge-join with ZERO
    shuffle of either side (asserted in test_plan) — the join that
    dominates repeated pipeline runs (extractions x catalog, spans x
    tasks) is paid once at write time instead of per query.
    """
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(buckets, key).sortBy(key).saveAsTable(table))

"""Partitioning helpers: the output bucket of each document.

Skew: the pipeline's one exchange is ``hashpartitioning(doc_id)`` for the
sessionization window, which needs each whole doc in order (running max /
cumsum), so a fat doc rides its one window partition — a 100k-span doc is
~10 MB, bounded like the reference's per-doc Python lists — and AQE
partition coalescing absorbs the residual imbalance.  Stage 1 is narrow
and runs in the input splits.  Salting doc_id is not used: a salted
repartition after the explode would add a second exchange in front of the
``hash(doc_id)`` window.

``with_bucket``/``bucket_of`` give the Iceberg-style ``bucket(N, doc_id)``
partition column used for checkpointed writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_of(col, buckets: int):
    """Deterministic doc bucket: pmod(xxhash64(doc_id), N) — the parquet
    fallback's stand-in for Iceberg's bucket(N, doc_id) transform."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def with_bucket(df: DataFrame, buckets: int) -> DataFrame:
    return df.withColumn("bucket", bucket_of(F.col("doc_id"), buckets))


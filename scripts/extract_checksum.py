#!/usr/bin/env python
"""Order-independent checksum of extract()'s full output on the bench corpus.

Used to prove optimization steps output-identical at sf scale (the oracle
checks sf0.001/sf0.01; this covers the 60k-doc bench corpus too).  The
corpus is ``scaling_job.cached_corpus``'s, built on first use.

Environment: ``OCRSPARK_CHECK_N`` docs (default 60000),
``OCRSPARK_CHECK_ARROW`` unset or ``0`` for the native stage 1, ``1`` for
the Arrow stage 1; ``SPARK_GRAFT_CPUS`` local threads (default 32).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from ocrspark.pipeline import extract  # noqa: E402
from ocrspark.session import get_spark  # noqa: E402
from scaling_job import cached_corpus  # noqa: E402


def _arrow_switch() -> bool:
    """``OCRSPARK_CHECK_ARROW``: unset or "0" -> native, "1" -> Arrow."""
    v = os.environ.get("OCRSPARK_CHECK_ARROW", "0")
    if v not in ("0", "1"):
        raise ValueError(f"OCRSPARK_CHECK_ARROW must be 0 or 1, got {v!r}")
    return v == "1"


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("OCRSPARK_CHECK_N", "60000"))
    arrow = _arrow_switch()
    os.environ.setdefault("OCRSPARK_DRIVER_MEM", "48g")
    spark = get_spark(app="extract-checksum", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    docs = cached_corpus(spark, n)
    out = extract(docs, arrow=arrow)
    row = out.select(
        F.xxhash64(*[F.col(c) for c in out.columns]).alias("h"),
        F.crc32(F.to_json(F.struct(*out.columns))).alias("j"),
    ).agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("hsum"),
        F.count(F.lit(1)).alias("rows"),
        F.sum("j").alias("jsum"),
    ).collect()[0]
    print(f"rows={row['rows']} hsum={row['hsum']} jsum={row['jsum']}")
    spark.stop()


if __name__ == "__main__":
    main()

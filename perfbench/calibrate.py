"""A fixed calibration job that measures how fast the host runs right now.

The job uses no ``ocrspark`` code: a regex and hashing chain over generated
strings, in one task per core, with no shuffle that the program's settings
could resize.  It is timed right after every pass of a run.  ``slowness``
is its wall time over the reference time: 1.0 on the reference host at its
usual speed, above 1.0 while the host runs slower, for instance while other
tenants hold its cores.  Wall-time metrics are reported at reference speed
(see README.md, "Host-speed scaling").
"""

from __future__ import annotations

import time

from bootstrap import NPROC

# rows per calibration job, and its median wall seconds on the reference host
ROWS = 200_000
REFERENCE_S = 0.35


def run_job(spark) -> float:
    """Wall seconds of one calibration job (a new plan every call)."""
    from pyspark.sql import functions as F

    text = F.concat(F.lit("Task "), F.col("id").cast("string"),
                    F.lit(": solve for x. (a) 3x+1 = 7   (b) see Fig. "),
                    (F.col("id") % 97).cast("string"))
    out = F.regexp_replace(F.regexp_replace(text, r"\s+", " "),
                           r"\(([a-z])\)", "[$1]")
    df = spark.range(0, ROWS, 1, NPROC).select(
        F.xxhash64(out, F.upper(out), F.length(out)).alias("h"))
    t0 = time.perf_counter()
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("h").cast("decimal(38,0)")).alias("s")).collect()[0]
    wall = time.perf_counter() - t0
    if row["n"] != ROWS:
        raise RuntimeError(f"calibration job saw {row['n']} rows, want {ROWS}")
    return wall


def slowness(wall: float) -> float:
    """A calibration wall time over REFERENCE_S."""
    return wall / REFERENCE_S

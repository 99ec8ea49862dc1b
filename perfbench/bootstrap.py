"""Process environment, Spark session and host record for one benchmark run.

Every scratch location (temp files, Spark local dirs, warehouse, caches) is
under ``WORK`` inside the checkout, and the checkout root is put on the
Python workers' path so ``mapInPandas`` workers can import ``ocrspark``
whatever the current directory is.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shlex
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
# fits a 15 GB host with room for the Python workers and the page cache
DRIVER_MEMORY = "4g"


def program_present() -> bool:
    return (ROOT / "ocrspark" / "__init__.py").is_file()


def prepare_env() -> None:
    """Point scratch locations into WORK and put ROOT on the driver's and
    workers' import path; must run before the JVM starts."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["OCRSPARK_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ["OCRSPARK_DRIVER_MEM"] = DRIVER_MEMORY
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path.insert(0, str(ROOT))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.defaultJavaOptions={java_opts}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session():
    """Start the program's own session factory; returns (spark, seconds)."""
    from ocrspark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _git_sha() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = ROOT / ".git" / ref[5:]
    return ref_file.read_text().strip() if ref_file.is_file() else None


def source_sha() -> str:
    """Content hash of the program under test (works without git)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "ocrspark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def host_record(spark) -> dict:
    conf = spark.conf
    return {
        "nproc": NPROC,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "adaptive_coalesce": conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
        "driver_memory": conf.get("spark.driver.memory"),
        "git_sha": _git_sha(),
        "source_sha": source_sha(),
    }

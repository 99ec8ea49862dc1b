#!/usr/bin/env python
"""Dump .explain("formatted") for the bench queries into plans/<tag>/.

The extract plans are of ``scaling_job.cached_corpus``'s 2,000-doc bench
corpus, built on first use.

Usage: python scripts/dump_plans.py <tag> [suffix]   (e.g. r07 before)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from ocrspark.ops import dedup, similarity, textstats  # noqa: E402
from ocrspark.pipeline import extract  # noqa: E402
from ocrspark.session import get_spark  # noqa: E402
from scaling_job import cached_corpus  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r07"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app="dump-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = cached_corpus(spark, 2000)

    def tbl(name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    queries = {
        "extract": lambda: extract(docs),
        "extract_arrow_stage1": lambda: extract(docs, arrow=True),
        "dedup_minhash": lambda: dedup.minhash_dedup(tbl("documents"), threshold=0.2),
        "dedup_simhash": lambda: dedup.simhash(tbl("documents")),
        "ann_cosine_topk": lambda: similarity.cosine_topk(tbl("embeddings")),
        "text_stats": lambda: textstats.quality_score(tbl("documents"))
        .join(textstats.token_stats(tbl("documents")), "doc_id"),
    }
    for name, fn in queries.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn().explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        print(f"wrote plans/{tag}/{name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()

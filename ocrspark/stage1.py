"""Stage 1: explode + vectorized Arrow text recovery.

The north star mandates "a vectorized pandas/Arrow UDF stage performs batched
PDF layout parsing and OCR-text recovery per document".  In this engine the
input is already layout-parsed spans (FIXTURES.md section 1), so stage 1 is
the deterministic OCR-artifact repair: control/zero-width char strip +
punctuation de-stutter (ancestor: /root/reference/scripts/extract_images.py:300).

Two interchangeable implementations with identical semantics:

* ``recover_arrow`` — ``mapInPandas`` (Arrow-batched pandas, the north-star
  shape; also where a real binary-PDF parse would live),
* ``recover_native`` — pure catalyst expressions (JVM codegen, no Python
  worker round-trip).  The pipeline defaults to native for throughput; the
  Arrow stage is selected with ``arrow=True``, and the declared query
  ``pipeline_extract_tasks_arrow`` and the ``bench.py`` row
  ``extract_arrow_stage1`` keep it in use.

Both are narrow (no shuffle).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config as C
from . import rules
from .schema import SPANS_FLAT_SCHEMA
from .session import per_jvm


def explode_spans(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> flat(doc_id, offset, kind, text, media_ref).

    ``inline`` keeps the span struct's own ``offset`` (positional identity,
    SURVEY.md W1) rather than relying on array order.
    """
    return docs.select("doc_id", F.inline("spans")).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )


@per_jvm
def _recover_columns() -> dict[str, Column]:
    return {
        "text": rules.recover_text(F.col("text")),
        "media_ref": F.coalesce("media_ref", F.lit("")),
    }


def recover_native(flat: DataFrame) -> DataFrame:
    return flat.withColumns(_recover_columns())


def recover_arrow(flat: DataFrame) -> DataFrame:
    """Arrow-batched recovery. Vectorized pandas str ops only (no row loop)."""
    control = re.compile(C.CONTROL_CHARS_RE)
    uws = re.compile(C.UNICODE_WS_RE)
    destutter = re.compile(C.DESTUTTER_RE)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            t = pdf["text"].fillna("")
            t = t.str.replace(control, "", regex=True)
            t = t.str.replace(uws, " ", regex=True)
            t = t.str.replace(destutter, r"\1", regex=True)
            pdf["text"] = t
            pdf["media_ref"] = pdf["media_ref"].fillna("")
            yield pdf

    return flat.select("doc_id", "offset", "kind", "text", "media_ref").mapInPandas(
        batches, schema=SPANS_FLAT_SCHEMA
    )


def stage1(docs: DataFrame, arrow: bool = False) -> DataFrame:
    flat = explode_spans(docs)
    return recover_arrow(flat) if arrow else recover_native(flat)

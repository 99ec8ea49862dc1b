"""G7: legacy short-task forward-merge — the grouped Arrow stage.

Reference semantics (/root/reference/old/taskseparation.py:29-66,
``taskvalidation``): walking tasks in order, when task *j* is invalid
(raw text < 100 chars) and task *j-1* contains a late task-heading match
("oppgave N" / "N (A)" at position >= 25), split task *j-1* at that match:
the tail moves in front of task *j* (prepended), the head keeps *j-1*'s
number and absorbs... (the reference swaps: tasks[j-1] = head + tasks[j];
tasks[j] = moved tail).  This is inherently sequential whole-document state —
exactly the one place SURVEY.md section 2.10 sanctions ``applyInPandas``.

The rebuild applies it at the *task-text* level as an optional
post-segmentation repair pass: input one row per (doc_id, task_number,
task_text), groups = one document, and each group runs the spec walk
``pyref.g7_merge`` — a bounded Python loop over the ~K tasks of a doc, never
over spans or docs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import pyref

MERGED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("task_number", T.StringType(), False),
    T.StructField("task_text", T.StringType(), True),
    T.StructField("was_merged", T.BooleanType(), False),
])


def _merge_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("task_order").reset_index(drop=True)
    # the spec walk itself (pyref.g7_merge), once per doc over its K tasks
    texts, merged = pyref.g7_merge(pdf["task_text"].fillna("").tolist())
    pdf["task_text"] = texts
    pdf["was_merged"] = merged
    return pdf[["doc_id", "task_number", "task_text", "was_merged"]]


def merge_short_tasks(tasks: DataFrame) -> DataFrame:
    """tasks(doc_id, task_number, task_text) -> repaired task texts.

    groupBy(doc_id).applyInPandas: one group = one document, memory bounded
    by the fattest doc's task texts.  Input is the *aggregated* task table
    (K rows per doc), so the Arrow transfer is tiny relative to span data.
    """
    with_order = tasks.withColumn(
        "task_order", F.col("task_number").cast("int")
    )
    return with_order.groupBy("doc_id").applyInPandas(
        lambda key, pdf: _merge_doc(pdf), schema=MERGED_SCHEMA
    )

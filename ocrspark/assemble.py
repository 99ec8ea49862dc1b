"""Stage 3: ordered span reassembly (higher-order functions, no UDF).

Output contract per task (FIXTURES.md section 4; web/OCRacle.html:283-310
renders images before the task text):

  spans = images (input-offset order) ++ texts (input-offset order),
  each text: label-strip (marker span only) -> admin-strip -> math-normalize,
  text spans empty after the chain are dropped, offsets re-based 0..n-1.

PERF (r7): the per-span text chain itself runs as a row-level codegen'd
projection in ``segment.aggregate_tasks`` (struct field ``out_text``) — array
lambdas here only reorder/filter/re-slice cheap field references.  (The
chain's regex cost is position-independent, so this is a guarantee — single
evaluation, codegen-visible — more than a wall-clock win; see
OPTIMIZATION_r07.md.)

Everything happens inside array lambdas on the one-row-per-doc aggregates —
no join, no extra shuffle; the final explode fans back out to one row per
(doc_id, task_number).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config as C
from . import rules
from .session import per_jvm


def output_spans(sp: Column) -> Column:
    """sp: offset-sorted array<struct<offset,kind,text,media_ref,out_text>>."""
    images = F.filter(sp, lambda x: x["kind"] == C.IMAGE_KIND)
    texts = F.filter(sp, lambda x: x["kind"] == C.TEXT_KIND)
    ordered = F.concat(images, texts)
    nonempty = F.filter(
        ordered,
        lambda x: ~((x["kind"] == C.TEXT_KIND) & (x["out_text"] == "")),
    )
    return F.transform(
        nonempty,
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["out_text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def assemble(segmented: DataFrame) -> DataFrame:
    """Per-doc task arrays -> extractions(doc_id, subject, exam_version,
    task_number, points, topic, task_text, task_text_html, was_merged,
    spans).

    Text-level outputs (topic/task_text/html) follow the reference's task
    chain (P8 identity -> P12 strip -> T1-T5 normalize -> P11 topic -> P13
    HTML); the span array stays the span-level truth (north-rule invariant).
    """
    per_task, per_output = _assemble_columns()
    exploded = segmented.select(
        "doc_id", "subject", "exam_version", "source_subject_code",
        F.explode("tasks").alias("t")
    )
    # NB: the two-select split is load-bearing for performance: task_text
    # and spans are referenced twice downstream (output + topic/html), so
    # CollapseProject keeps them as BOUND ATTRIBUTES computed once here —
    # a single fused select would inline the task_text chain into every
    # score slot of classify_topic's argmax CASE (measured: a ~660-node
    # regex expression tree per task row).
    return exploded.select(*per_task).select(*per_output)


@per_jvm
def _assemble_columns() -> tuple[tuple, tuple]:
    """assemble's two selects: the per-task columns, then the output."""
    task_text = rules.normalize_math(
        rules.strip_admin(rules.strip_label(F.col("t.task_text_raw"))),
        pre_squeezed=True,
    )
    per_task = (
        "doc_id",
        "subject",
        "exam_version",
        "source_subject_code",
        F.col("t.task_number").alias("task_number"),
        F.col("t.points").alias("points"),
        task_text.alias("task_text"),
        F.col("t.was_merged").alias("was_merged"),
        output_spans(F.col("t.sp")).alias("spans"),
    )
    para_sources = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == C.TEXT_KIND),
        lambda s: s["text"],
    )
    per_output = (
        "doc_id",
        "subject",
        "exam_version",
        "source_subject_code",
        "task_number",
        "points",
        rules.classify_topic(F.col("task_text")).alias("topic"),
        "task_text",
        rules.format_html(para_sources, F.col("points")).alias("task_text_html"),
        "was_merged",
        "spans",
    )
    return per_task, per_output

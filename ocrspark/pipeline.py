"""End-to-end extraction pipeline: stage1 -> segment -> assemble.

Single logical plan, one data-sized exchange (hash(doc_id) for the
sessionization window); everything downstream reuses that partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .assemble import assemble
from .segment import segment
from .stage1 import stage1


def extract(docs: DataFrame, arrow: bool = False,
            expected: DataFrame | None = None) -> DataFrame:
    """docs(doc_id, spans) -> extractions(doc_id, subject, exam_version,
    source_subject_code, task_number, points, topic, task_text,
    task_text_html, was_merged, spans).

    ``arrow`` runs stage1 as the Arrow twin; ``expected`` (doc_id,
    expected_tasks) is the optional small broadcast input for J6
    alignment.  Alias resolution and subject overrides compose on the
    output (``overrides``)."""
    flat = stage1(docs, arrow=arrow)
    return assemble(segment(flat, expected=expected))

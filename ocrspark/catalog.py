"""Catalog output shape: the reference's nested JSON contract.

The reference persists `subject -> {alternate_codes, topics, ignored_topics,
exams -> {version -> {source_subject_code, tasks: [...]}}}`
(/root/reference/scripts/object_handling.py:15-29; sample
/root/reference/exams.json).  This module rebuilds that consumable shape
from the flat extractions table:

* task ordering inside an exam = numeric-first sort key
  (object_handling.py:241-246 `_sort_key`: first integer, ties by string) —
  W6/W7 in SURVEY.md;
* task_text = the P13 HTML (the published catalog's task_text IS HTML,
  exams.json:21); topic = the P11 classifier column;
* source_subject_code = the exam's pre-merge filing code
  (object_handling.py:173-188);
* alternate_codes = sorted distinct observed source codes minus the
  canonical one (object_handling.py:88-101 set-merge semantics);
* topics = first-appearance-ordered distinct task topics (P6's mined list,
  deterministically: what the subject's tasks actually classify to),
  minus ignored topics (P7 `array_except`, task_processing.py:384-396);
* ignored_topics = optional per-subject input (S6 manual-override table),
  broadcast-joined.

All native expressions; one row per (subject, exam_version) with a nested
tasks array, or `to_json_catalog` for the exact JSON document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import config as C


def _task_sort_key(task_number):
    num = F.regexp_extract(task_number, "[0-9]+", 0)
    return F.when(num != "", num.cast("int")).otherwise(F.lit(2**31 - 1))


# The catalog aggregates build ONE nested row per subject/exam by design
# (the reference's exams.json is a single JSON document per subject), so
# their collect_lists are unbounded per key in principle.  These caps make
# that contract explicit at adversarial key skew: a pathological hot
# subject FAILS LOUD with the offending key in the error instead of
# silently building a multi-GB row (or OOMing a task).  Generous for the
# exam domain (real subjects carry tens of exams x tens of tasks).
CATALOG_MAX_TASKS_PER_EXAM = 50_000
CATALOG_MAX_EXAMS_PER_SUBJECT = 10_000


def exams_catalog(extractions: DataFrame) -> DataFrame:
    """extractions -> one row per (subject, exam_version) with ordered tasks,
    source_subject_code, and the exam's observed source codes / topics.

    Per-exam task volume is guarded BEFORE the nested row is built: a
    partial-agg ``groupBy.count`` (hot keys collapse map-side, the
    ``cap_by_key`` argument) feeds an in-plan ``raise_error`` when any
    (subject, exam_version) exceeds ``CATALOG_MAX_TASKS_PER_EXAM`` — the giant
    collect_list row is never materialized.  The count join-back is
    null-safe so NULL keys group exactly like the aggregation's."""
    media_refs = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == "image"),
        lambda s: s["media_ref"],
    )
    tasks = extractions.select(
        "subject",
        "exam_version",
        "source_subject_code",
        F.struct(
            _task_sort_key(F.col("task_number")).alias("_k"),
            # the reference's tie-break is the task_number STRING
            # (object_handling.py:241-246 `_sort_key`: (int, str(num)));
            # _k2 pins it ahead of the payload fields in the struct compare
            F.col("task_number").alias("_k2"),
            F.col("topic").alias("topic"),
            F.col("task_number").alias("task_number"),
            F.col("points").alias("points"),
            F.col("task_text_html").alias("task_text"),
            media_refs.alias("media_refs"),
        ).alias("t"),
    )
    # the guard lives INSIDE the join key (not a droppable payload
    # column) so column pruning can never optimize the raise away
    sizes = (
        tasks.groupBy("subject", "exam_version")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.when(
                F.col("_n") > CATALOG_MAX_TASKS_PER_EXAM,
                F.raise_error(F.concat(
                    F.lit("exams_catalog: (subject, exam_version)=("),
                    F.col("subject"), F.lit(", "), F.col("exam_version"),
                    F.lit(") has "), F.col("_n").cast("string"),
                    F.lit(f" tasks > cap {CATALOG_MAX_TASKS_PER_EXAM}"),
                )).cast("string"),
            ).otherwise(F.col("subject")).alias("_g_subject"),
            F.col("exam_version").alias("_g_exam_version"),
        )
    )
    tasks = tasks.join(
        sizes,
        tasks["subject"].eqNullSafe(F.col("_g_subject"))
        & tasks["exam_version"].eqNullSafe(F.col("_g_exam_version")),
    ).drop("_g_subject", "_g_exam_version")
    per_exam = tasks.groupBy("subject", "exam_version").agg(
        F.min("source_subject_code").alias("source_subject_code"),
        F.transform(
            F.array_sort(F.collect_list("t")),
            lambda t: t.dropFields("_k", "_k2"),
        ).alias("tasks"),
    )
    topics = F.array_distinct(
        F.filter(
            F.transform(F.col("tasks"), lambda t: t["topic"]),
            lambda t: t != C.UNKNOWN_TOPIC,
        )
    )
    return per_exam.withColumn("topics", topics)


def subjects_catalog(per_exam: DataFrame,
                     ignored: DataFrame | None = None) -> DataFrame:
    """exams_catalog rows -> one row per subject (the exams.json outer
    value): alternate_codes, topics (minus ignored), ignored_topics, exams.

    ``ignored``: optional small (subject, ignored_topics array<string>)
    override table (S6), broadcast-joined (J2 pattern).

    Per-subject exam count is guarded post-agg (the input is one
    ALREADY-AGGREGATED row per (subject, exam_version), each bounded by
    ``exams_catalog``'s task cap, so the map entries — not their payload
    — are the skew axis here): a subject exceeding
    ``CATALOG_MAX_EXAMS_PER_SUBJECT`` versions raises in-plan with the key
    named.
    """
    per_subject = per_exam.groupBy("subject").agg(
        F.array_sort(
            F.array_remove(
                F.array_distinct(F.collect_list("source_subject_code")),
                "",
            )
        ).alias("observed_codes"),
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("exam_version", "topics"))
                    ),
                    lambda e: e["topics"],
                )
            )
        ).alias("mined_topics"),
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("exam_version"),
                        F.struct(
                            F.col("source_subject_code"), F.col("tasks")
                        ).alias("exam"),
                    )
                )
            )
        ).alias("exams"),
    )
    per_subject = per_subject.withColumn(
        "exams",
        F.when(
            F.size(F.map_keys(F.col("exams"))) > CATALOG_MAX_EXAMS_PER_SUBJECT,
            F.raise_error(F.concat(
                F.lit("subjects_catalog: subject "), F.col("subject"),
                F.lit(" has "),
                F.size(F.map_keys(F.col("exams"))).cast("string"),
                F.lit(f" exam versions > cap {CATALOG_MAX_EXAMS_PER_SUBJECT}"),
            )),
        ).otherwise(F.col("exams")),
    )
    alternate = F.array_remove(F.col("observed_codes"), F.col("subject"))
    if ignored is not None:
        per_subject = per_subject.join(
            F.broadcast(
                ignored.select("subject",
                               F.col("ignored_topics").alias("_ign"))
            ),
            "subject",
            "left",
        )
        ign = F.coalesce(F.col("_ign"), F.array().cast("array<string>"))
    else:
        ign = F.array().cast("array<string>")
    return per_subject.select(
        "subject",
        alternate.alias("alternate_codes"),
        F.array_except(F.col("mined_topics"), ign).alias("topics"),
        ign.alias("ignored_topics"),
        "exams",
    )


def to_json_catalog(extractions: DataFrame,
                    ignored: DataFrame | None = None) -> DataFrame:
    """One JSON document per subject (the exams.json outer shape)."""
    per_subject = subjects_catalog(exams_catalog(extractions), ignored)
    return per_subject.select(
        "subject",
        F.to_json(
            F.struct("alternate_codes", "topics", "ignored_topics", "exams")
        ).alias("catalog_json"),
    )

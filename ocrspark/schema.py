"""Explicit schemas (the reference's implicit dict-shape, made static).

Input shape is authoritative from BASELINE.json ``input_hint``; the output
shape follows SURVEY.md section 1.2.  (Checkpoint rows are built by
``checkpoint.run_resumable``.)
"""

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType(), False),       # "text" | "image"
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    # document order; assumed unique per doc, and nothing checks it
    T.StructField("offset", T.IntegerType(), False),
])

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
])

# Exploded working shape (stage 1 + segmentation operate on this).
SPANS_FLAT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
])

EXTRACTIONS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("subject", T.StringType(), True),
    T.StructField("exam_version", T.StringType(), True),
    T.StructField("source_subject_code", T.StringType(), True),  # pre-merge
    T.StructField("task_number", T.StringType(), False),
    T.StructField("points", T.IntegerType(), True),
    T.StructField("topic", T.StringType(), True),           # P11 classifier
    T.StructField("task_text", T.StringType(), True),       # post-G7 plain text
    T.StructField("task_text_html", T.StringType(), True),  # P13 template
    T.StructField("was_merged", T.BooleanType(), True),     # G7 touched text
    T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
])

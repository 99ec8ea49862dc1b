"""Multimodal plumbing: opaque binary media columns with typed metadata.

At 10^12-doc scale pixel payloads never ride through the extraction shuffle —
documents carry ``media_ref`` strings (the reference's PNG filename contract,
/root/reference/scripts/extract_images.py:256-284) and media bytes live in
their own table keyed by media_ref.

The decode step is STUBBED (this container ships no image/audio codecs): the
Spark-side plumbing — schema, Arrow batching, partitioning — is real and
tested with a deterministic fake decoder; swap ``fake_decode`` for a real
codec on a cluster by passing ``decoder=``.  The fake decoder's constants
are also those of its DuckDB twin in ``__spark_entry__``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


# fake_decode's sides in pixels: (digest byte % FAKE_SIDE_STEPS + 1) * FAKE_SIDE_PX
FAKE_SIDE_STEPS = 64
FAKE_SIDE_PX = 32


def fake_decode(refs: pd.Series, payloads: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for an image decode + feature extraction.

    Pure function of (media_ref, payload bytes): 'dimensions' and an 8-dim
    'feature' derived from sha256 — vectorized, reproducible, codec-free.
    """
    digests = refs.fillna("").map(lambda r: hashlib.sha256(r.encode()).digest())
    arr = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(len(refs), 32)
    widths = (arr[:, 0].astype(np.int32) % FAKE_SIDE_STEPS + 1) * FAKE_SIDE_PX
    heights = (arr[:, 1].astype(np.int32) % FAKE_SIDE_STEPS + 1) * FAKE_SIDE_PX
    nbytes = payloads.map(lambda b: len(b) if b is not None else 0).astype("int64")
    feats = (arr[:, 2:10].astype(np.float32) / 255.0)
    return pd.DataFrame({
        "media_ref": refs,
        "width": widths,
        "height": heights,
        "n_bytes": nbytes,
        "feature": list(feats),
    })


def real_decode(refs: pd.Series, payloads: pd.Series) -> pd.DataFrame:
    """Codec-backed decode when a codec is available (PIL probe).

    Deterministic features from the REAL pixels: (width, height) from the
    decoded image, n_bytes from the payload, feature = 8-bin grayscale
    histogram (mass-normalized).  Reference parity: the pixel-domain
    figure heuristics this feeds (monochrome test / contour crops,
    /root/reference/scripts/extract_images.py:287-363) all start from
    exactly these dims+histogram primitives.  The per-image decode loop
    is the codec's own boundary — batching/vectorization lives at the
    Arrow transfer around it (``extract_media_features``).

    The sandbox ships no codecs, so absent PIL this raises
    NotImplementedError (the documented seam); ``fake_decode`` is the
    codec-free twin with identical schema.
    """
    try:
        from PIL import Image
    except ImportError as e:  # the sandbox case — seam stays honest
        raise NotImplementedError(
            "image codecs are not available in this environment; "
            "pass decoder=fake_decode or provide a codec-backed decoder"
        ) from e
    import io

    widths, heights, nbytes, feats = [], [], [], []
    for payload in payloads:
        if payload is None:
            widths.append(None); heights.append(None)
            nbytes.append(0); feats.append(None)
            continue
        # fail-soft per ROW, not per batch: at corpus scale some corrupt
        # payloads are certain, and one undecodable image must degrade to
        # a null-feature row instead of failing the whole Arrow batch ->
        # task -> (after retries) job (ADVICE r4).  Null (width, height,
        # feature) with real n_bytes IS the error signature — downstream
        # filters on feature IS NULL to quarantine.
        try:
            img = Image.open(io.BytesIO(bytes(payload)))
            w, h = img.width, img.height
            hist = np.asarray(img.convert("L").histogram(), dtype=np.float64)
            bins = hist.reshape(8, 32).sum(axis=1)
            feat = (bins / max(bins.sum(), 1.0)).astype(np.float32)
        except Exception:
            widths.append(None); heights.append(None)
            nbytes.append(len(payload)); feats.append(None)
            continue
        widths.append(w)
        heights.append(h)
        nbytes.append(len(payload))
        feats.append(feat)
    return pd.DataFrame({
        "media_ref": refs,
        "width": pd.array(widths, dtype="Int32"),
        "height": pd.array(heights, dtype="Int32"),
        "n_bytes": pd.array(nbytes, dtype="Int64"),
        "feature": feats,
    })


def extract_media_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """media(media_ref string, payload binary) -> typed feature rows.

    Arrow-batched ``mapInPandas``; batch shape bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch so a partition of large
    payloads cannot blow executor memory.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield decoder(pdf["media_ref"], pdf.get("payload"))

    cols = media.select("media_ref", *(
        [F.col("payload")] if "payload" in media.columns else [F.lit(None).cast("binary").alias("payload")]
    ))
    return cols.mapInPandas(batches, schema=MEDIA_FEATURES_SCHEMA)


def media_inventory(extractions: DataFrame) -> DataFrame:
    """Per-task media inventory: J5 duplicate-figure suppression + A5
    sequence numbering + T13 filename synthesis.

    J5 (scripts/extract_images.py:267-273 — a new figure matching an
    existing one is skipped): at span level, one inventory row per distinct
    (doc, task, media_ref), keeping the first occurrence's position.
    T13 (extract_images.py:265): {subject}_{version}_{task}_{seq}.png.
    """
    imgs = (
        extractions.select(
            "doc_id", "subject", "exam_version", "task_number",
            F.explode("spans").alias("s"),
        )
        .filter(F.col("s.kind") == "image")
        .select("doc_id", "subject", "exam_version", "task_number",
                F.col("s.media_ref").alias("media_ref"),
                F.col("s.offset").alias("off"))
    )
    firsts = imgs.groupBy(
        "doc_id", "subject", "exam_version", "task_number", "media_ref"
    ).agg(F.min("off").alias("off"))
    w = Window.partitionBy("doc_id", "task_number").orderBy("off")
    return firsts.select(
        "doc_id", "task_number", "media_ref",
        (F.row_number().over(w) - 1).alias("seq"),
        F.format_string(
            "%s_%s_%s_%d.png",
            F.col("subject"), F.col("exam_version"), F.col("task_number"),
            F.row_number().over(w) - 1,
        ).alias("filename"),
    )

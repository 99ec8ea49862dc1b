"""Skew + ordering robustness tests.

* span-order scramble: W1 says `offset` is the identity — the pipeline must
  not depend on array or row order anywhere.
* fat-doc skew: the bench profile's oversized docs (the north star's skew
  scenario) go through the same plan and match the spec exactly.
"""

from pyspark.sql import functions as F

from ocrspark import pyref
from ocrspark.corpus import generate_docs, make_doc
from ocrspark.pipeline import extract
from ocrspark.schema import DOCS_SCHEMA


def _canon(df):
    return df.select("doc_id", "subject", "exam_version", "task_number",
                     "points", F.to_json("spans").alias("sj"))


def test_span_order_scramble(spark):
    """Scrambling the spans array (and exploding row order with it) must not
    change the output."""
    docs = generate_docs(spark, 15, seed=21)
    scrambled = docs.withColumn(
        "spans",
        F.expr("array_sort(spans, (a, b) -> "
               "CASE WHEN pmod(hash(a.offset), 7) < pmod(hash(b.offset), 7) THEN -1 "
               "WHEN pmod(hash(a.offset), 7) > pmod(hash(b.offset), 7) THEN 1 ELSE 0 END)"),
    )
    a = _canon(extract(docs))
    b = _canon(extract(scrambled))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_fat_doc_skew_matches_spec(spark):
    """Force every doc fat (40-90 tasks, 8-25x body scale) and check exact
    span-sequence equality against the pyref spec."""
    n = 4
    docs = generate_docs(spark, n, seed=33, fat_doc_rate=1.0)
    got = {(r.doc_id, r.task_number): r for r in extract(docs).collect()}
    n_spans = 0
    for i in range(n):
        doc_id, spans = make_doc(33, i, fat_doc_rate=1.0)
        n_spans += len(spans)
        out = pyref.extract_doc(doc_id, spans)
        for t in out.tasks:
            r = got.pop((doc_id, t.task_number))
            assert r.points == t.points
            assert [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] == \
                   [(s.kind, s.text, s.media_ref, s.offset) for s in t.spans]
    assert not got  # no extra tasks
    assert n_spans > 4000  # genuinely fat


def test_single_doc_all_noise(spark):
    """A doc that is pure admin noise emits zero tasks, not an error."""
    spans = [
        {"kind": "text", "text": "Etter eksamen finner du besvarelsen din i arkivet i Inspera.",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "Varslinger vil bli gitt via Inspera.", "media_ref": "", "offset": 1},
    ]
    docs = spark.createDataFrame([{"doc_id": "noise", "spans": spans}], DOCS_SCHEMA)
    assert extract(docs).count() == 0
    assert pyref.extract_doc("noise", [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]).tasks == []


def test_curation_ops_partition_invariant(spark):
    """The curation ops' outputs must be pure functions of the data —
    identical under arbitrary repartitioning of the input (no dependence
    on partition count, row order, or physical layout)."""
    from ocrspark.ops import dedup, sampling, similarity, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs_r = docs.repartition(13)
    emb_r = emb.repartition(7)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pairs = dedup.ngram_jaccard_dedup(docs, threshold=0.2)
    pairs_r = dedup.ngram_jaccard_dedup(docs_r, threshold=0.2)
    assert rows(pairs) == rows(pairs_r)
    assert rows(dedup.components(pairs.select("doc1", "doc2"))) == \
        rows(dedup.components(pairs_r.select("doc1", "doc2")))
    assert rows(similarity.ivf_topk(emb)) == rows(similarity.ivf_topk(emb_r))
    assert rows(textstats.tfidf_topterms(docs)) == \
        rows(textstats.tfidf_topterms(docs_r))
    assert rows(sampling.mixture_weights(docs)) == \
        rows(sampling.mixture_weights(docs_r))
    assert rows(textstats.c4_line_filters(docs)) == \
        rows(textstats.c4_line_filters(docs_r))
    withtok = docs.withColumn(
        "n_tokens", F.regexp_count(F.col("text"), F.lit(r"\S+")))
    withtok_r = docs_r.withColumn(
        "n_tokens", F.regexp_count(F.col("text"), F.lit(r"\S+")))
    assert rows(sampling.pack_shards(withtok)) == \
        rows(sampling.pack_shards(withtok_r))


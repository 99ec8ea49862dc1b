"""Focused equivalence tests for the r7 optimization rewrites.

Each r7 change is a pure plan-shape/pass-count optimization that must be
RESULT-IDENTICAL to the shape it replaced; these tests pin that equivalence
against the straightforward (pre-r7) formulation, on data wide enough to
exercise the edge the rewrite reasons about.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocrspark import rules
from ocrspark.corpus import generate_docs
from ocrspark.segment import sessionize
from ocrspark.stage1 import stage1


def test_in_solution_single_sort_equals_per_task_window(spark):
    """r7 sessionize: in_solution is computed over the (doc, offset)
    ordering (running max of solution task_seqs) instead of a second
    (doc, task_seq, offset)-sorted window.  Equivalent because task_seq is
    non-decreasing in offset; assert against the old per-task window form
    on a corpus that contains solution sections."""
    flat = stage1(generate_docs(spark, 60, seed=7))
    got = sessionize(flat)
    w_doc = Window.partitionBy("doc_id").orderBy("offset")
    w_task = Window.partitionBy("doc_id", "task_seq").orderBy("offset")
    sol = rules.is_solution_start(F.col("kind"), F.col("text"))
    old = got.withColumn(
        "in_solution_old",
        F.max(sol.cast("int")).over(
            w_task.rowsBetween(Window.unboundedPreceding, 0)) == 1,
    )
    mismatch = old.filter(
        F.col("in_solution") != F.col("in_solution_old")).count()
    assert mismatch == 0
    # the corpus must actually exercise solution sections for this to bind
    assert got.filter(F.col("in_solution")).count() > 0


def test_sessionize_sorts_span_stream_once(spark, plan_nodes):
    """The r7 sessionize win itself: one Sort over the span stream (the
    (doc, offset) window order), counted by walking the executed plan."""
    nodes = plan_nodes(sessionize(stage1(generate_docs(spark, 60, seed=7))))
    assert nodes.count("Sort") == 1, nodes


def test_cosine_prenorm_equals_per_pair_form(spark):
    """r7 cosine_topk: per-vector norms hoisted out of the per-pair
    expression must reproduce the per-pair form bit-for-bit (same fold,
    same association, same rounding)."""
    from ocrspark.ops import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ce"))
    sim = F.round(
        S._dot(F.col("qe"), F.col("ce"))
        / (S._norm(F.col("qe")) * S._norm(F.col("ce"))), 9)
    pairs = (F.broadcast(q)
             .join(c, F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id", sim.alias("sim9")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim9").desc(), F.col("neighbor_id").asc())
    old = (pairs.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 10)
           .select("query_id", "rank", "neighbor_id",
                   F.round(F.col("sim9") * 1e9).cast("long").alias("sim_e9")))
    got = sorted(tuple(r) for r in S.cosine_topk(emb).collect())
    want = sorted(tuple(r) for r in old.collect())
    assert got == want and len(got) > 0


def test_extract_version_snippet_equals_full_scan(spark):
    """r7 extract_version: groups re-derived from the regexp_substr
    snippet must equal the two full-text extracts — including season+year,
    exercise fallback, and no-match rows."""
    from ocrspark import config as C

    rows = [
        ("a", "Eksamen våren 2023 i fysikk"),
        ("b", "HØST 2019 eksamen"),
        ("c", "kontinuasjon 2021 et cetera"),
        ("d", "Øving 7 innlevering"),
        ("e", "arbeidskrav 12 tekst"),
        ("f", "ingen versjon her"),
        ("g", "vår uten år og så Høsten 2020"),   # first season token unyeared
        ("h", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, doc_text string")
    season_old = F.regexp_extract(F.col("doc_text"), C.SEASON_RE, 1)
    year_old = F.regexp_extract(F.col("doc_text"), C.SEASON_RE, 2)
    exercise_old = F.regexp_extract(F.col("doc_text"), C.EXERCISE_RE, 2)
    old = (
        F.when(season_old != "",
               F.concat(F.upper(season_old.substr(1, 1)),
                        year_old.substr(-2, 2)))
        .when(exercise_old != "", F.concat(F.lit("ØVING "), exercise_old))
        .otherwise(F.lit("UNKNOWN"))
    )
    out = df.select(
        "doc_id",
        rules.extract_version(F.col("doc_text")).alias("got"),
        old.alias("want"),
    ).collect()
    for r in out:
        assert r.got == r.want, (r.doc_id, r.got, r.want)


def test_source_subject_code_from_bound_codes(spark):
    """r7 nest_per_doc: source_subject_code now reads element 0 of the
    bound subject-code match list; must equal the first-match
    regexp_extract incl. the no-match UNKNOWN case."""
    from ocrspark import config as C

    rows = [("a", "IFYT1001 og IMAA2012 nevnt"),
            ("b", "ingen koder her"),
            ("c", "tekst IMAX2022"),
            ("d", "")]
    df = spark.createDataFrame(rows, "doc_id string, doc_text string")
    first = F.regexp_extract(F.col("doc_text"), C.SUBJECT_CODE_RE, 1)
    want = F.when(first != "", first).otherwise(F.lit("UNKNOWN"))
    got = F.coalesce(
        F.get(rules.subject_codes(F.col("doc_text")), 0), F.lit("UNKNOWN"))
    for r in df.select(got.alias("got"), want.alias("want")).collect():
        assert r.got == r.want

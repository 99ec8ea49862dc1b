"""G7 short-task forward-merge (old/taskseparation.py:29-66 semantics)."""

from pyspark.sql import functions as F

from ocrspark import config as C
from ocrspark import pyref, rules
from ocrspark.corpus import generate_docs
from ocrspark.merge import merge_short_tasks
from ocrspark.segment import segment
from ocrspark.stage1 import stage1


def test_merge_short_tasks(spark):
    long_a = "x" * 30 + " se oppgave 7 for detaljer " + "y" * 60
    rows = [
        # doc1: task 2 invalid (<100 chars), task 1 has a late heading match
        ("d1", "1", long_a),
        ("d1", "2", "kort tekst"),
        ("d1", "3", "z" * 120),
        # doc2: nothing to merge
        ("d2", "1", "a" * 150),
        ("d2", "2", "b" * 150),
    ]
    df = spark.createDataFrame(rows, "doc_id string, task_number string, task_text string")
    out = {(r.doc_id, r.task_number): r for r in merge_short_tasks(df).collect()}

    split = long_a.lower().index("oppgave 7", 25)
    # reference swap: head + invalid-task text stays at j-1; tail moves to j
    assert out[("d1", "1")].task_text == long_a[:split] + "kort tekst"
    assert out[("d1", "2")].task_text == long_a[split:]
    assert out[("d1", "1")].was_merged and out[("d1", "2")].was_merged
    assert out[("d1", "3")].task_text == "z" * 120
    assert not out[("d1", "3")].was_merged
    assert out[("d2", "1")].task_text == "a" * 150
    assert not out[("d2", "1")].was_merged


def test_fold_equals_apply_in_pandas(spark):
    """Three-way agreement: the in-pipeline catalyst fold (segment merge=True),
    the sanctioned applyInPandas stage, and pyref.g7_merge all produce the
    same repaired raw texts on a corpus with glued-boundary docs."""
    docs = generate_docs(spark, 60, seed=21)
    seg_raw = segment(stage1(docs), merge=False)
    tasks = seg_raw.select("doc_id", F.explode("tasks").alias("t")).select(
        "doc_id",
        F.col("t.task_number").alias("task_number"),
        F.col("t.task_text_raw").alias("task_text"),
    )
    arrow = {(r.doc_id, r.task_number): (r.task_text, r.was_merged)
             for r in merge_short_tasks(tasks).collect()}

    seg_fold = segment(stage1(docs), merge=True)
    fold_rows = seg_fold.select("doc_id", F.explode("tasks").alias("t")).select(
        "doc_id",
        F.col("t.task_number").alias("task_number"),
        F.col("t.task_text_raw").alias("task_text"),
        F.col("t.was_merged").alias("was_merged"),
    ).collect()
    assert len(fold_rows) == len(arrow) > 0
    assert any(r.was_merged for r in fold_rows)  # corpus exercises G7
    for r in fold_rows:
        assert arrow[(r.doc_id, r.task_number)] == (r.task_text, r.was_merged)

    # pyref twin on the raw text lists
    by_doc: dict[str, list] = {}
    for r in fold_rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    base = {(r.doc_id, r.task_number): r.task_text
            for r in tasks.collect()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: int(r.task_number))
        merged, flags = pyref.g7_merge(
            [base[(doc_id, r.task_number)] for r in rows]
        )
        assert [r.task_text for r in rows] == merged
        assert [r.was_merged for r in rows] == flags


def test_fold_chained_and_random(spark):
    """Catalyst fold == pyref.g7_merge on crafted chained triggers (stale
    split positions, the reference's quirk) and randomized task lists."""
    import random

    from ocrspark.segment import g7_merged_flags, g7_merged_texts

    chained = [
        "A" * 30 + " Oppgave 2 " + "B" * 80,   # long, late heading
        "C" * 26 + " Oppgave 3 " + "D" * 10,   # short AND has late heading
        "E" * 60,                               # short -> chained stale split
    ]
    # Pattern PRIORITY (old/taskseparation.py:44-53): "5 (A)" matches first
    # by position, but the oppgave pattern has priority — the split must
    # land at "Oppgave 9", not at "5 (A)".
    priority = [
        "P" * 26 + " 5 (A) filler " + "Q" * 40 + " Oppgave 9 " + "R" * 40,
        "tiny",
    ]
    rng = random.Random(7)
    cases = [chained, priority, [], ["single short"], ["x" * 200]]
    words = ["tekst", "Oppgave 4", "oppgåve 12", "3 (A)", "y" * 40, "kort"]
    for _ in range(20):
        n = rng.randint(1, 6)
        cases.append(
            [" ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))
             for _ in range(n)]
        )
    df = spark.createDataFrame([(c,) for c in cases], "orig array<string>")
    df = df.withColumn("mpos", F.transform("orig", rules.g7_match_pos))
    rows = df.select(
        "orig",
        g7_merged_texts(F.col("orig"), F.col("mpos")).alias("m"),
        g7_merged_flags(F.col("orig"), F.col("mpos")).alias("f"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        exp_m, exp_f = pyref.g7_merge(list(r.orig))
        assert list(r.m) == exp_m, r.orig
        assert list(r.f) == exp_f, r.orig


def test_head_pattern_priority(spark):
    """The reference's pattern-ORDER semantics (old/taskseparation.py:44-53):
    an earlier-position "N (A)" match loses to a later "Oppgave N" match
    because the oppgave pattern is tried first.  Asserted against the
    expected absolute char position in pyref, Spark and DuckDB (the
    applyInPandas stage runs pyref's walk itself)."""
    import duckdb

    from ocrspark.duckdb_oracle import sql_g7_mpos

    t = "P" * 26 + " 5 (A) " + "Q" * 40 + " Oppgave 9 " + "R" * 40
    want = t.index("Oppgave 9")
    assert want > t.index("5 (A)") > C.G7_HEAD_SKIP
    assert pyref.g7_match_pos(t) == want
    got_spark = (
        spark.createDataFrame([(t,)], "t string")
        .select(rules.g7_match_pos(F.col("t")).alias("p"))
        .collect()[0].p
    )
    assert got_spark == want
    got_sql = duckdb.sql(
        f"SELECT {sql_g7_mpos('t')} AS p FROM (SELECT '{t}' AS t)"
    ).fetchone()[0]
    assert got_sql == want
    # digit-paren still matches when it is the only pattern present
    u = "x" * 30 + " 7 (B) " + "y" * 80
    assert pyref.g7_match_pos(u) == u.index("7 (B)")


def test_merge_order_is_numeric(spark):
    # task 10 must sort after 9 (numeric, not lexicographic)
    rows = [("d", str(i), f"task {i} " + "x" * 120) for i in [9, 10, 11, 1]]
    df = spark.createDataFrame(rows, "doc_id string, task_number string, task_text string")
    out = merge_short_tasks(df)
    assert {r.task_number for r in out.collect()} == {"1", "9", "10", "11"}


def test_g7_span_contract(spark):
    """FIXTURES.md section 4.1 pinned contract: the G7 merge moves TEXT only.
    Toggling merge changes task_text (+ derived html/topic/was_merged) but
    the spans column is byte-identical — spans always carry the pre-merge
    marker-based segmentation, and post-merge texts are exactly
    pyref.g7_merge(pre-merge texts)."""
    from ocrspark.assemble import assemble

    docs = generate_docs(spark, 60, seed=21)
    on = assemble(segment(stage1(docs), merge=True)).select(
        "doc_id", "task_number", "task_text", "was_merged",
        F.to_json("spans").alias("sj")).collect()
    off = assemble(segment(stage1(docs), merge=False)).select(
        "doc_id", "task_number", "task_text",
        F.to_json("spans").alias("sj")).collect()
    on_by_key = {(r.doc_id, r.task_number): r for r in on}
    off_by_key = {(r.doc_id, r.task_number): r for r in off}
    assert on_by_key.keys() == off_by_key.keys()
    assert any(r.was_merged for r in on)  # the corpus exercises G7

    # 1. spans identical regardless of merge — for EVERY task
    for k, r in on_by_key.items():
        assert r.sj == off_by_key[k].sj, k
    # 2. merged tasks really have rewritten text (the contrast is real)
    assert any(
        r.was_merged and r.task_text != off_by_key[k].task_text
        for k, r in on_by_key.items()
    )
    # 3. unmerged tasks keep their text
    for k, r in on_by_key.items():
        if not r.was_merged:
            assert r.task_text == off_by_key[k].task_text, k

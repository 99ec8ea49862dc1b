"""Behavior pins for the mid-round-6 curation ops: corpus-global exact
line dedup (C4 keep-first policy), PII redaction, and temperature/UniMax
mixture weights — planted-case semantics the synthetic fixture corpus
cannot exercise (it has no duplicate lines, no PII, uniform sources)."""

import math

from pyspark.sql import functions as F

from ocrspark.ops import dedup, sampling, textstats


def _lines_fixture(spark):
    return spark.createDataFrame(
        [
            (1, "Hello World\nunique one\n\nFooter Text"),
            (2, "hello   world!\nFooter Text\nunique two"),
            (3, "Footer Text\n!!!\nfooter text"),
            (4, "Footer Text"),
            (5, "repeat me\nrepeat me"),
        ],
        "doc_id int, text string",
    )


def test_line_dedup_keep_first_planted(spark):
    """Canonical-equal lines keep ONLY their first (doc_id, line_no)
    occurrence corpus-wide; blank/punctuation-only lines always survive;
    a doc whose every content line is a later copy keeps empty text."""
    out = {r.doc_id: r for r in
           dedup.line_dedup_keep_first(_lines_fixture(spark)).collect()}
    assert len(out) == 5
    # doc 1 is first everywhere: byte-identical passthrough incl. blank
    assert (out[1].n_lines, out[1].n_lines_kept) == (4, 4)
    assert out[1].kept_text == "Hello World\nunique one\n\nFooter Text"
    # 'hello   world!' canonicalizes to doc 1's 'Hello World' -> dropped
    assert (out[2].n_lines, out[2].n_lines_kept) == (3, 1)
    assert out[2].kept_text == "unique two"
    # both Footer copies lose to doc 1; '!!!' is blank-canonical -> kept
    assert (out[3].n_lines, out[3].n_lines_kept) == (3, 1)
    assert out[3].kept_text == "!!!"
    # every content line a later copy -> empty doc retained in output
    assert (out[4].n_lines, out[4].n_lines_kept) == (1, 0)
    assert out[4].kept_text == ""
    # within-doc repeat: first line wins over its own later copy
    assert (out[5].n_lines, out[5].n_lines_kept) == (2, 1)
    assert out[5].kept_text == "repeat me"


def test_line_dedup_partition_invariant(spark):
    """Keep-first is a pure function of (doc_id, line_no) order — the
    result cannot depend on physical partitioning."""
    docs = _lines_fixture(spark)
    a = sorted(map(tuple, dedup.line_dedup_keep_first(docs).collect()))
    b = sorted(map(tuple, dedup.line_dedup_keep_first(
        docs.repartition(5, "text")).collect()))
    assert a == b


def test_redact_pii_planted(spark):
    """Each pattern masks its planted instance; precision negatives
    (bare digit runs, 3-octet dots, TLD-less addresses) pass untouched."""
    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.co.uk now"),
            (2, "server at 192.168.0.1 port"),
            (3, "call +47 922 33 444 now"),
            (4, "no pii 1234567 plain digits 10.1.2 x@y"),
            (5, "a@b.com and 10.0.0.1 and +1 234-567-8900"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in textstats.redact_pii(docs).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert out[1].redacted_text == "mail <EMAIL> now"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 1, 0)
    assert out[2].redacted_text == "server at <IP> port"
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 1)
    assert out[3].redacted_text == "call <PHONE> now"
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (0, 0, 0)
    assert out[4].redacted_text == "no pii 1234567 plain digits 10.1.2 x@y"
    assert (out[5].n_emails, out[5].n_ips, out[5].n_phones) == (1, 1, 1)
    assert out[5].redacted_text == "<EMAIL> and <IP> and <PHONE>"


def test_mixture_weights_differential(spark, monkeypatch):
    """The emitted shares/epochs must equal the pure-python evaluation of
    the documented formula (int64-rounded weight mass), and a low epoch
    cap must clamp the small source and flag it."""
    rows = [(i, "w " * 10, "A") for i in range(90)] \
        + [(1000 + i, "w " * 10, "B") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")

    def expected(alpha_e2, cap_e2):
        toks = {"A": 900, "B": 100}
        t_all = 1000
        w = {s: round((t / t_all) ** (alpha_e2 / 100) * 1e9)
             for s, t in toks.items()}
        w_all = sum(w.values())
        exp = {}
        for s, t in toks.items():
            p, q = t / t_all, w[s] / w_all
            e = round(q / p * 100)
            exp[s] = (toks[s], round(p * 1e9), round(q * 1e9),
                      min(e, cap_e2), int(e > cap_e2))
        return exp

    for cap in (400, 200):
        monkeypatch.setattr(sampling, "MIX_EPOCH_CAP_E2", cap)
        got = {r.source: (r.total_tokens, r.natural_share_e9,
                          r.temp_share_e9, r.epochs_e2, r.capped)
               for r in sampling.mixture_weights(docs).collect()}
        assert got == expected(50, cap), (cap, got)
    # sqrt-temperature sanity: B's 10% flattens toward 25%
    b_share = expected(50, 400)["B"][2] / 1e9
    assert math.isclose(b_share, 0.25, abs_tol=0.01)
    # the cap=200 run clamps B (epochs 250 -> 200) and flags it
    assert expected(50, 200)["B"][3:] == (200, 1)


def test_mixture_weights_zero_tokens_fails_in_both_engines(spark):
    """A corpus without a single token has no shares: the Spark op fails
    on its division by zero, and its DuckDB twin fails the same way."""
    import duckdb
    import pytest

    import __spark_entry__ as E

    rows = [(1, "", "A"), (2, " \t", "A"), (3, "", "B")]
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        sampling.mixture_weights(docs).collect()
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents "
                    "(doc_id INTEGER, text VARCHAR, source VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        with pytest.raises(duckdb.Error, match="no tokens"):
            con.sql(E._sql_mixture_weights()).fetchall()
    finally:
        con.close()


def test_curation_ops_plan_shapes(spark, plan_nodes, plan_text):
    """Scale-shape lint for the three ops: redaction is one shuffle-free
    codegen project; the line-dedup keeper is a partial-aggregated
    groupBy (hot lines collapse map-side), NEVER a window over the raw
    line key (AQE cannot split one hot key for a window); mixture
    weights carry no window and no corpus-keyed join."""
    docs = _lines_fixture(spark).withColumn("source", F.lit("s"))
    n_redact = plan_nodes(textstats.redact_pii(docs))
    assert not any("Exchange" in n for n in n_redact), n_redact
    assert "BatchEvalPython" not in n_redact, n_redact
    assert not any("Arrow" in n for n in n_redact), n_redact

    # text below: partial_min/count/sum are aggregate functions, not nodes
    lines = dedup.line_dedup_keep_first(docs)
    assert "Window" not in plan_nodes(lines), plan_nodes(lines)
    assert "partial_min" in plan_text(lines), plan_text(lines)

    mix = sampling.mixture_weights(docs)
    assert "Window" not in plan_nodes(mix), plan_nodes(mix)
    p_mix = plan_text(mix)
    assert "partial_count" in p_mix or "partial_sum" in p_mix, p_mix

    n_c4 = plan_nodes(textstats.c4_line_filters(docs))
    assert not any("Exchange" in n for n in n_c4), n_c4


def test_line_dedup_corpus_hot_line(spark):
    """The op is deliberately UNCAPPED: a line duplicated across 300 docs
    (the corpus-hot footer the df-capped span ops exempt) keeps exactly
    its (min doc_id, min line_no) occurrence and every other copy drops —
    and the result is identical under adversarial partitioning."""
    hot = "all rights reserved worldwide"
    docs = spark.createDataFrame(
        [(i, f"unique line {i}\n{hot}" if i % 2 else f"{hot}\nunique line {i}")
         for i in range(300)],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in
           dedup.line_dedup_keep_first(docs).collect()}
    # doc 0 has the hot line FIRST (line_no 0) -> keeps both its lines
    assert (out[0].n_lines_kept, out[0].kept_text) == (
        2, f"{hot}\nunique line 0")
    # every other doc keeps only its unique line
    for i in range(1, 300):
        assert out[i].n_lines_kept == 1, i
        assert out[i].kept_text == f"unique line {i}", i
    skewed = docs.repartition(3, F.lit(1))  # all rows in one partition
    assert sorted(map(tuple, dedup.line_dedup_keep_first(skewed).collect())) \
        == sorted(map(tuple, out.values()))


def test_c4_line_filters_planted(spark):
    """Each C4 predicate exercised: terminal punctuation, min words,
    blacklist phrase, and the curly-brace whole-doc drop."""
    docs = spark.createDataFrame(
        [
            (1, "A good clean sentence with many words here.\n"
                "short one.\n"
                "We use cookie banners on this site every day.\n"
                "no terminal punctuation on this line at all\n"
                'He said "stop right there friend of mine!"'),
            (2, "This doc has curly braces so it drops entirely.\n"
                "int f() { return 0; }"),
            (3, ""),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in textstats.c4_line_filters(docs).collect()}
    assert (out[1].n_lines, out[1].n_lines_kept, out[1].doc_pass) == (5, 2, 1)
    assert out[1].kept_text == (
        "A good clean sentence with many words here.\n"
        'He said "stop right there friend of mine!"')
    assert (out[2].n_lines, out[2].n_lines_kept, out[2].doc_pass) == (2, 0, 0)
    assert out[2].kept_text == ""
    assert (out[3].n_lines, out[3].n_lines_kept, out[3].doc_pass) == (1, 0, 1)


def test_line_dedup_random_differential(spark):
    """Seeded random corpus (blank / punct-only / colliding short lines)
    vs a pure-python keep-first reference — the full contract, not just
    planted cases."""
    import random
    import re

    rnd = random.Random(77)
    vocab = ["aa", "bb", "cc", "dd"]
    docs_py = []
    for d in range(40):
        lines = []
        for _ in range(rnd.randint(0, 5)):
            k = rnd.random()
            if k < 0.15:
                lines.append("")
            elif k < 0.25:
                lines.append("!?.")
            else:
                lines.append(" ".join(
                    rnd.choice(vocab) for _ in range(rnd.randint(1, 4))))
        docs_py.append((d, "\n".join(lines)))

    seen = set()
    expect = {}
    for d, text in sorted(docs_py):
        lines = text.split("\n")
        kept = []
        for line in lines:
            canon = " ".join(re.findall(r"[a-z0-9]+", line.lower()))
            if canon == "" or canon not in seen:
                if canon:
                    seen.add(canon)
                kept.append(line)
        expect[d] = (len(lines), len(kept), "\n".join(kept))

    docs = spark.createDataFrame(docs_py, "doc_id int, text string")
    got = {r.doc_id: (r.n_lines, r.n_lines_kept, r.kept_text)
           for r in dedup.line_dedup_keep_first(docs).collect()}
    assert got == expect

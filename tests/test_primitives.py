"""Cross-engine agreement of the text-curation primitives.

Every curation oracle compares a Spark op against a DuckDB twin built from
the same primitives: ``dedup._words``/``_sql_words``, ``dedup._h48``/
``_sql_h48``, ``dedup._canon``/``_CANON``, ``dedup._word_grams``/
``_sql_grams``, the case fold ``dedup._fold``/``_sql_fold`` and the token
count ``dedup._n_tokens``/``_sql_n_tokens``; the token and punctuation
classes are spelled from the one ``dedup.WHITESPACE``.  Each pair is run in
its own engine on the same strings and must give the same value.  The one
known divergence left is a strict xfail naming the cause (Spark's lower
maps some letters DuckDB 1.0's case tables lack), so a fix shows up as an
XPASS.
"""

import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402
from ocrspark.ops.dedup import (  # noqa: E402
    TOKEN, _canon, _fold, _h48, _n_tokens, _word_grams, _words,
)
from ocrspark.ops.textstats import PUNCT_RE  # noqa: E402

STRINGS = {
    "ascii": "the quick brown fox 42",
    "mixed_case": "MiXeD CaSe WORDS",
    "nordic": "blåbær på Ærø og Øl",
    "tabs": "tab\tseparated\twords",
    "newlines": "line one\nline two\n",
    "repeated_spaces": "  a   b    c  ",
    "nbsp": "no\u00a0break\u00a0space",
    "empty": "",
    "vertical_tab": "a\x0bb",
    "dotted_capital_i": "\u0130stanbul",
    "final_sigma": "\u039f\u0394\u039f\u03a3 \u039f\u0394\u039f\u03a3",
    "vertical_tab_punct": "a\x0bb!",
    "caudate_chrivi": "\u2c2f",
}

# name -> (Spark column from the text column, DuckDB expression over
# ``text`` and its token list ``ws``).
PRIMITIVES = {
    "words": (_words, E._sql_words()),
    "h48": (_h48, E._sql_h48("text")),
    "canon": (_canon, E._CANON),
    "grams2": (lambda t: _word_grams(_words(t), 2), E._sql_grams(2)),
    "grams3": (lambda t: _word_grams(_words(t), 3), E._sql_grams(3)),
    "n_tokens": (_n_tokens, E._sql_n_tokens()),
    "tokens": (lambda t: F.regexp_extract_all(t, F.lit(TOKEN), 0),
               f"regexp_extract_all(text, '{TOKEN}')"),
    "n_punct": (lambda t: F.regexp_count(t, F.lit(PUNCT_RE)),
                f"len(regexp_extract_all(text, '{PUNCT_RE}'))"),
    "fold": (_fold, E._sql_fold("text")),
}

# U+2C2F (Unicode 14): Spark lowers it to U+2C5F, DuckDB 1.0 leaves it;
# so do about 70 other letters.  Only the outputs that keep the letter
# differ: [a-z0-9] tokens drop it in both engines.
_NO_CASE = "DuckDB 1.0 case tables lack this letter"
DIVERGENCES = {
    ("canon", "caudate_chrivi"): _NO_CASE,
    ("fold", "caudate_chrivi"): _NO_CASE,
}

_ROWS = list(enumerate(STRINGS.values()))


@pytest.fixture(scope="module")
def spark_values(spark):
    df = spark.createDataFrame(_ROWS, "i int, text string")
    rows = df.select(
        "i", *[f(F.col("text")).alias(p) for p, (f, _) in PRIMITIVES.items()]
    ).collect()
    return {r["i"]: r.asDict() for r in rows}


@pytest.fixture(scope="module")
def duck_values():
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", _ROWS)
        cols = ", ".join(f"{sql} AS {p}" for p, (_, sql) in PRIMITIVES.items())
        rel = con.sql(f"SELECT i, {cols} FROM "
                      f"(SELECT i, text, {E._sql_words()} AS ws FROM t)")
        names = [d[0] for d in rel.description]
        return {r[0]: dict(zip(names, r)) for r in rel.fetchall()}
    finally:
        con.close()


@pytest.mark.parametrize("prim, name", [
    pytest.param(p, s, id=f"{p}-{s}", marks=(
        [pytest.mark.xfail(strict=True, reason=DIVERGENCES[p, s])]
        if (p, s) in DIVERGENCES else []))
    for p in PRIMITIVES for s in STRINGS
])
def test_primitive_agrees_across_engines(spark_values, duck_values, prim, name):
    i = list(STRINGS).index(name)
    assert spark_values[i][prim] == duck_values[i][prim]

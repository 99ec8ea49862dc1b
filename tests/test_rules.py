"""Unit tests: each rule's Spark Column implementation == pyref spec."""

import pytest
from pyspark.sql import functions as F

from ocrspark import pyref, rules

NORM_CASES = [
    "x^2 + y_1 = 3/4 − z",
    "a ×b ÷ c; d √2 π ∞ ∑",
    "E=mc^2",
    "  flere   mellomrom\tog\nlinjer  ",
    "v_0 = 90 m/s mot en vegg i avstand x = 50 m",
    "(a+b)*(c-d)/e",
    "1/2 + 11/22 = 33/44",
    "",
    "ren tekst uten matte.",
]

ADMIN_CASES = [
    "Oppgavetekst. Velg ett alternativ: A eller B.",
    "Du kan skrive svaret i boksen under, eller skrive på Scantronark som leveres for innskanning. Vi anbefaler bruk av Scantron-ark.",
    "Denne oppgaven skal besvares i Inspera. Du skal ikke legge ved utregninger på papir. Resten består.",
    "Skriv ditt svar her",
    "Ingen admin her.",
]

MARKER_CASES = [
    ("text", "1 Hvor mange tilsvarer en akselerasjon", 1),
    ("text", "Oppgave 12 om rotasjon", 12),
    ("text", "Oppgåve 3 nynorsk", 3),
    ("text", "0.5*rho*A*Cd*(v/3.6)**2", None),
    ("text", "12,5 prosent av alle", None),
    ("text", "2024 var et år", None),       # 3+ digits -> 20 then '2' digit fails
    ("image", "2h", None),                   # markers must be text spans
    ("text", "Maks poeng: 4", None),
    ("text", "5", 5),
    ("text", "A (like etter kastet)", None),
]


def _col_eval(spark, col, values):
    df = spark.createDataFrame([(v,) for v in values], "text string")
    return [r.r for r in df.select(col.alias("r")).collect()]


def test_normalize_math_matches_pyref(spark):
    got = _col_eval(spark, rules.normalize_math(F.col("text")), NORM_CASES)
    exp = [pyref.normalize_math(t) for t in NORM_CASES]
    assert got == exp


def test_normalize_math_reference_quirks():
    # order-of-application quirks of scripts/text_normalization.py
    assert pyref.normalize_math("x^2") == "x * * 2"          # '^'->'**' then spacing
    assert pyref.normalize_math("3/4") == "\\frac{3}{4}"     # survives '/' spacing
    assert pyref.normalize_math("a−b") == "a - b"            # unicode minus spaced
    assert pyref.normalize_math("x_1") == "x_{1}"
    assert pyref.normalize_math("a;b") == "a:b"


def test_strip_admin_matches_pyref(spark):
    got = _col_eval(spark, rules.strip_admin(F.col("text")), ADMIN_CASES)
    exp = [pyref.strip_admin(t) for t in ADMIN_CASES]
    assert got == exp
    assert pyref.strip_admin(ADMIN_CASES[1]) == ""
    assert pyref.strip_admin(ADMIN_CASES[2]) == "Resten består."


@pytest.mark.parametrize("kind,text,want", MARKER_CASES)
def test_marker_number(kind, text, want):
    assert pyref.marker_number(kind, text) == want


def test_marker_number_spark(spark):
    df = spark.createDataFrame(
        [(k, t) for k, t, _ in MARKER_CASES], "kind string, text string"
    )
    got = [
        r.n
        for r in df.select(
            rules.marker_candidate_number(F.col("kind"), F.col("text")).alias("n")
        ).collect()
    ]
    assert got == [w for _, _, w in MARKER_CASES]


def test_points(spark):
    cases = ["Maks poeng: 15", "foo Maks poeng: 2 bar Maks poeng: 3", "ingen poeng", ""]
    got = _col_eval(spark, rules.extract_points(F.col("text")), cases)
    assert got == [pyref.extract_points(t) for t in cases] == [15, 2, 0, 0]


def test_subject_merge_pyref():
    m = pyref.merge_subject_codes
    assert m([]) == "UNKNOWN"
    assert m(["TDT4102"]) == "TDT4102"
    assert m(["IFYA1001", "IFYG1001", "IFYT1001"]) == "IFYX1001"
    assert m(["IMAA2012", "IMAA2022", "IMAG2012", "IMAG2022"]) == "IMAX20Y2"
    assert m(["TMM4100", "IMAT2021"]) == "TMM4100"  # unrelated: first family wins
    assert m(["IFYT1001", "IFYT1001"]) == "IFYT1001"


def test_subject_merge_spark(spark):
    texts = [
        "Emnekode IFYA1001, IFYG1001, IFYT1001 \u2014 Eksamen v\u00e5r 2024.",
        "Kun TDT4102 her",
        "IMAA2012 IMAA2022 IMAG2012 IMAG2022",
        "ingen koder",
    ]
    got = _col_eval(spark, rules.merge_subject_codes(rules.subject_codes(F.col("text"))), texts)
    exp = [pyref._SUBJECT.findall(t) for t in texts]
    assert got == [pyref.merge_subject_codes(c) for c in exp]
    assert got == ["IFYX1001", "TDT4102", "IMAX20Y2", "UNKNOWN"]


def test_version(spark):
    texts = [
        "Eksamen v\u00e5r 2024.", "Eksamen i faget h\u00f8sten 2021", "KONT 2020 eksamen",
        "\u00d8ving 3 i mekanikk", "Arbeidskrav 12", "ingenting",
    ]
    got = _col_eval(spark, rules.extract_version(F.col("text")), texts)
    assert got == [pyref.extract_version(t) for t in texts]
    assert got == ["V24", "H21", "K20", "\u00d8VING 3", "\u00d8VING 12", "UNKNOWN"]


def test_recover_text(spark):
    cases = ["a\u00a0b", "\u2014\u2014\u2014 \u2014\u2014 \u2014", "he!!!!lo", "x\u200by", "abc 1000", ""]
    got = _col_eval(spark, rules.recover_text(F.col("text")), cases)
    assert got == [pyref.recover_text(t) for t in cases]
    assert pyref.recover_text("\u2014\u2014\u2014 \u2014\u2014 \u2014") == "\u2014 \u2014\u2014 \u2014"
    assert pyref.recover_text("abc 1000") == "abc 1000"  # digits untouched


FUSED_EDGE_CASES = [
    "x_a+b", "x_12/3", "1/2/3", "a=3/4", "x**2", "x^2", "a−b;c",
    "√2 ÷ π ≈ 0,45", "∑ F = m×a; a = 9,81", "(a+b)*(c-d)/e",
    "  spaces   everywhere  ", "_lead", "tail_", "5/x", "x/5", "//",
    "a = b = c", "10/20 er 1/2", "x_1 + x_2 = ∞", "E = m×c^2 − W",
]


def test_normalize_edge_cases(spark):
    cases = NORM_CASES + FUSED_EDGE_CASES
    got = _col_eval(spark, rules.normalize_math(F.col("text")), cases)
    assert got == [pyref.normalize_math(t) for t in cases]

"""Native (JVM/codegen) Column implementations of the rule pack.

Every function returns a ``pyspark.sql.Column`` built purely from
``pyspark.sql.functions`` — no Python UDFs anywhere (north-star: "never drops
to per-row Python").  Semantics are specified by ``ocrspark.pyref`` and the
constants in ``ocrspark.config`` (provenance documented there).

Java-regex notes: replacement strings use ``$1`` group refs; a literal
backslash in a Java replacement is written ``\\\\`` in Python source.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import config as C

# ------------------------------------------------------------- stage 1 ----


def recover_text(col: Column) -> Column:
    """Native twin of stage-1 OCR recovery (pyref.recover_text): null to
    "", drop control chars, unicode whitespace to a space, collapse stutter
    runs — three unconditional ``regexp_replace`` passes."""
    c = F.coalesce(col, F.lit(""))
    c = F.regexp_replace(c, C.CONTROL_CHARS_RE, "")
    c = F.regexp_replace(c, C.UNICODE_WS_RE, " ")
    c = F.regexp_replace(c, C.DESTUTTER_RE, "$1")
    return c


# ------------------------------------------------------- segmentation -----


def marker_candidate_number(kind: Column, text: Column) -> Column:
    """G2: leading rising-number candidate, or NULL (pyref.marker_number)."""
    num = F.regexp_extract(text, C.MARKER_RE, C.MARKER_GROUP)
    ok = (
        (kind == F.lit(C.TEXT_KIND))
        & (num != "")
        & (~text.rlike(C.MAKS_POENG_ONLY_RE))
    )
    return F.when(ok, num.cast("int"))


def is_solution_start(kind: Column, text: Column) -> Column:
    """G8: span starts a solution section (dropped to end of task)."""
    return (kind == F.lit(C.TEXT_KIND)) & text.rlike(C.SOLUTION_RE)


def strip_label(col: Column) -> Column:
    """Remove one leading task label ('3 ', 'Oppgave 3: ')."""
    # Java regexp_replace replaces all matches, but the pattern is start-
    # anchored so at most one match exists — equivalent to count=1.
    return F.regexp_replace(col, C.LABEL_STRIP_RE, "")


def squeeze_ws(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def strip_admin(col: Column) -> Column:
    """P12: delete exam-administration phrases (pyref.strip_admin)."""
    return squeeze_ws(F.regexp_replace(col, C.ADMIN_STRIP_RE, " "))




def extract_points(task_text: Column) -> Column:
    """T12: first 'Maks poeng: N' in task text; 0 if absent."""
    p = F.regexp_extract(task_text, C.POINTS_RE, 1)
    return F.when(p != "", p.cast("int")).otherwise(F.lit(0))


# --------------------------------------------------- math normalization ---


def normalize_math(col: Column, pre_squeezed: bool = False) -> Column:
    """T1-T5 chain, literally as specified (pyref.normalize_math step for
    step).

    Perf note: a "fused" variant (rlike guards + CaseWhen around the rare
    rewrites, translate for 1-char maps) was tried and measured 2x SLOWER
    inside the array-transform lambdas — conditional branches around large
    expressions defeat codegen there.  Keep the straight chain.

    ``pre_squeezed`` (r7): when the input is the output of ``strip_admin``
    (itself squeeze_ws-terminated), the leading squeeze is provably the
    identity (squeeze_ws is idempotent: one pass leaves only single ASCII
    spaces and trimmed ends) — skipping it drops one corpus-sized
    regex+alloc pass.  Only set it when the input is literally a
    squeeze_ws output.
    """
    c = col if pre_squeezed else squeeze_ws(col)
    for sym, rep in C.MATH_REPLACEMENTS:
        c = F.replace(c, F.lit(sym), F.lit(rep))
    # Java replacement: '\\\\' -> one literal backslash.
    c = F.regexp_replace(c, C.FRACTION_RE[0], "\\\\frac{$1}{$2}")
    c = F.regexp_replace(c, C.SUBSCRIPT_RE[0], "_{$1}")
    # SUPERSCRIPT_RE is PROVABLY dead at this point: '^' -> '**' already
    # ran and no later step reintroduces '^' (frac/subscript emit only
    # \/{}_ digits), so the scan can never match.  pyref and the DuckDB
    # oracle keep the no-op step verbatim for spec parity; skipping the
    # per-span scan here changes nothing (differential tests + checksum
    # pin it) and saves one full regex pass over the corpus (guide §1.2:
    # don't compute things you throw away).
    c = F.regexp_replace(c, C.OPERATOR_SPACE_RE[0], " $1 ")
    return squeeze_ws(c)


# ----------------------------------------------------------- G7 merge -----


def g7_match_pos(text: Column) -> Column:
    """G7 late task-heading char position, 0 if none (pyref.g7_match_pos).

    ``regexp_instr`` returns the 1-based match position within the tail that
    starts after G7_HEAD_SKIP chars; the reference's value is the 0-based
    position within the full text (old/taskseparation.py:50-53).  Patterns
    are tried in the reference's priority order — the first PATTERN that
    matches wins, even if a lower-priority pattern matches earlier in the
    text (taskseparation.py:44-53 breaks out of the pattern loop).
    """
    tail = text.substr(F.lit(C.G7_HEAD_SKIP + 1), F.length(text))
    result = F.lit(0)
    for pat in reversed(C.G7_TASK_HEAD_PATTERNS):
        pos = F.regexp_instr(tail, F.lit(pat))
        result = F.when(pos > 0, pos + (C.G7_HEAD_SKIP - 1)).otherwise(result)
    # cost guard, not semantics: the priority CASE chain short-circuits on
    # the first matching pattern, but the common NO-match row pays all
    # three scans.  One combined-alternation scan decides "any match?"
    # first (it matches iff some pattern matches, so the guarded value is
    # identical); CASE short-circuiting then skips the per-pattern scans
    # on every non-matching row — measured +7% on the full local[1]
    # pipeline when the three scans ran unconditionally.
    any_pat = "(?i)(" + "|".join(
        p.removeprefix("(?i)") for p in C.G7_TASK_HEAD_PATTERNS
    ) + ")"
    return F.when(F.regexp_instr(tail, F.lit(any_pat)) > 0, result).otherwise(
        F.lit(0)
    )


# ------------------------------------------------------ topic classifier --


def topic_keyword_pattern(keywords: list[str]) -> str:
    return "(" + "|".join(keywords) + ")"


def classify_topic(task_text: Column) -> Column:
    """P11 rule replacement (pyref.classify_topic): argmax keyword hits over
    the lexicon; score = hits * TOPIC_SCORE_BASE + reverse rank, decoded back
    to the topic name.  Pure native codegen'd expressions (one regexp_count
    per lexicon topic), no join, no shuffle.

    Perf note: a single combined-alternation ``regexp_extract_all`` + 8
    array-membership filters was tried and measured ~5x SLOWER — array HOFs
    run interpreted (no codegen), and the match-array allocation beats the
    cost of the extra codegen'd scans.  Keep the per-topic regexp_count form.
    """
    lt = F.lower(task_text)
    n = len(C.TOPIC_LEXICON)
    scores = [
        F.regexp_count(lt, F.lit(topic_keyword_pattern(kws)))
        * F.lit(C.TOPIC_SCORE_BASE) + F.lit(n - i)
        for i, (_, kws) in enumerate(C.TOPIC_LEXICON)
    ]
    best = F.greatest(*scores)
    rank = best % C.TOPIC_SCORE_BASE
    expr = F.when(best < C.TOPIC_SCORE_BASE, F.lit(C.UNKNOWN_TOPIC))
    for i, (topic, _) in enumerate(C.TOPIC_LEXICON):
        expr = expr.when(rank == F.lit(n - i), F.lit(topic))
    return expr.otherwise(F.lit(C.UNKNOWN_TOPIC))


# --------------------------------------------------------- P13 HTML -------


def html_paragraph(text: Column) -> Column:
    """P13 paragraph chain (pyref.html_paragraph)."""
    t = F.regexp_replace(text, C.HTML_POINTS_STRIP_RE, " ")
    t = F.regexp_replace(t, C.HTML_FIGURE_RE, "$1" + C.HTML_FIGURE_SUB)
    return squeeze_ws(t)


def format_html(span_texts: Column, points: Column) -> Column:
    """P13 template over an array of paragraph source texts
    (pyref.format_html): <p> per non-empty paragraph + points trailer."""
    paras = F.filter(F.transform(span_texts, html_paragraph), lambda p: p != "")
    trailer = F.concat(
        F.lit("<p>Maks poeng: "), points.cast("string"), F.lit("</p>")
    )
    body = F.array_join(
        F.transform(paras, lambda p: F.concat(F.lit("<p>"), p, F.lit("</p>"))),
        "\n",
    )
    return F.when(F.size(paras) == 0, trailer).otherwise(
        F.concat(body, F.lit("\n\n"), trailer)
    )


# ------------------------------------------------------- doc-level rules --


def subject_codes(doc_text: Column) -> Column:
    """All subject-code matches, in order (P4 input)."""
    return F.regexp_extract_all(doc_text, F.lit(C.SUBJECT_CODE_RE), 1)


def merge_subject_codes(codes: Column) -> Column:
    """P4 wildcard fold (pyref.merge_subject_codes), pure catalyst.

    Folds first-appearance-distinct codes into the first one; a same-length
    code differing at <=1 not-yet-wildcarded position wildcards that position
    (letter -> X, digit -> Y).
    """
    distinct = F.array_distinct(codes)

    def _merge(acc: Column, code: Column) -> Column:
        idxs = F.sequence(F.lit(1), F.length(acc))
        diffs = F.filter(
            idxs,
            lambda i: (acc.substr(i, F.lit(1)) != code.substr(i, F.lit(1)))
            & (~acc.substr(i, F.lit(1)).isin("X", "Y")),
        )
        d = F.try_element_at(diffs, F.lit(1))
        wild = F.when(acc.substr(d, F.lit(1)).rlike("[0-9]"), F.lit("Y")).otherwise(F.lit("X"))
        merged = F.concat(
            acc.substr(F.lit(1), d - 1),
            wild,
            acc.substr(d + 1, F.length(acc)),
        )
        return (
            F.when(F.length(code) != F.length(acc), acc)
            .when(F.size(diffs) > 1, acc)
            .when(F.size(diffs) == 0, acc)
            .otherwise(merged)
        )

    folded = F.aggregate(
        F.slice(distinct, 2, F.greatest(F.size(distinct) - 1, F.lit(0))),
        F.get(distinct, 0),
        _merge,
    )
    return F.coalesce(folded, F.lit("UNKNOWN"))


def parse_subject_codes(raw: Column) -> Column:
    """T7: manual subject-code multi-split (task_processing.py:201-224):
    newline/;/| -> comma, split, trim; if one part with spaces, space-split;
    normalize (upper/trim) and dedupe preserving order."""
    t = F.regexp_replace(raw, "[\n;|]", ",")
    parts = F.filter(
        F.transform(F.split(t, ","), lambda p: F.trim(p)), lambda p: p != ""
    )
    single = F.get(parts, 0)
    space_split = F.filter(
        F.transform(F.split(single, " "), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    use_space = (F.size(parts) == 1) & single.contains(" ")
    chosen = F.when(use_space, space_split).otherwise(parts)
    return F.array_distinct(F.transform(chosen, lambda p: F.upper(p)))


def task_label(task_number: Column) -> Column:
    """T9: zero-padded 2-char task label (task_processing.py:429 zfill)."""
    return F.lpad(task_number, 2, "0")


def extract_version(doc_text: Column) -> Column:
    """P5 + T8 (pyref.extract_version).

    PERF (r7): the season/year groups are re-derived from the FIRST-MATCH
    SNIPPET (regexp_substr) instead of two independent full-text extracts —
    one corpus-sized scan instead of two.  Exact: the snippet is the
    leftmost match's own text, so re-matching the same pattern against it
    (\\b holds at snippet start/end by construction) reproduces the same
    groups; no-match maps regexp_substr to NULL, and NULL != '' is
    null-false in the CASE exactly like the old ''-check."""
    m = F.regexp_substr(doc_text, F.lit(C.SEASON_RE))
    season = F.regexp_extract(m, C.SEASON_RE, 1)
    year = F.regexp_extract(m, C.SEASON_RE, 2)
    exercise = F.regexp_extract(doc_text, C.EXERCISE_RE, 2)
    return (
        F.when(season != "", F.concat(F.upper(season.substr(1, 1)), year.substr(-2, 2)))
        .when(exercise != "", F.concat(F.lit("ØVING "), exercise))
        .otherwise(F.lit("UNKNOWN"))
    )

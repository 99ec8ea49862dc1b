"""Pure-Python executable specification of the ocrspark pipeline.

This is the *test oracle twin*: a tiny, readable, single-document
implementation of exactly the semantics the distributed Spark pipeline
(``stage1`` -> ``segment`` -> ``assemble``) must produce.  The synthetic
corpus generator derives ground-truth expectations from it, and the pytest
suite runs differential tests Spark-vs-pyref on golden + randomized docs.

It is NOT a port of the reference (the reference delegates segmentation and
field extraction to an LLM); it encodes the deterministic rule pack of
``ocrspark.config``, whose provenance is documented there.

Off the hot path with one exception: the ``applyInPandas`` G7 stage
(``merge._merge_doc``, the ``g7_merge_arrow`` query) runs ``g7_merge`` once
per document inside its grouped Python workers.  Everything else here is
driver-side, test-only code.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import config as C

# Pre-compiled portable regexes.  Python `re` and Java regex agree on this
# subset (see config.py portability notes).
_MARKER = re.compile(C.MARKER_RE)
_MAKS_ONLY = re.compile(C.MAKS_POENG_ONLY_RE)
_LABEL = re.compile(C.LABEL_STRIP_RE)
_POINTS = re.compile(C.POINTS_RE)
_SOLUTION = re.compile(C.SOLUTION_RE)
_ADMIN = re.compile(C.ADMIN_STRIP_RE)
_DESTUTTER = re.compile(C.DESTUTTER_RE)
_CONTROL = re.compile(C.CONTROL_CHARS_RE)
_UWS = re.compile(C.UNICODE_WS_RE)
_SUBJECT = re.compile(C.SUBJECT_CODE_RE)
_SEASON = re.compile(C.SEASON_RE)
_EXERCISE = re.compile(C.EXERCISE_RE)
_WS = re.compile(r"\s+")
_TASK_HEAD_PATTERNS = [re.compile(p) for p in C.G7_TASK_HEAD_PATTERNS]
_HTML_POINTS = re.compile(C.HTML_POINTS_STRIP_RE)
_HTML_FIGURE = re.compile(C.HTML_FIGURE_RE)
_TOPIC_RES = [(topic, re.compile("(" + "|".join(kws) + ")"))
              for topic, kws in C.TOPIC_LEXICON]


@dataclass
class Span:
    kind: str
    text: str
    media_ref: str
    offset: int


@dataclass
class TaskOut:
    task_number: str
    points: int
    spans: list[Span] = field(default_factory=list)
    task_text: str = ""          # post-G7 plain text (strip+normalize chain)
    topic: str = C.UNKNOWN_TOPIC
    task_text_html: str = ""     # P13 templated HTML
    was_merged: bool = False     # G7 touched this task's text


@dataclass
class DocOut:
    doc_id: str
    subject: str
    exam_version: str
    tasks: list[TaskOut] = field(default_factory=list)
    source_subject_code: str = "UNKNOWN"  # first observed code, pre-merge


# ---------------------------------------------------------------- stage 1 --

def recover_text(text: str) -> str:
    """Deterministic OCR-artifact repair (stage-1 Arrow UDF semantics)."""
    if not text:
        return ""
    text = _CONTROL.sub("", text)
    text = _UWS.sub(" ", text)
    text = _DESTUTTER.sub(r"\1", text)
    return text


# ------------------------------------------------------------ rule pack ----

def normalize_math(text: str) -> str:
    """T1-T5 math/whitespace normalization.

    Mirrors /root/reference/scripts/text_normalization.py:3-36 including its
    order-of-application quirks (sequential replaces; '^'->'**' before the
    superscript rule, making the latter inert), with the documented
    deviations in config.py (real ``\\times``; ASCII classes; no lookbehind).
    """
    text = _WS.sub(" ", text.strip())
    for sym, rep in C.MATH_REPLACEMENTS:
        text = text.replace(sym, rep)
    text = re.sub(C.FRACTION_RE[0],
                  lambda m: "\\frac{%s}{%s}" % (m.group(1), m.group(2)), text)
    text = re.sub(C.SUBSCRIPT_RE[0], lambda m: "_{%s}" % m.group(1), text)
    text = re.sub(C.SUPERSCRIPT_RE[0], lambda m: "^{%s}" % m.group(1), text)
    text = re.sub(C.OPERATOR_SPACE_RE[0], lambda m: " %s " % m.group(1), text)
    return _WS.sub(" ", text).strip()


def strip_admin(text: str) -> str:
    """P12: delete exam-administration phrases, squeeze whitespace."""
    return _WS.sub(" ", _ADMIN.sub(" ", text)).strip()


def strip_label(text: str) -> str:
    """Remove a leading task label ('3 ', 'Oppgave 3: ', ...)."""
    return _LABEL.sub("", text, count=1)


def marker_number(kind: str, text: str) -> int | None:
    """G2 candidate detection: leading rising-number heuristic."""
    if kind != C.TEXT_KIND:
        return None
    m = _MARKER.match(text or "")
    if not m:
        return None
    if _MAKS_ONLY.match(text):
        return None
    return int(m.group(C.MARKER_GROUP))


def extract_points(task_text: str) -> int:
    m = _POINTS.search(task_text)
    return int(m.group(1)) if m else 0


def merge_subject_codes(codes: list[str]) -> str:
    """P4 wildcard merge: one-position variations -> X (letter) / Y (digit).

    Spec: /root/reference/prompts/get_subject_code.txt.  Deterministic
    variant: fold codes in first-appearance order into the first code;
    a code merges iff same length and differing at <=1 not-yet-wildcarded
    position; that position becomes 'X' for letters, 'Y' for digits.
    """
    distinct: list[str] = []
    for c in codes:
        if c not in distinct:
            distinct.append(c)
    if not distinct:
        return "UNKNOWN"
    pattern = distinct[0]
    for code in distinct[1:]:
        if len(code) != len(pattern):
            continue
        diffs = [i for i, (a, b) in enumerate(zip(pattern, code))
                 if a != b and a not in ("X", "Y")]
        if len(diffs) > 1:
            continue
        if diffs:
            i = diffs[0]
            wild = "Y" if pattern[i].isdigit() else "X"
            pattern = pattern[:i] + wild + pattern[i + 1:]
    return pattern


def extract_version(doc_text: str) -> str:
    """P5 + T8: season/year -> V##/H##/K##; Øving/Arbeidskrav -> ØVING n."""
    m = _SEASON.search(doc_text)
    if m:
        return m.group(1)[0].upper() + m.group(2)[-2:]
    m = _EXERCISE.search(doc_text)
    if m:
        return "ØVING " + m.group(2)
    return "UNKNOWN"


def g7_match_pos(text: str) -> int:
    """G7 late task-heading position (old/taskseparation.py:44-53): char
    index of the match of the FIRST pattern (in priority order) that hits
    at or after G7_HEAD_SKIP, else 0.  The reference breaks out of its
    pattern loop on the first pattern that matches, so an earlier-position
    match of a lower-priority pattern loses."""
    for pat in _TASK_HEAD_PATTERNS:
        m = pat.search(text[C.G7_HEAD_SKIP:])
        if m:
            return m.start() + C.G7_HEAD_SKIP
    return 0


def g7_merge(texts: list[str]) -> tuple[list[str], list[bool]]:
    """G7 forward-merge walk (old/taskseparation.py:56-66).

    Validity and match positions are taken from the ORIGINAL texts (the
    reference computes both up front, :33-53); the splits apply to the
    current walk state.  Returns (repaired texts, was_merged flags).
    """
    orig = list(texts)
    mpos = [g7_match_pos(t) for t in orig]
    trig = [False] * len(orig)
    for j in range(1, len(orig)):
        trig[j] = len(orig[j]) < C.G7_MIN_VALID_CHARS and mpos[j - 1] != 0
    cur = list(orig)
    for j in range(1, len(cur)):
        if trig[j]:
            split = mpos[j - 1]
            head = cur[j - 1]
            cur[j - 1] = head[:split] + cur[j]
            cur[j] = head[split:]
    flags = [trig[i] or (i + 1 < len(trig) and trig[i + 1])
             for i in range(len(trig))]
    return cur, flags


def classify_topic(task_text: str) -> str:
    """P11 rule replacement: argmax keyword-hit topic over lowercase text;
    score encoding = hits * TOPIC_SCORE_BASE + reverse lexicon rank."""
    lt = task_text.lower()
    n = len(_TOPIC_RES)
    best_score, best_topic = 0, C.UNKNOWN_TOPIC
    for i, (topic, rx) in enumerate(_TOPIC_RES):
        score = len(rx.findall(lt)) * C.TOPIC_SCORE_BASE + (n - i)
        if score > best_score:
            best_score, best_topic = score, topic
    return best_topic if best_score >= C.TOPIC_SCORE_BASE else C.UNKNOWN_TOPIC


def html_paragraph(text: str) -> str:
    """P13 paragraph chain: strip inline 'Maks poeng', figure-below ->
    figure-above rewrite, squeeze."""
    t = _HTML_POINTS.sub(" ", text)
    t = _HTML_FIGURE.sub(lambda m: m.group(1) + C.HTML_FIGURE_SUB, t)
    return _WS.sub(" ", t).strip()


def format_html(span_texts: list[str], points: int) -> str:
    """P13 template: <p> per non-empty paragraph + 'Maks poeng: X' trailer."""
    paras = [p for p in (html_paragraph(t) for t in span_texts) if p]
    trailer = f"<p>Maks poeng: {points}</p>"
    if not paras:
        return trailer
    return "\n".join(f"<p>{p}</p>" for p in paras) + "\n\n" + trailer


# ------------------------------------------------------- full pipeline -----

def extract_doc(doc_id: str, spans: list[tuple[str, str, str, int]]) -> DocOut:
    """Run the whole pipeline spec on one document.

    ``spans``: list of (kind, text, media_ref, offset) in any order; the
    pipeline sorts by offset (W1: document order is the one load-bearing
    ordering).
    """
    rows = [Span(k, recover_text(t or ""), m or "", o)
            for (k, t, m, o) in sorted(spans, key=lambda s: s[3])]

    # G2/G3: candidates -> rising acceptance -> task_seq sessionization.
    run_max = 0
    task_seq = 0
    seqs: list[int] = []
    marker_flags: list[bool] = []
    for s in rows:
        n = marker_number(s.kind, s.text)
        accepted = n is not None and n == run_max + 1
        if n is not None:
            run_max = max(run_max, n)
        if accepted:
            task_seq += 1
        seqs.append(task_seq)
        marker_flags.append(accepted)

    # G8: drop spans from a solution marker to the end of its task.
    keep = [True] * len(rows)
    in_solution_task = -1
    for i, s in enumerate(rows):
        if seqs[i] != in_solution_task:
            in_solution_task = -1
        if s.kind == C.TEXT_KIND and _SOLUTION.search(s.text):
            in_solution_task = seqs[i]
        if seqs[i] == in_solution_task and in_solution_task != -1:
            keep[i] = False

    # Task-level census (task_seq >= 1).
    by_task: dict[int, list[int]] = {}
    for i in range(len(rows)):
        if keep[i] and seqs[i] >= 1:
            by_task.setdefault(seqs[i], []).append(i)

    def concat_text(idx: list[int]) -> str:
        return " ".join(rows[i].text for i in idx if rows[i].text)

    raw_len = {t: sum(len(rows[i].text) for i in idx) for t, idx in by_task.items()}
    stripped_len = {
        t: len(strip_admin(strip_label(concat_text(idx))))
        for t, idx in by_task.items()
    }

    # F6/F7 head/tail admin window (replaces the LLM validity check).
    valid = [t for t in sorted(by_task) if stripped_len[t] >= C.MIN_STRIPPED_TASK_CHARS]
    if not valid:
        return DocOut(doc_id, _doc_subject(rows), _doc_version(rows), [],
                      _doc_source_code(rows))
    lo, hi = valid[0], valid[-1]
    window = [t for t in sorted(by_task) if lo <= t <= hi]

    # Renumber 1..K (reference re-runs _assign_tasks after head/tail drops,
    # task_boundaries.py:324-326), THEN F4 short-task drop keeps gaps
    # (validate_containers filters without renumbering, :435-436).
    numbered = {t: str(i + 1) for i, t in enumerate(window)}
    survivors = [t for t in window if raw_len[t] >= C.MIN_TASK_TEXT_CHARS]

    # G7 forward-merge over the surviving tasks' ORIGINAL raw texts, in
    # task-number order (legacy old/taskseparation.py flow; spans are the
    # span-level truth and are never re-split — the reference's
    # taskvalidation likewise swaps text strings without touching the
    # container task_map).
    merged_texts, merged_flags = g7_merge([concat_text(by_task[t]) for t in survivors])

    tasks: list[TaskOut] = []
    for pos, t in enumerate(survivors):
        idx = by_task[t]
        points = extract_points(concat_text(idx))
        out_spans: list[Span] = []
        for phase_kind in (C.IMAGE_KIND, C.TEXT_KIND):  # images before text
            for i in idx:
                s = rows[i]
                if s.kind != phase_kind:
                    continue
                text = s.text
                if marker_flags[i]:
                    text = strip_label(text)
                text = normalize_math(strip_admin(text))
                if s.kind == C.TEXT_KIND and not text:
                    continue  # empty after stripping -> dropped
                out_spans.append(Span(s.kind, text, s.media_ref, len(out_spans)))
        # text-level outputs: plain task_text from the post-G7 raw text
        # (P8 identity -> P12 strip -> T1-T5 normalize); topic from it (P11);
        # HTML from the output text spans (P13, live-flow paragraphing).
        task_text = normalize_math(strip_admin(strip_label(merged_texts[pos])))
        topic = classify_topic(task_text)
        html = format_html(
            [s.text for s in out_spans if s.kind == C.TEXT_KIND], points
        )
        tasks.append(TaskOut(numbered[t], points, out_spans, task_text,
                             topic, html, merged_flags[pos]))

    return DocOut(doc_id, _doc_subject(rows), _doc_version(rows), tasks,
                  _doc_source_code(rows))


def _doc_text(rows: list[Span]) -> str:
    return " ".join(s.text for s in rows if s.text)


def _doc_subject(rows: list[Span]) -> str:
    return merge_subject_codes(_SUBJECT.findall(_doc_text(rows)))


def _doc_source_code(rows: list[Span]) -> str:
    """First observed subject code (the exam's pre-merge filing code,
    exams.json source_subject_code; scripts/object_handling.py:173-188)."""
    m = _SUBJECT.search(_doc_text(rows))
    return m.group(1) if m else "UNKNOWN"


def _doc_version(rows: list[Span]) -> str:
    return extract_version(_doc_text(rows))

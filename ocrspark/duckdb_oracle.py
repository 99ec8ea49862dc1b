"""DuckDB-SQL rendering of the pipeline spec (the driver's oracle side).

Renders plain ANSI-ish SQL strings that DuckDB can run over the same parquet
fixtures the Spark queries read, implementing *exactly* the semantics of
``ocrspark.pyref``.  Checked by ``tests/driver_mimic.py`` (every
``oracle_sql()`` twin vs its Spark query), ``tests/test_oracle_tail.py``
(the same comparison for the ``queries()`` entries past the first 50) and
``tests/test_merge.py`` (``sql_g7_mpos`` vs the pyref head-pattern walk).

Portability notes (RE2 vs Java/Python regex) are centralized in config.py;
the only non-portable rule — de-stutter, needing a backreference — is outside
the oracle surface (fixtures use the ``portable`` corpus profile).

Duplicates in the subject-code fold are no-ops (merging a code equal to the
accumulator, or differing only at already-wildcarded positions, leaves the
accumulator unchanged), so the fold runs over raw in-order matches without
needing an order-preserving distinct.
"""

from __future__ import annotations

from . import config as C


def _q(pattern: str) -> str:
    """Quote a regex/string for a SQL literal.

    Config patterns carry literal control chars (portable across Python/Java
    regex); SQL literals can't — re-encode anything < 0x20 as an RE2
    ``\\x{..}`` escape.
    """
    out = []
    for ch in pattern.replace("'", "''"):
        out.append(f"\\x{{{ord(ch):x}}}" if ord(ch) < 0x20 else ch)
    return "'" + "".join(out) + "'"


def sql_recover(col: str) -> str:
    """Stage-1 recovery minus de-stutter (portable profile)."""
    return (
        f"regexp_replace(regexp_replace(coalesce({col}, ''), "
        f"{_q(C.CONTROL_CHARS_RE)}, '', 'g'), {_q(C.UNICODE_WS_RE)}, ' ', 'g')"
    )


def sql_squeeze(col: str) -> str:
    return f"trim(regexp_replace({col}, '\\s+', ' ', 'g'))"


def sql_strip_label(col: str) -> str:
    # non-global: first (start-anchored, hence only) match
    return f"regexp_replace({col}, {_q(C.LABEL_STRIP_RE)}, '')"


def sql_strip_admin(col: str) -> str:
    return sql_squeeze(f"regexp_replace({col}, {_q(C.ADMIN_STRIP_RE)}, ' ', 'g')")


def sql_normalize_math(col: str) -> str:
    c = sql_squeeze(col)
    for sym, rep in C.MATH_REPLACEMENTS:
        c = f"replace({c}, {_q(sym)}, {_q(rep)})"
    c = f"regexp_replace({c}, {_q(C.FRACTION_RE[0])}, '\\\\frac{{\\1}}{{\\2}}', 'g')"
    c = f"regexp_replace({c}, {_q(C.SUBSCRIPT_RE[0])}, '_{{\\1}}', 'g')"
    c = f"regexp_replace({c}, {_q(C.SUPERSCRIPT_RE[0])}, '^{{\\1}}', 'g')"
    c = f"regexp_replace({c}, {_q(C.OPERATOR_SPACE_RE[0])}, ' \\1 ', 'g')"
    return sql_squeeze(c)


def sql_points(col: str) -> str:
    return (
        f"CAST(coalesce(nullif(regexp_extract({col}, {_q(C.POINTS_RE)}, 1), ''), '0') AS INT)"
    )


def sql_subject(col: str) -> str:
    """P4: regex matches folded with one-position wildcarding (list_reduce)."""
    codes = f"regexp_extract_all({col}, {_q(C.SUBJECT_CODE_RE)}, 1)"
    diffs = (
        "list_filter(generate_series(1, length(acc)), "
        "i -> substr(acc,i,1) <> substr(c,i,1) AND substr(acc,i,1) NOT IN ('X','Y'))"
    )
    fold = f"""list_reduce({codes}, (acc, c) -> CASE
        WHEN length(c) <> length(acc) THEN acc
        WHEN length({diffs}) <> 1 THEN acc
        ELSE concat(
          substr(acc, 1, {diffs}[1] - 1),
          CASE WHEN regexp_matches(substr(acc, {diffs}[1], 1), '[0-9]')
               THEN 'Y' ELSE 'X' END,
          substr(acc, {diffs}[1] + 1))
      END)"""
    return f"coalesce(CASE WHEN length({codes}) > 0 THEN {fold} END, 'UNKNOWN')"


def sql_version(col: str) -> str:
    return f"""CASE
      WHEN regexp_extract({col}, {_q(C.SEASON_RE)}, 1) <> '' THEN
        upper(substr(regexp_extract({col}, {_q(C.SEASON_RE)}, 1), 1, 1))
        || right(regexp_extract({col}, {_q(C.SEASON_RE)}, 2), 2)
      WHEN regexp_extract({col}, {_q(C.EXERCISE_RE)}, 2) <> '' THEN
        'ØVING ' || regexp_extract({col}, {_q(C.EXERCISE_RE)}, 2)
      ELSE 'UNKNOWN'
    END"""


def sql_pipeline_ctes(docs_rel: str) -> str:
    """Shared CTE chain: docs relation -> `surviving` tasks + `kept` spans.

    ``docs_rel``: SQL relation with (doc_id, spans array<struct>).
    """
    marker = _q(C.MARKER_RE)
    return f"""
WITH flat AS (
  SELECT t.doc_id,
         u.s['offset'] AS off,
         u.s.kind AS kind,
         {sql_recover("u.s.text")} AS text,
         coalesce(u.s.media_ref, '') AS media_ref
  FROM {docs_rel} t, LATERAL UNNEST(t.spans) AS u(s)
),
cand AS (
  SELECT *,
    CASE WHEN kind = 'text'
          AND regexp_extract(text, {marker}, {C.MARKER_GROUP}) <> ''
          AND NOT regexp_matches(text, {_q(C.MAKS_POENG_ONLY_RE)})
      THEN CAST(regexp_extract(text, {marker}, {C.MARKER_GROUP}) AS INT)
    END AS cand_n
  FROM flat
),
mk AS (
  SELECT *,
    (cand_n IS NOT NULL AND cand_n = coalesce(max(cand_n) OVER w_prior, 0) + 1)
      AS is_marker
  FROM cand
  WINDOW w_prior AS (PARTITION BY doc_id ORDER BY off
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
seq AS (
  SELECT *, sum(CASE WHEN is_marker THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY off) AS task_seq
  FROM mk
),
sol AS (
  SELECT *, max(CASE WHEN kind = 'text'
        AND regexp_matches(text, {_q(C.SOLUTION_RE)}) THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id, task_seq ORDER BY off) AS in_sol
  FROM seq
),
kept AS (SELECT * FROM sol WHERE in_sol = 0),
tasks AS (
  SELECT doc_id, task_seq,
    sum(length(text)) AS raw_len,
    coalesce(string_agg(nullif(text, ''), ' ' ORDER BY off), '') AS task_text
  FROM kept GROUP BY doc_id, task_seq
),
tasks2 AS (
  SELECT *,
    length({sql_strip_admin(sql_strip_label("task_text"))}) AS stripped_len,
    {sql_points("task_text")} AS points
  FROM tasks
),
bounds AS (
  SELECT *,
    min(CASE WHEN task_seq >= 1 AND stripped_len >= {C.MIN_STRIPPED_TASK_CHARS}
         THEN task_seq END) OVER (PARTITION BY doc_id) AS first_valid,
    max(CASE WHEN task_seq >= 1 AND stripped_len >= {C.MIN_STRIPPED_TASK_CHARS}
         THEN task_seq END) OVER (PARTITION BY doc_id) AS last_valid
  FROM tasks2
),
numbered AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY task_seq)
                 AS VARCHAR) AS task_number
  FROM bounds
  WHERE task_seq BETWEEN first_valid AND last_valid
),
surviving AS (
  SELECT * FROM numbered WHERE raw_len >= {C.MIN_TASK_TEXT_CHARS}
),
docfields AS (
  SELECT doc_id,
    {sql_subject("doc_text")} AS subject,
    {sql_version("doc_text")} AS exam_version,
    coalesce(nullif(regexp_extract(doc_text, {_q(C.SUBJECT_CODE_RE)}, 1), ''),
             'UNKNOWN') AS source_subject_code
  FROM (
    SELECT doc_id,
      coalesce(string_agg(nullif(text, ''), ' ' ORDER BY off), '') AS doc_text
    FROM kept GROUP BY doc_id
  )
)"""


def sql_g7_mpos(col: str) -> str:
    """G7 late-heading char position (pyref.g7_match_pos) without
    regexp_instr: the length of the first piece of a regex split is the
    0-based match position within the tail.  Folds over the reference's
    patterns in priority order (first PATTERN that matches wins,
    old/taskseparation.py:44-53)."""
    tail = f"substr({col}, {C.G7_HEAD_SKIP + 1})"
    expr = "0"
    for pat in reversed(C.G7_TASK_HEAD_PATTERNS):
        split = f"regexp_split_to_array({tail}, {_q(pat)})"
        expr = (
            f"CASE WHEN len({split}) > 1 "
            f"THEN {C.G7_HEAD_SKIP} + length({split}[1]) ELSE {expr} END"
        )
    return expr


def sql_topic(col: str) -> str:
    """P11 keyword-lexicon argmax (pyref.classify_topic), score-encoded."""
    n = len(C.TOPIC_LEXICON)
    scores = []
    for i, (_, kws) in enumerate(C.TOPIC_LEXICON):
        pat = _q("(" + "|".join(kws) + ")")
        scores.append(
            f"len(regexp_extract_all(lower({col}), {pat})) * {C.TOPIC_SCORE_BASE} + {n - i}"
        )
    best = "greatest(" + ", ".join(scores) + ")"
    whens = "".join(
        f" WHEN {n - i} THEN '{topic}'"
        for i, (topic, _) in enumerate(C.TOPIC_LEXICON)
    )
    return (
        f"CASE WHEN {best} < {C.TOPIC_SCORE_BASE} THEN '{C.UNKNOWN_TOPIC}' "
        f"ELSE CASE ({best} % {C.TOPIC_SCORE_BASE}){whens} "
        f"ELSE '{C.UNKNOWN_TOPIC}' END END"
    )


def sql_html_paragraph(col: str) -> str:
    """P13 paragraph chain (pyref.html_paragraph)."""
    t = f"regexp_replace({col}, {_q(C.HTML_POINTS_STRIP_RE)}, ' ', 'g')"
    t = f"regexp_replace({t}, {_q(C.HTML_FIGURE_RE)}, '\\1{C.HTML_FIGURE_SUB}', 'g')"
    return sql_squeeze(t)


def _recursive(sql: str) -> str:
    """Promote the statement's WITH to WITH RECURSIVE (sql_text_ctes adds a
    recursive walk CTE; DuckDB requires the keyword on the clause head)."""
    assert sql.lstrip().startswith("WITH ")
    return sql.replace("WITH ", "WITH RECURSIVE ", 1)


def sql_text_ctes() -> str:
    """G7 fold + per-task text-level rows, appended after sql_pipeline_ctes.

    The fold is a recursive walk over 1-based task positions: step p
    processes position p+1 and conditionally splits the accumulator at
    ``mpos[p]``.  Triggers read the ORIGINAL texts
    (old/taskseparation.py:33-53); splits apply to the walk state —
    identical to pyref.g7_merge.  (A ``list_reduce`` formulation hits a
    DuckDB 1.0 cross-row vector bug — 'Invalid unicode ... value
    construction' — on full-table runs; the recursive CTE is equivalent and
    stable.)  Callers must promote the statement head to WITH RECURSIVE via
    ``_recursive``.
    """
    mpos = sql_g7_mpos("task_text")
    m = C.G7_MIN_VALID_CHARS
    return f""",
tlists AS (
  SELECT doc_id,
    list(task_number ORDER BY CAST(task_number AS INT)) AS tns,
    list(task_text ORDER BY CAST(task_number AS INT)) AS orig,
    list({mpos} ORDER BY CAST(task_number AS INT)) AS mpos,
    list(points ORDER BY CAST(task_number AS INT)) AS pts
  FROM surviving GROUP BY doc_id
),
walk AS (
  SELECT doc_id, 1 AS p, orig AS acc FROM tlists
  UNION ALL
  SELECT w.doc_id, w.p + 1,
    CASE WHEN w.p + 1 <= len(t.orig)
          AND length(t.orig[w.p + 1]) < {m} AND t.mpos[w.p] <> 0
         THEN list_transform(w.acc, (e, i) -> CASE
                WHEN i = w.p THEN
                  substr(w.acc[w.p], 1, t.mpos[w.p]) || w.acc[w.p + 1]
                WHEN i = w.p + 1 THEN substr(w.acc[w.p], t.mpos[w.p] + 1)
                ELSE e END)
         ELSE w.acc END
  FROM walk w JOIN tlists t USING (doc_id) WHERE w.p < len(t.orig)
),
folded AS (
  SELECT t.doc_id, t.tns, t.orig, t.mpos, t.pts, w.acc AS merged
  FROM tlists t JOIN walk w ON w.doc_id = t.doc_id AND w.p = len(t.orig)
),
texttasks AS (
  SELECT doc_id, tns[i] AS task_number, merged[i] AS merged_raw,
         pts[i] AS points,
         ((i >= 2 AND length(orig[i]) < {m} AND mpos[i-1] <> 0)
          OR (i < len(orig) AND length(orig[i+1]) < {m} AND mpos[i] <> 0))
           AS was_merged
  FROM folded, LATERAL UNNEST(generate_series(1, len(tns))) AS u(i)
)"""


def sql_g7_repair(docs_rel: str, raw: bool = False) -> str:
    """(doc_id, task_number, task_text, was_merged); ``raw`` skips the final
    strip/normalize chain (the applyInPandas twin emits raw merged text)."""
    text = "merged_raw" if raw else sql_normalize_math(
        sql_strip_admin(sql_strip_label("merged_raw"))
    )
    return _recursive(f"""{sql_pipeline_ctes(docs_rel)}{sql_text_ctes()}
SELECT doc_id, task_number, {text} AS task_text, was_merged FROM texttasks""")


def sql_topic_assign(docs_rel: str) -> str:
    chain = sql_normalize_math(sql_strip_admin(sql_strip_label("merged_raw")))
    return _recursive(f"""{sql_pipeline_ctes(docs_rel)}{sql_text_ctes()},
final AS (SELECT doc_id, task_number, {chain} AS task_text FROM texttasks)
SELECT doc_id, task_number, {sql_topic('task_text')} AS topic FROM final""")


def sql_html_ctes() -> str:
    """P13 HTML CTE chain (appended after sql_pipeline_ctes): `html` =
    (doc_id, task_number, task_text_html)."""
    return f""",
houtspans AS (
  SELECT k.doc_id, s.task_number, s.points, k.off,
    {sql_normalize_math(sql_strip_admin("CASE WHEN k.is_marker THEN " + sql_strip_label("k.text") + " ELSE k.text END"))} AS text
  FROM kept k
  JOIN surviving s ON k.doc_id = s.doc_id AND k.task_seq = s.task_seq
  WHERE k.kind = 'text'
),
hparas AS (
  SELECT doc_id, task_number, off, {sql_html_paragraph('text')} AS para
  FROM houtspans WHERE text <> ''
),
hbodies AS (
  SELECT doc_id, task_number,
    string_agg('<p>' || para || '</p>', chr(10) ORDER BY off) AS body
  FROM hparas WHERE para <> '' GROUP BY doc_id, task_number
),
html AS (
  SELECT s.doc_id, s.task_number,
    CASE WHEN b.body IS NULL THEN '<p>Maks poeng: ' || CAST(s.points AS VARCHAR) || '</p>'
         ELSE b.body || chr(10) || chr(10) ||
              '<p>Maks poeng: ' || CAST(s.points AS VARCHAR) || '</p>' END
      AS task_text_html
  FROM surviving s
  LEFT JOIN hbodies b ON b.doc_id = s.doc_id AND b.task_number = s.task_number
)"""


def sql_format_html(docs_rel: str) -> str:
    """P13: <p> per non-empty output text span + points trailer."""
    return f"""{sql_pipeline_ctes(docs_rel)}{sql_html_ctes()}
SELECT doc_id, task_number, task_text_html FROM html"""


def sql_catalog_ctes(docs_rel: str) -> str:
    """Shared catalog CTE chain (pipeline + G7 walk + topic + html +
    per-exam ordering + subject-level set-merges).  Exposes:
    ``ordered`` (tasks with task_seq), ``exam_src``, ``alt``, ``firsts``
    (per-subject topic first-appearance rank), ``stopics``.
    Callers must wrap with ``_recursive``."""
    chain = sql_normalize_math(sql_strip_admin(sql_strip_label("merged_raw")))
    nk = ("CASE WHEN regexp_extract(task_number, '[0-9]+') <> '' "
          "THEN CAST(regexp_extract(task_number, '[0-9]+') AS INT) "
          "ELSE 2147483647 END")
    unk = _q(C.UNKNOWN_TOPIC)
    return f"""{sql_pipeline_ctes(docs_rel)}{sql_text_ctes()}{sql_html_ctes()},
cfinal AS (
  SELECT doc_id, task_number, points, {chain} AS task_text FROM texttasks
),
ctopic AS (
  SELECT doc_id, task_number, {sql_topic('task_text')} AS topic FROM cfinal
),
t0 AS (
  SELECT f.doc_id, d.subject, d.exam_version, d.source_subject_code,
         f.task_number, f.points, t.topic, h.task_text_html
  FROM cfinal f
  JOIN ctopic t USING (doc_id, task_number)
  JOIN html h USING (doc_id, task_number)
  JOIN docfields d USING (doc_id)
),
ordered AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY subject, exam_version
      ORDER BY {nk}, task_number, topic, points, task_text_html) - 1 AS INT)
    AS task_seq
  FROM t0
),
exam_src AS (
  SELECT subject, exam_version,
         min(source_subject_code) AS source_subject_code
  FROM t0 GROUP BY 1, 2
),
alt AS (
  SELECT subject, string_agg(code, ',' ORDER BY code) AS alternate_codes
  FROM (SELECT DISTINCT subject, source_subject_code AS code FROM exam_src
        WHERE source_subject_code <> '' AND source_subject_code <> subject) z
  GROUP BY subject
),
tfirst AS (
  SELECT subject, exam_version, topic, min(task_seq) AS first_seq
  FROM ordered WHERE topic <> {unk} GROUP BY 1, 2, 3
),
ranked AS (
  SELECT subject, topic, row_number() OVER (
      PARTITION BY subject ORDER BY exam_version, first_seq) AS rk
  FROM tfirst
),
firsts AS (
  SELECT subject, topic, min(rk) AS frk FROM ranked GROUP BY 1, 2
),
stopics AS (
  SELECT subject, string_agg(topic, '|' ORDER BY frk) AS subject_topics
  FROM firsts GROUP BY subject
)"""


def sql_catalog_shape(docs_rel: str) -> str:
    """S7/W6 catalog shape, flattened: one row per (subject, exam_version,
    task) with the subject-level set-merges as joined strings.

    Twin of ``subjects_catalog(exams_catalog(extract(...)))`` flattened by
    ``__spark_entry__._q_catalog_shape``.  Covers the reference's
    alternate-code set-merge (object_handling.py:88-101: sorted distinct
    observed codes minus the canonical), the numeric-first task sort
    (object_handling.py:241-246 ``_sort_key``: (first int, str(num)) — W6),
    and first-appearance-ordered mined topics minus ignored (here: none).
    task_seq is the task's 0-based position in the exam's sorted task list;
    ties beyond (int, str) are broken by (topic, points, html) — the same
    residual chain the Spark struct compare uses, so seq assignment agrees.
    """
    return _recursive(f"""{sql_catalog_ctes(docs_rel)}
SELECT o.subject, o.exam_version, e.source_subject_code,
  coalesce(a.alternate_codes, '') AS alternate_codes,
  coalesce(st.subject_topics, '') AS subject_topics,
  o.task_seq, o.task_number, o.topic, o.points, o.task_text_html
FROM ordered o
JOIN exam_src e USING (subject, exam_version)
LEFT JOIN alt a ON a.subject = o.subject
LEFT JOIN stopics st ON st.subject = o.subject""")


def sql_catalog_json(docs_rel: str) -> str:
    """S7 final serialization: the exact per-subject JSON document that
    ``catalog.to_json_catalog`` renders with Spark's ``to_json`` — byte
    equality, not just shape equality (key order, compact separators, raw
    UTF-8, []-not-null empties).

    Twin construction: DuckDB ``json_object``/``json_group_*`` also emit
    compact insertion-ordered keys and raw UTF-8, so the document matches
    verbatim as long as the VALUES line up — which the flattened
    ``sql_catalog_shape`` oracle already pins.  media_refs per task are
    the image spans of the OUTPUT span sequence in output order (images
    sort before text at equal original offset, so among images the
    original offset IS the output order)."""
    return _recursive(f"""{sql_catalog_ctes(docs_rel)},
tmedia AS (
  SELECT k.doc_id, s.task_number,
         list(k.media_ref ORDER BY k.off) AS media_refs
  FROM kept k
  JOIN surviving s ON k.doc_id = s.doc_id AND k.task_seq = s.task_seq
  WHERE k.kind = 'image'
  GROUP BY 1, 2
),
tasks_j AS (
  -- json_group_array/_object are macros in DuckDB 1.0 (no ORDER BY);
  -- list() IS an ordered aggregate and to_json embeds JSON-typed
  -- elements raw, so ordered list -> to_json builds the same documents
  SELECT o.subject, o.exam_version,
         to_json(list(
           json_object('topic', o.topic,
                       'task_number', o.task_number,
                       'points', o.points,
                       'task_text', o.task_text_html,
                       'media_refs',
                       coalesce(m.media_refs, CAST([] AS VARCHAR[])))
           ORDER BY o.task_seq)) AS tasks
  FROM ordered o
  LEFT JOIN tmedia m
    ON m.doc_id = o.doc_id AND m.task_number = o.task_number
  GROUP BY 1, 2
),
exams_j AS (
  SELECT t.subject,
         to_json(map(
           list(t.exam_version ORDER BY t.exam_version),
           list(json_object('source_subject_code', e.source_subject_code,
                            'tasks', t.tasks)
                ORDER BY t.exam_version))) AS exams
  FROM tasks_j t JOIN exam_src e USING (subject, exam_version)
  GROUP BY 1
),
altl AS (
  SELECT subject, list(code ORDER BY code) AS alternate_codes
  FROM (SELECT DISTINCT subject, source_subject_code AS code FROM exam_src
        WHERE source_subject_code <> '' AND source_subject_code <> subject) z
  GROUP BY subject
),
topl AS (
  SELECT subject, list(topic ORDER BY frk) AS topics FROM firsts
  GROUP BY subject
)
SELECT e.subject,
  CAST(json_object(
    'alternate_codes', coalesce(a.alternate_codes, CAST([] AS VARCHAR[])),
    'topics', coalesce(t.topics, CAST([] AS VARCHAR[])),
    'ignored_topics', CAST([] AS VARCHAR[]),
    'exams', e.exams) AS VARCHAR) AS catalog_json
FROM exams_j e
LEFT JOIN altl a USING (subject)
LEFT JOIN topl t USING (subject)""")


def sql_extract_tasks(docs_rel: str) -> str:
    """Task-level extraction: one row per (doc_id, task_number)."""
    return f"""{sql_pipeline_ctes(docs_rel)}
SELECT s.doc_id, d.subject, d.exam_version, s.task_number, s.points
FROM surviving s JOIN docfields d USING (doc_id)
ORDER BY s.doc_id, CAST(s.task_number AS INT)"""


def sql_extract_spans(docs_rel: str) -> str:
    """Exploded output spans: full span-sequence equality surface."""
    return f"""{sql_pipeline_ctes(docs_rel)},
outspans AS (
  SELECT k.doc_id, s.task_number,
    CASE WHEN k.kind = 'image' THEN 0 ELSE 1 END AS img_key,
    k.off, k.kind, k.media_ref,
    {sql_normalize_math(sql_strip_admin("CASE WHEN k.is_marker THEN " + sql_strip_label("k.text") + " ELSE k.text END"))} AS text
  FROM kept k
  JOIN surviving s ON k.doc_id = s.doc_id AND k.task_seq = s.task_seq
),
filtered AS (
  SELECT * FROM outspans WHERE NOT (kind = 'text' AND text = '')
)
SELECT doc_id, task_number,
  CAST(row_number() OVER (PARTITION BY doc_id, task_number
                          ORDER BY img_key, off) - 1 AS INT) AS out_offset,
  kind, text, media_ref
FROM filtered
ORDER BY doc_id, CAST(task_number AS INT), out_offset"""

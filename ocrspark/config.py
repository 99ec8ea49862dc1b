"""Shared constants: the deterministic rule pack parameters.

The one home of every regex / phrase list / threshold that the Spark
pipeline (``rules.py`` / ``segment.py``), the pure-Python test oracle
(``pyref.py``) and the DuckDB oracle SQL (``duckdb_oracle.py``,
``__spark_entry__.py``) share: each engine reads these constants instead of
spelling its own value (the curation ops keep theirs in ``ocrspark/ops/``,
under the same rule).

All regexes are written in the portable subset shared by Java regex (Spark),
RE2 (DuckDB) and Python ``re``: no lookbehind, no backreferences in patterns
that DuckDB must run.  Where the reference used a non-portable construct the
deviation is documented inline.

Rule provenance (reference file:line; LLM call sites per SURVEY.md section 2.9
get deterministic replacements mandated by the north star):
  marker detection    /root/reference/scripts/task_boundaries.py:230-245 (LLM)
                      ancestor regex /root/reference/old/separateTasks.py:14
  points              /root/reference/old/taskseparation.py:5, prompts/extract_points.txt
  admin phrases       /root/reference/old/taskseparation.py:12-19,
                      /root/reference/prompts/remove_exam_admin.txt:3-21
  subject code        /root/reference/prompts/get_subject_code.txt (LLM spec)
  exam version        /root/reference/prompts/get_exam_version.txt (LLM spec),
                      abbrev /root/reference/scripts/task_processing.py:305-311
  short-task drop     /root/reference/scripts/task_boundaries.py:417-433 (50 chars)
  solution sections   /root/reference/old/pdf_contents.py:178-197
  math normalization  /root/reference/scripts/text_normalization.py:3-36
"""

# --------------------------------------------------------------------------
# Segmentation (G1-G4): rising-number start markers.
#
# The reference asks an LLM for start-marker container indices, hinting that
# "a rising number at the start of each container may be a good indicator"
# (scripts/task_boundaries.py:235).  Deterministic replacement: a text span is
# a *candidate* if it starts with an optional "Oppgave"/"Oppgåve" word followed
# by a 1-2 digit number not continued by a digit, '.' or ',' (so "0.5*rho..."
# payload lines, cf. temp_output.txt container 56, are not candidates).
# A candidate is an *accepted* marker iff its number == running max of all
# prior candidate numbers in the doc + 1 ("rising" check, W3).
# --------------------------------------------------------------------------
MARKER_RE = r"^\s*(?:[Oo]ppg[aå]ve\s+)?([0-9]{1,2})([^0-9.,]|$)"
# group index of the task number in MARKER_RE
MARKER_GROUP = 1

# Strip of the leading task label from the marker span's text in the output
# (prompts/remove_exam_admin.txt:23 "Also remove the task number (1, Oppgave 1,
# 1a, a), etc.)").  Portable: no lookahead needed since we anchor at start.
LABEL_STRIP_RE = r"^\s*(?:[Oo]ppg[aå]ve\s+)?[0-9]{1,2}\s*[.):]?\s*"

# F8: a container whose whole text is "Maks poeng[: N]" is never a task start
# (scripts/task_boundaries.py:238).
MAKS_POENG_ONLY_RE = r"^\s*Maks poeng\s*:?\s*[0-9]*\s*$"

# T12 / P10: points from the "Maks poeng: N" trailer
# (old/taskseparation.py:5; prompts/extract_points.txt).  The reference's
# LLM-extracted `points` field often disagrees with the trailer
# (exams.json:22-23); the rebuild is defined to use the trailer.
POINTS_RE = r"Maks poeng\s*:\s*([0-9]+)"

# G8 / P17: solution-section start marker (old/pdf_contents.py:178-197).
# Spans from a solution marker to the end of the task are dropped.
SOLUTION_RE = r"(?i)^\s*l[øo]sning(sforslag)?\b"

# F4: a task whose raw concatenated text is shorter than this is invalid
# (scripts/task_boundaries.py:418-423).
MIN_TASK_TEXT_CHARS = 50

# F6: head/tail admin-task detection: a task is "admin" (not a real task) if
# after admin-phrase stripping + label stripping its text is shorter than
# this.  Replaces the LLM yes/no in scripts/task_boundaries.py:129-202.
MIN_STRIPPED_TASK_CHARS = 50

# The reference checks at most the first/last 5 ranges (CHECKED_TASKS=5,
# scripts/task_boundaries.py:21).  The deterministic rule needs no such
# budget: it keeps the contiguous [first-valid .. last-valid] window, which
# coincides with the reference whenever <=5 leading/trailing ranges are
# admin.

# --------------------------------------------------------------------------
# P12: exam-administration phrase stripping.
# Phrase seeds: old/taskseparation.py:12-19 + prompts/remove_exam_admin.txt:3-21.
# Implemented as a single case-insensitive alternation deleted from span text.
# Portable: plain alternation, RE2-safe.
# --------------------------------------------------------------------------
ADMIN_PHRASES = [
    "Denne oppgaven skal besvares i Inspera[^.]*\\.",
    "Du skal ikke legge ved utregninger p[åa] papir\\.",
    "Skriv enten 1, 2, eller 3 i svarfeltet\\.",
    "Skriv bare [ée]n av bokstavene[^.]*\\.",
    "Skriv ditt svar her[.,]?",
    "Du kan skrive svaret i boksen under[^.]*\\.",
    "Vi anbefaler bruk av Scantron-?ark\\.?",
    "Nederst i oppgaven finner du en sjusifret kode[^.]*\\.",
    "Fyll inn denne koden [^.]*\\.",
    "Etter eksamen finner du besvarelsen din i arkivet i Inspera\\.?",
    "Varslinger vil bli gitt via Inspera\\.?",
    "Kontaktinformasjon til faglærer under eksamen[.:]?",
    "Hjelpemiddelkoder og kalkulatorliste[.:]?",
    "Velg ett alternativ[.:]?",
    "tilgjengelige i arkivet",
    "tekstverkt[øo]yet i Inspera",
    "med InsperaScan",
]
ADMIN_STRIP_RE = "(?i)(" + "|".join(ADMIN_PHRASES) + ")"

# --------------------------------------------------------------------------
# P4: subject-code rule (prompts/get_subject_code.txt).
# Canonical code shape: 2-6 uppercase letters + 4 digits.  When several codes
# of identical length co-occur differing at exactly one position, that
# position is wildcarded: letters -> 'X', digits -> 'Y' (the prompt's
# IFYA/IFYG/IFYT -> IFYX, IMAA2012/IMAA2022 -> IMAX20Y2 rule).
# Portable class: ASCII + ÆØÅ explicitly.
# --------------------------------------------------------------------------
SUBJECT_CODE_RE = r"\b([A-ZÆØÅ]{2,6}[0-9]{4})\b"

# --------------------------------------------------------------------------
# P5 + T8: exam-version rule (prompts/get_exam_version.txt; abbreviation
# scripts/task_processing.py:305-311: first letter in {V,H,K} -> letter +
# last-2 digits of year).
# --------------------------------------------------------------------------
# (?i) is ASCII-only in Java regex, so Æ/Ø/Å case variants are explicit.
SEASON_RE = r"(?i)\b(v[åaÅ]r|h[øoØ]st|kont)\w*\s+(20[0-9][0-9])\b"
EXERCISE_RE = r"(?i)\b([øoØO]ving|arbeidskrav)\s+([0-9]+)\b"

# --------------------------------------------------------------------------
# Stage-1 recovery (S2/S4 replacement): deterministic OCR-artifact repair.
# De-stuttering ancestor: scripts/extract_images.py:300 `(.)\1{2,}` -> `\1`;
# narrowed to punctuation/symbol runs so digit runs ("1000") and legitimate
# double letters survive — the reference applied it only to figure-OCR probes.
# A POSITIVE explicit class: 37x faster than a negated class in Java regex
# (negated classes attempt the backreference at nearly every position), and
# portable to Python re (no \p{Punct} there).
# (Backreference pattern: Python/Java only; never used in DuckDB oracles.)
# --------------------------------------------------------------------------
DESTUTTER_RE = "([!?.\\-—–_*=~#+:;,'\"()\\[\\]{}<>^%&$@/\\\\|•·])\\1{2,}"
# Unicode space canonicalization: Java/RE2 `\s` is ASCII-only while Python's
# is unicode-aware; recovery maps all unicode spaces to ASCII space so every
# downstream `\s` behaves identically across engines.
UNICODE_WS_RE = "[\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
CONTROL_CHARS_RE = "[\x00-\x08\x0b\x0c\x0e-\x1f\u200b\u200c\u200d\ufeff]"

# --------------------------------------------------------------------------
# T2: math-symbol replacement map, applied sequentially in THIS order
# (scripts/text_normalization.py:10-27 dict order matters: '−'->'-' happens
# before '-' gets spaced, '^'->'**' kills the superscript rule downstream).
# Deliberate deviation: the reference's non-raw '\times' literal actually
# contains a TAB escape ('\t'+'imes'); the rebuild emits the intended LaTeX
# '\times' (matching the published catalog exams.json which holds real LaTeX).
# --------------------------------------------------------------------------
MATH_REPLACEMENTS = [
    ("−", "-"),        # unicode minus
    ("×", "\\times"),
    ("÷", "\\div"),
    ("=", " = "),
    ("+", " + "),
    ("-", " - "),
    ("*", " * "),
    ("/", " / "),
    (";", ":"),
    ("∞", "\\infty"),
    ("∑", "\\sum"),
    ("√", "\\sqrt"),
    ("π", "\\pi"),
    ("^", "**"),
]

# T3/T4/T5 (scripts/text_normalization.py:29-33).  Deviations for engine
# portability, each a no-op on the corpus grammar:
#  * `\w` -> explicit ASCII class (Python `\w` is unicode, Java/RE2 ASCII);
#  * the reference's `(?<!\\)` lookbehind on operator spacing is dropped
#    (RE2 has no lookbehind); at this point in the chain a backslash can only
#    precede [a-z] (LaTeX commands), never an operator char, so it was inert.
FRACTION_RE = (r"([0-9]+)\s*/\s*([0-9]+)", r"\\frac{$1}{$2}")
SUBSCRIPT_RE = (r"_([A-Za-z0-9]+)", r"_{$1}")
SUPERSCRIPT_RE = (r"\^([A-Za-z0-9]+)", r"^{$1}")   # dead after '^'->'**', kept for parity
OPERATOR_SPACE_RE = (r"([+\-*/^=()])", r" $1 ")

# --------------------------------------------------------------------------
# G7: legacy short-task forward-merge (old/taskseparation.py:29-66).
# Walking final tasks in order, when task j's ORIGINAL raw text is shorter
# than G7_MIN_VALID_CHARS and task j-1's ORIGINAL text has a late task-heading
# match (at char position >= G7_HEAD_SKIP), split the CURRENT j-1 text at that
# (original) position: head + text_j stays at j-1, the tail moves to j.  The
# reference computes validity and match positions up front and never refreshes
# them during the walk (taskseparation.py:33-55), so every trigger is a pure
# function of the original texts — the walk itself is a sequential fold.
# Pattern portability: (?i) is ASCII-only in Java but unicode in Python/RE2,
# so the one non-ASCII letter is spelled as an explicit [åÅ] class — all
# engines (Spark/Java, pyref/Python, DuckDB/RE2) then agree INCLUDING on
# all-caps 'OPPGÅVE' (previously a documented divergence; the class form
# makes the shared tuple genuinely engine-exact).
# --------------------------------------------------------------------------
G7_MIN_VALID_CHARS = 100   # old/taskseparation.py:38
G7_HEAD_SKIP = 25          # old/taskseparation.py:50
# The reference tries three heading patterns IN ORDER and takes the first
# PATTERN that matches anywhere in text[25:] (old/taskseparation.py:44-53) —
# NOT the earliest match position across patterns.  When a text contains
# both "3 (A)" early and "Oppgave 2" later (both past char 25), the split
# position is Oppgave's, because the oppgave pattern has priority.  Every
# engine (Spark rules.g7_match_pos, pyref.g7_match_pos — which the
# applyInPandas stage merge._merge_doc runs — and duckdb_oracle.sql_g7_mpos)
# folds over this tuple in order, so the priority semantics are shared by
# construction.
G7_TASK_HEAD_PATTERNS = (
    r"(?i)oppgave\s*[0-9]+",        # taskseparation.py:45
    r"(?i)oppg[åÅ]ve\s*[0-9]+",     # taskseparation.py:46
    r"(?i)[0-9]+\s*\(\s*[A-Z]\s*\)",  # taskseparation.py:47
)

# --------------------------------------------------------------------------
# P6/P11 + J3: deterministic topic classification (SURVEY 2.9: "heading/
# keyword match against topic lexicon (categorizer replacement)").
# The reference asks an LLM to pick a topic number from a per-subject enum
# (scripts/task_processing.py:495-513, prompts/identify_topic.txt) and falls
# back to "Unknown Topic" on 0 (:105-107).  Rule replacement: count keyword
# hits per lexicon topic over the lowercased task text; the task's topic is
# the max-hit entry, ties broken by lexicon order (earlier wins), zero hits
# -> UNKNOWN_TOPIC.  Encoded as score = hits * TOPIC_SCORE_BASE + reverse
# rank so argmax is a single greatest() in every engine (Spark / DuckDB /
# Python).  Topic names seed from the reference's own catalog
# (exams.json:4-13) and prompt examples (prompts/exam_topics.txt:8-12).
# Keywords are lowercase literals, alternation order = listed order
# (leftmost-first matching agrees across Java regex, RE2 and Python re).
# One regexp_count scan per topic: a single combined-alternation scan with
# array-membership attribution was measured ~5x SLOWER on Spark (array HOFs
# run interpreted; 8 codegen'd scans beat one scan + match materialization).
# --------------------------------------------------------------------------
UNKNOWN_TOPIC = "Unknown Topic"
TOPIC_SCORE_BASE = 1_000_000
TOPIC_LEXICON = [
    ("Rotasjonsdynamikk", ["ruller", "sylinder", "rotasjon", "treghetsmoment",
                           "vinkelfart", "dreiemoment", "rullebetingelse"]),
    ("Fluidmekanikk", ["massetetthet", "oppdrift", "reservoar", "fluid",
                       "strømning", "bernoulli", "tappes", "volumstrøm"]),
    ("Svingninger", ["svingetid", "svingning", "svinge", "pendel",
                     "fjærkonstant", "fjær", "harmonisk", "demp", "utslaget"]),
    ("Bølgefysikk", ["bølge", "frekvens", "interferens", "amplitude",
                     "lydfart", "brytning"]),
    ("Energi og Arbeid", ["energi", "arbeid", "berg-og-dalbane", "kinetisk",
                          "potensiell", "effekt", "watt"]),
    ("Dynamikk", ["kraft", "krefter", "friksjon", "skråplan", "newton",
                  "glir", "tyngde", "normalkraft", "luftmotstand"]),
    ("Kinematikk", ["akselerasjon", "fart", "hastighet", "bevegelse",
                    "kastes", "skytes", "posisjon", "faller"]),
    # lowest priority: "funksjon" also appears in physics phrasing ("som
    # funksjon av tiden"), so Programmering must win on hit COUNT, never ties
    ("Programmering", ["python", "numpy", "kode", "funksjon", "programmet",
                       "import ", "def ", "return", "numerisk"]),
]

# --------------------------------------------------------------------------
# P13: deterministic HTML templating (prompts/format_html_output.txt;
# call site scripts/task_processing.py:520-532).  The published catalog's
# task_text is HTML (exams.json:21).  Rule replacement:
#   * one <p> paragraph per output text span (paragraph = layout container),
#   * inline "Maks poeng" fragments removed from paragraphs,
#   * "figuren under/nedenfor" -> "figuren over" (format_html_output.txt:13;
#     images always render before the task text),
#   * trailer paragraph "Maks poeng: X" from the task's extracted points
#     (format_html_output.txt:16-18), separated by a blank line.
# --------------------------------------------------------------------------
HTML_POINTS_STRIP_RE = r"Maks poeng\s*:?\s*[0-9]*"
HTML_FIGURE_RE = r"(?i)(figuren)\s+(under|nedenfor)"
HTML_FIGURE_SUB = " over"   # applied as: $1 + HTML_FIGURE_SUB

# --------------------------------------------------------------------------
# Output contract: images render before the task text
# (web/OCRacle.html:283-310; prompts/format_html_output.txt:13).
# Output spans per task are images (by input offset) then texts (by input
# offset), re-offset densely from 0.
# --------------------------------------------------------------------------
IMAGE_KIND = "image"
TEXT_KIND = "text"

# Default number of doc_id hash buckets for checkpointed runs (mirrors the
# Iceberg partition spec bucket(N, doc_id); small default for local testing).
DEFAULT_BUCKETS = 16

"""Deterministic synthetic span-table corpus (FIXTURES.md sections 1-2, 5).

Every document is a pure function of ``(seed, doc_index)`` — reproducible at
any scale, on any partitioning, with no driver-side loops: generation runs
distributed via ``mapInPandas`` over ``spark.range(n)``.

The grammar mirrors the reference's real container dump
(/root/reference/scripts/temp_output.txt — interleaved text/image containers,
bare rising-number markers, "Maks poeng: N" trailers, Inspera admin phrases,
unicode math payloads) and exercises every drop/strip rule in the pipeline.

Ground truth is derived by running ``ocrspark.pyref`` (the executable spec) on
the generated spans, so `pipeline(docs) == expected` is a genuine differential
test of the Spark implementation against the specification.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from . import pyref
from .schema import DOCS_SCHEMA, EXTRACTIONS_SCHEMA

SUBJECT_FAMILIES = [
    # (header codes in order of appearance, merged canonical code)
    (["IFYT1001"], "IFYT1001"),
    (["IMAT2021"], "IMAT2021"),
    (["TDT4102"], "TDT4102"),
    (["INGT1002"], "INGT1002"),
    (["MAST2200"], "MAST2200"),
    (["IFYA1001", "IFYG1001", "IFYT1001"], "IFYX1001"),
    (["IMAA2012", "IMAA2022", "IMAG2012", "IMAG2022"], "IMAX20Y2"),
]

SEASONS = [("Vår", "V"), ("Høst", "H"), ("Kont", "K")]
YEARS = list(range(2019, 2026))

SENTENCES = [
    "En kloss med masse m glir med konstant fart nedover et skråplan med helningsvinkel θ.",
    "Figuren under viser akselerasjonsgrafen for en som løper hundre meter på bane.",
    "En pil skytes med horisontal startfart mot en vegg i horisontal avstand fra skytteren.",
    "Bestem den vertikale avstanden mellom siktelinja og punktet der pilen treffer veggen.",
    "En ball kastes loddrett oppover med en viss startfart og faller ned igjen til utgangspunktet.",
    "En vogn i en berg-og-dalbane starter med null startfart fra en høyde over det laveste punktet.",
    "Vi ser bort fra friksjon og luftmotstand i hele denne oppgaven her.",
    "En homogen massiv sylinder ruller rettlinjet uten å gli nedover et skråplan.",
    "Hva blir svingetiden for svingningene når utslaget er lite og friksjonen neglisjeres?",
    "En stående bølge er gitt ved uttrykket under, der amplituden er konstant.",
    "Olje med massetetthet ρ skal tappes fra et reservoar på havbunnen gjennom et rør.",
    "Hvilken påstand om den resulterende bølgen er riktig når de to bølgene møtes?",
]

MATH_SNIPPETS = [
    "v_0 = 3/4 × 10^2 m/s", "E = m×c^2 − W", "√2 ÷ π ≈ 0,45",
    "∑ F = m×a; a = 9,81", "x_1 + x_2 = ∞", "T = 2π√(m/k)",
]

MC_OPTIONS = [
    "Løperen løper med jevnt økende fart fra start til mål.",
    "Løperen holder tilnærmet konstant fart gjennom hele løpet.",
    "Resulterende bølge blir en stående bølge med maksimal amplitude.",
    "Avhenger av tallverdien til massen.",
    "Graf A viser riktig sammenheng mellom kraft og forlengelse.",
]

IMAGE_OCR_NOISE = ["", "Start", "——— —— —", "Slipper seg herifra", "2h", ""]

ADMIN_SENTENCES = [
    "Denne oppgaven skal besvares i Inspera. Du skal ikke legge ved utregninger på papir.",
    "Du kan skrive svaret i boksen under, eller skrive på Scantronark som leveres for innskanning.",
    "Vi anbefaler bruk av Scantron-ark.",
    "Skriv ditt svar her",
    "Velg ett alternativ:",
]

HEADER_ADMIN = [
    "Etter eksamen finner du besvarelsen din i arkivet i Inspera.",
    "Varslinger vil bli gitt via Inspera.",
    "Hjelpemiddelkoder og kalkulatorliste: se emnesiden.",
    "Kontaktinformasjon til faglærer under eksamen: se Inspera.",
]

POINTS_POOL = [1, 2, 2, 2, 4, 5, 15]


def make_doc(seed: int, index: int, fat_doc_rate: float = 0.0,
             portable: bool = False) -> tuple[str, list[tuple[str, str, str, int]]]:
    """Build one document's span list. Pure function of (seed, index).

    ``portable=True`` avoids content whose recovery needs regex
    backreferences (stutter runs, long dash runs) so the DuckDB oracle —
    RE2 has no backrefs — can reproduce the pipeline exactly; the de-stutter
    path keeps its own pytest coverage on the default profile.
    """
    rng = np.random.default_rng([seed, index])
    fam_codes, subject = SUBJECT_FAMILIES[int(rng.integers(len(SUBJECT_FAMILIES)))]
    season_word, _ = SEASONS[int(rng.integers(len(SEASONS)))]
    year = int(YEARS[int(rng.integers(len(YEARS)))])
    version = season_word[0].upper() + str(year)[-2:]
    doc_id = f"{subject}_{version}_{index:09d}"

    fat = fat_doc_rate > 0 and rng.random() < fat_doc_rate
    n_tasks = int(rng.integers(40, 90)) if fat else int(rng.integers(8, 21))
    body_scale = int(rng.integers(8, 25)) if fat else 1

    spans: list[tuple[str, str, str, int]] = []  # (kind, text, media_ref, offset)

    def add(kind: str, text: str, media_ref: str = "") -> None:
        spans.append((kind, text, media_ref, len(spans)))

    # --- header / admin preamble (task "0") --------------------------------
    code_list = ", ".join(fam_codes)
    add("text", f"Emnekode {code_list} — Eksamen {season_word.lower()} {year}.")
    for _ in range(int(rng.integers(1, 3))):
        add("text", HEADER_ADMIN[int(rng.integers(len(HEADER_ADMIN)))])

    # --- optional leading admin pseudo-task (exercises head-drop+renumber) --
    lead_admin = rng.random() < 0.15
    first_n = 1
    if lead_admin:
        add("text", "1 Generell informasjon: "
            + "Etter eksamen finner du besvarelsen din i arkivet i Inspera. "
            + "Varslinger vil bli gitt via Inspera.")
        first_n = 2

    # --- degenerate short task position (exercises F4 gap-drop) ------------
    degenerate_at = int(rng.integers(2, n_tasks)) if (n_tasks > 3 and rng.random() < 0.2) else -1

    # --- G7 glued-boundary case: the next task's heading text sits late
    # inside this task's last container (missed boundary), and the next task
    # itself is a short stub (raw 50..99) -> the G7 forward-merge fires.
    g7_at = -1
    if n_tasks > 4 and rng.random() < 0.15:
        g7_at = int(rng.integers(1, n_tasks - 2))
        if degenerate_at in (g7_at, g7_at + 1):
            g7_at = -1

    seq_per_task: dict[int, int] = {}
    for t in range(n_tasks):
        n = first_n + t
        if n > 99:
            break  # marker grammar is 1-2 digits
        stutter = (not portable) and rng.random() < 0.1
        sent = SENTENCES[int(rng.integers(len(SENTENCES)))]
        if t == degenerate_at:
            add("text", f"{n} Se figur.")
            add("text", f"Maks poeng: {POINTS_POOL[int(rng.integers(len(POINTS_POOL)))]}")
            continue
        if t == g7_at + 1 and g7_at >= 0:
            # short stub task: survives F4 (>=50 raw chars) but is G7-invalid
            # (<100); its real content was glued into the previous task below
            add("text", f"{n} Se figur og svar kort her.")
            add("text", "Begrunn svaret kort.")
            add("text", f"Maks poeng: {POINTS_POOL[int(rng.integers(len(POINTS_POOL)))]}")
            continue
        # start marker: bare number / Oppgave / Oppgåve (nynorsk variant)
        style = rng.random()
        if style < 0.6:
            add("text", f"{n} {sent}")
        elif style < 0.85:
            add("text", f"Oppgave {n} {sent}")
        else:
            add("text", f"Oppgåve {n} {sent}")
        # images precede body text (FIXTURES.md section 2; output contract
        # web/OCRacle.html:283-310 renders images first)
        n_img = int(rng.integers(0, 3))
        for s in range(n_img):
            k = seq_per_task.get(n, 0)
            seq_per_task[n] = k + 1
            noise = IMAGE_OCR_NOISE[int(rng.integers(len(IMAGE_OCR_NOISE)))]
            if portable:
                noise = noise.replace("———", "—")
            ref = f"{subject}_{version}_{n}_{k}.png"
            add("image", noise, ref)
            # duplicate figure: same media_ref appears again (kept in the
            # span sequence; J5 suppresses it in the media inventory)
            if rng.random() < 0.15:
                add("image", noise, ref)
        # body text, math payloads, admin noise
        for _ in range(int(rng.integers(1, 5)) * body_scale):
            body = SENTENCES[int(rng.integers(len(SENTENCES)))]
            if rng.random() < 0.4:
                body += " " + MATH_SNIPPETS[int(rng.integers(len(MATH_SNIPPETS)))]
            if stutter and rng.random() < 0.5:
                body += " !!!???...."
            add("text", body)
        if rng.random() < 0.3:
            add("text", ADMIN_SENTENCES[int(rng.integers(len(ADMIN_SENTENCES)))])
        # multiple-choice options
        if rng.random() < 0.4:
            add("text", "Velg ett alternativ:")
            for _ in range(int(rng.integers(2, 6))):
                add("text", MC_OPTIONS[int(rng.integers(len(MC_OPTIONS)))])
        # solution-section noise (dropped by G8)
        if rng.random() < 0.08:
            add("text", "Løsningsforslag: svaret er gitt ved formelen under.")
            add("text", "Dette er fasit-tekst som ikke skal med i oppgaven.")
        # stray "Maks poeng"-only container mid-task (F8: not a task start)
        if rng.random() < 0.05:
            add("text", "Maks poeng:")
        # glued next-task heading, late in this task's text (G7 trigger);
        # mid-span so it is never a G2 marker candidate
        if t == g7_at:
            add("text", "Resten av teksten nedenfor hører til neste del. "
                f"Oppgave {n + 1} Beregn størrelsen som er beskrevet i "
                "figuren og begrunn svaret ditt grundig.")
        add("text", f"Maks poeng: {POINTS_POOL[int(rng.integers(len(POINTS_POOL)))]}")

    # --- trailing admin pseudo-task (exercises tail-drop) -------------------
    if rng.random() < 0.15:
        n = first_n + n_tasks
        if n <= 99:
            add("text", f"{n} Informasjon om sensur: "
                + "Etter eksamen finner du besvarelsen din i arkivet i Inspera.")
    # --- trailing appendix without marker (glued to last task) --------------
    if rng.random() < 0.1:
        add("text", "Vedlegg: formelark og konstanter er vedlagt som egen fil.")

    return doc_id, spans


def _doc_batch(seed: int, idx: np.ndarray, fat_doc_rate: float) -> pd.DataFrame:
    rows = []
    for i in idx:
        doc_id, spans = make_doc(seed, int(i), fat_doc_rate)
        rows.append({
            "doc_id": doc_id,
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in spans
            ],
        })
    return pd.DataFrame(rows)


def generate_docs(spark, n_docs: int, seed: int = 42, fat_doc_rate: float = 0.0,
                  partitions: int | None = None):
    """Distributed docs table: (doc_id, spans). No driver-side loop."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _doc_batch(seed, pdf["id"].to_numpy(), fat_doc_rate)

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def expected_extractions(spark, n_docs: int, seed: int = 42,
                         fat_doc_rate: float = 0.0, partitions: int | None = None):
    """Ground-truth extractions per the pyref spec (test oracle)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                doc_id, spans = make_doc(seed, int(i), fat_doc_rate)
                out = pyref.extract_doc(doc_id, spans)
                for task in out.tasks:
                    rows.append({
                        "doc_id": out.doc_id,
                        "subject": out.subject,
                        "exam_version": out.exam_version,
                        "source_subject_code": out.source_subject_code,
                        "task_number": task.task_number,
                        "points": task.points,
                        "topic": task.topic,
                        "task_text": task.task_text,
                        "task_text_html": task.task_text_html,
                        "was_merged": task.was_merged,
                        "spans": [
                            {"kind": s.kind, "text": s.text,
                             "media_ref": s.media_ref, "offset": s.offset}
                            for s in task.spans
                        ],
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in EXTRACTIONS_SCHEMA.fields])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=EXTRACTIONS_SCHEMA)
    )

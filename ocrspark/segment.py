"""Stage 2: rule-based task segmentation (pure window/aggregate catalyst).

Re-expresses the reference's marker->range->assignment flow
(/root/reference/scripts/task_boundaries.py:215-291, LLM-driven) as
deterministic sessionization (SURVEY.md G1-G4, W2-W3):

  candidate  = leading rising-number regex             (G2)
  accepted   = candidate == running-max(prior)+1       (W3 rising check)
  task_seq   = running count of accepted markers       (G3 sessionization)
  solution   = per-task cumulative flag -> drop        (G8)
  head/tail  = stripped-length admin window            (F6/F7 replacement)
  renumber   = position in surviving task array        (task_boundaries.py:324-326)
  F4         = raw length < 50 -> drop, keep gaps      (task_boundaries.py:418-423)

Physical shape (asserted in tests/test_plan.py): ONE data-sized exchange —
hash(doc_id) for the sessionization window.  Both follow-up aggregations
(groupBy(doc_id, task_seq), then groupBy(doc_id)) are satisfied by
hash(doc_id) partitioning, so no further exchange, no join, and the input is
scanned exactly once.  Doc-level decisions (admin window, renumbering, F4,
subject/version) happen as array expressions on the one-row-per-doc
aggregate — the Spark translation of the reference's whole-document
list-walk, without leaving the JVM.

Memory bound: one doc's spans as one array row (the reference holds the same
whole-document state in Python lists); Arrow never sees these arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import config as C
from . import rules
from .session import per_jvm


def sessionize(flat: DataFrame) -> DataFrame:
    """flat spans -> + (is_marker, task_seq, in_solution).

    PERF (r7): every window function shares the ONE (doc_id, offset)
    ordering (the old per-(doc_id, task_seq) in_solution window demanded
    its own full-width Sort of the span stream), and the functions are
    packed into TWO Window passes instead of three: pass 1 evaluates the
    raw-column functions (prior-candidate running max; running max offset
    of solution starts), pass 2 the is_marker-derived ones (task_seq;
    running max offset of markers).  ``in_solution`` then falls out as a
    row-local comparison: a span is inside a solution section iff the most
    recent solution start is MORE RECENT than the most recent task start
    (a marker row increments task_seq at its own row, so the current task
    began at the last marker offset; a solution start belongs to the
    current task iff it came after that marker — or any solution start at
    all while still in the pre-marker task 0).  Marker/solution patterns
    are mutually exclusive, and offsets are ASSUMED unique per doc (the
    generated corpus holds this; nothing checks it): with duplicate
    offsets the window order on ties is arbitrary and the result diverges
    from pyref's stable sort (ROADMAP direction 2).  Equivalence to the
    original per-task window form is pinned by
    test_in_solution_single_sort_equals_per_task_window."""
    args1, pass1, is_marker, args2, pass2, fixups = _sessionize_columns()
    # Window arguments are precomputed as plain attribute columns and both
    # functions of a pass sit in ONE projection: Spark otherwise hoists
    # each non-trivial window argument into its own child Project, and the
    # interposed Project stops CollapseWindow from merging same-spec
    # Window nodes (observed: 4 single-function passes instead of 2).
    df = flat.withColumns(args1).select("*", *pass1)
    df = df.withColumn("is_marker", is_marker).withColumns(args2)
    df = df.select("*", *pass2).withColumns(fixups)
    return df.drop("cand_n", "sol", "sol_off", "run_max_prior", "sol_prior",
                   "marker_int", "marker_off", "task_prior", "marker_prior")


@per_jvm
def _sessionize_columns():
    """sessionize's columns, step by step: window-1 arguments, window-1
    functions, is_marker, window-2 arguments, window-2 functions, then the
    row-local fixups (task_seq, in_solution)."""
    w_doc = Window.partitionBy("doc_id").orderBy("offset")
    prior = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    cand = rules.marker_candidate_number(F.col("kind"), F.col("text"))
    sol = rules.is_solution_start(F.col("kind"), F.col("text"))
    args1 = {"cand_n": cand, "sol": sol,
             "sol_off": F.when(sol, F.col("offset"))}
    # Window pass 1: prior-candidate running max + prior solution-start
    # offset (one node — shared partition, order AND frame).
    pass1 = (
        F.max("cand_n").over(prior).alias("run_max_prior"),
        F.max("sol_off").over(prior).alias("sol_prior"),
    )
    is_marker = F.col("cand_n").isNotNull() & (
        F.col("cand_n") == F.coalesce(F.col("run_max_prior"), F.lit(0)) + 1)
    args2 = {
        "marker_int": F.col("is_marker").cast("int"),
        "marker_off": F.when(F.col("is_marker"), F.col("offset")),
    }
    # Window pass 2 (same shared frame): prior marker count + prior marker
    # offset; the at-or-before-current values are row-local fixups below.
    pass2 = (
        F.sum("marker_int").over(prior).alias("task_prior"),
        F.max("marker_off").over(prior).alias("marker_prior"),
    )
    last_sol = F.when(F.col("sol"), F.col("offset")).otherwise(F.col("sol_prior"))
    last_marker = F.when(F.col("is_marker"), F.col("offset")).otherwise(
        F.col("marker_prior")
    )
    fixups = {
        "task_seq": F.coalesce(F.col("task_prior"), F.lit(0).cast("long"))
        + F.col("marker_int"),
        "in_solution": F.when(last_sol.isNull(), F.lit(False))
        .when(last_marker.isNull(), F.lit(True))
        .otherwise(last_sol > last_marker),
    }
    return args1, pass1, is_marker, args2, pass2, fixups


def aggregate_tasks(sessionized: DataFrame) -> DataFrame:
    """Solution-drop + per-(doc, task) array aggregation and task census.

    groupBy(doc_id, task_seq) is satisfied by the window's hash(doc_id)
    partitioning: complete groups form map-side, no exchange.

    PERF (r7): the per-span OUTPUT text (label-strip on the marker span ->
    admin-strip -> math-normalize, assemble's span chain) is computed HERE,
    as a row-level whole-stage-codegen projection on the flat span rows,
    and carried into the collected struct as ``out_text`` — assemble's
    array lambdas (interpreted, no codegen/CSE) then only re-slice field
    references.  Honest accounting: the regex work itself dominates and is
    position-independent, so the end-to-end delta was within host noise;
    the value is the guarantee (single evaluation, codegen-visible, guards
    applicable) and that it unblocked the pass-count cuts in rules.py.
    ``is_marker`` is consumed by the chain here and no longer needed
    downstream, so the struct swaps it for ``out_text``.
    """
    keep, out_text, aggs, task_text, per_task = _aggregate_columns()
    kept = sessionized.filter(keep).withColumn("out_text", out_text)
    tasks = kept.groupBy("doc_id", "task_seq").agg(*aggs)
    return tasks.withColumn("task_text", task_text).withColumns(per_task)


@per_jvm
def _aggregate_columns():
    """aggregate_tasks' columns: the kept-span filter, out_text, the
    per-task aggregates, task_text, then the task_text-derived scalars."""
    out_text = rules.normalize_math(
        rules.strip_admin(
            F.when(F.col("is_marker"), rules.strip_label(F.col("text")))
            .otherwise(F.col("text"))
        ),
        pre_squeezed=True,
    )
    aggs = (
        F.array_sort(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref", "out_text"))
        ).alias("sp"),
        F.sum(F.length("text")).alias("raw_len"),
    )
    task_text = F.array_join(
        F.transform(
            F.filter(F.col("sp"), lambda x: x["text"] != ""), lambda x: x["text"]
        ),
        " ",
    )
    per_task = {
        "stripped_len": F.length(
            rules.strip_admin(rules.strip_label(F.col("task_text")))),
        # G7 heading position as a per-task SCALAR here (codegen'd, one
        # regex per task row).  Computing it later over the nested task
        # array would run inside interpreted lambdas, where optimizer
        # inlining re-evaluates the regex once per consumer site (measured
        # ~2x on the whole pipeline).
        "mpos": rules.g7_match_pos(F.col("task_text")),
        "points": rules.extract_points(F.col("task_text")),
    }
    return ~F.col("in_solution"), out_text, aggs, task_text, per_task


def nest_per_doc(tasks: DataFrame,
                 expected: DataFrame | None = None) -> DataFrame:
    """Head/tail admin window (F6/F7), renumbering (G4/J6), F4 drop — as
    ROW-LEVEL window functions — then ONE nesting aggregation per doc.

    All of these key on doc_id (supersets), so the sessionization window's
    hash(doc_id) partitioning satisfies every step: zero additional
    exchanges.  The task array and the doc text become AGGREGATE OUTPUT
    attributes; this matters for performance — derived-array formulations of
    the same logic get inlined by the optimizer into every consumer site and
    re-built the task array (with all span payloads) ~7x per row (measured
    2x on the whole pipeline).

    The doc text for subject/version/source (P4/P5) is the ordered concat of
    ALL per-task texts (head/tail-dropped tasks included, as the reference
    reads the whole document) — identical to the global span-text concat
    since both skip empties and join on single spaces.
    """
    valid_seq, bounds, widx, aggs, codes, subject, per_doc = _nest_columns(
        expected is None)
    # argument precomputed + both functions in one projection so they share
    # ONE Window node (see sessionize's CollapseWindow note)
    df = tasks.withColumn("valid_seq", valid_seq).select("*", *bounds)
    df = df.drop("valid_seq").withColumn("widx", widx)
    if expected is not None:
        df = df.join(
            F.broadcast(expected.select("doc_id", "expected_tasks")),
            "doc_id", "left",
        )
    nested = df.groupBy("doc_id").agg(*aggs).withColumn("codes", codes)
    # subject keeps its own projection: in one with the other two, the
    # optimizer moves exam_version down into the codes projection instead
    # (same rows, another plan)
    nested = nested.withColumn("subject", subject)
    return nested.withColumns(per_doc).drop("codes")


@per_jvm
def _nest_columns(unaligned: bool):
    """nest_per_doc's columns: the window argument, the window bounds,
    widx, the per-doc aggregates, the subject-code list, the subject, then
    the version and source code.  ``unaligned``: no ``expected`` join, so
    task numbers are the 1-based positions."""
    # PERF (r7): the whole-partition min/max windows take the SAME
    # (doc_id, task_seq) sort order as the running widx window (their frame
    # is explicitly unbounded, so ordering cannot change their values);
    # sharing the order lets the widx window reuse the first window's sort
    # instead of planning its own full Sort of the task stream.
    w_doc = Window.partitionBy("doc_id").orderBy("task_seq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.partitionBy("doc_id").orderBy("task_seq")
    valid_seq = F.when(
        (F.col("task_seq") >= 1)
        & (F.col("stripped_len") >= C.MIN_STRIPPED_TASK_CHARS),
        F.col("task_seq"),
    )
    bounds = (
        F.min("valid_seq").over(w_doc).alias("first_valid"),
        F.max("valid_seq").over(w_doc).alias("last_valid"),
    )
    in_window = (F.col("task_seq") >= F.col("first_valid")) & (
        F.col("task_seq") <= F.col("last_valid")
    )
    # position among in-window tasks (0-based); junk value outside the window
    widx = F.sum(in_window.cast("int")).over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    ) - 1
    exp_arr = (F.lit(None).cast("array<string>") if unaligned
               else F.col("expected_tasks"))
    task_number = F.coalesce(
        F.get(exp_arr, F.col("widx")), (F.col("widx") + 1).cast("string")
    )
    survive = in_window & (F.col("raw_len") >= C.MIN_TASK_TEXT_CHARS)
    task_struct = F.when(
        survive,
        F.struct(
            F.col("widx").alias("widx"),
            task_number.alias("task_number"),
            F.col("points").alias("points"),
            F.col("task_text").alias("task_text"),
            F.col("mpos").alias("mpos"),
            F.col("sp").alias("sp"),
        ),
    )
    doc_text_struct = F.when(
        F.col("task_text") != "",
        F.struct(F.col("task_seq").alias("k"), F.col("task_text").alias("t")),
    )
    aggs = (
        F.array_sort(F.collect_list(task_struct)).alias("tasks0"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(doc_text_struct)), lambda x: x["t"]
            ),
            " ",
        ).alias("doc_text"),
    )
    # PERF (r7): bind the subject-code match list ONCE.  merge_subject_codes
    # references its input three times and the source code a fourth — as
    # inline expressions each reference re-ran regexp_extract_all over the
    # full doc text (4 corpus-sized regex passes; CollapseProject keeps an
    # expensive alias bound, so this is one pass + cheap array ops).
    # source_subject_code == codes[0] exactly: the pattern's group 1 is
    # non-empty on any match, so first-match extract and element 0 of
    # extract_all coincide, and both map no-match to UNKNOWN.
    codes = rules.subject_codes(F.col("doc_text"))
    subject = rules.merge_subject_codes(F.col("codes"))
    per_doc = {
        "exam_version": rules.extract_version(F.col("doc_text")),
        "source_subject_code": F.coalesce(
            F.get(F.col("codes"), 0), F.lit("UNKNOWN")),
    }
    return valid_seq, bounds, widx, aggs, codes, subject, per_doc


def _empty_int_array() -> Column:
    return F.array().cast("array<int>")


def _g7_trigger(orig: Column, mpos: Column, j: Column) -> Column:
    """Task *j* is short and task *j-1* has a late heading (pyref.g7_merge)."""
    return (F.length(F.get(orig, j)) < C.G7_MIN_VALID_CHARS) & (
        F.get(mpos, j - 1) != 0
    )


def g7_merged_texts(orig: Column, mpos: Column) -> Column:
    """G7 forward-merge as a pure catalyst fold (pyref.g7_merge).

    ``orig``: array<string> of the surviving tasks' original raw texts in
    task-number order; ``mpos``: the per-task late-heading positions
    (``rules.g7_match_pos`` of each ``orig`` element).  Triggers (validity +
    heading position) are pure functions of the ORIGINAL texts
    (old/taskseparation.py:33-53 computes both up front); only the text
    splits walk sequentially, so the whole repair is one ``aggregate`` over
    indices — no UDF, no extra exchange.  (The sanctioned ``applyInPandas``
    twin lives in ocrspark.merge and is differentially tested against this
    fold.)

    PERF: ``select_tasks`` passes ``orig``/``mpos`` as ``transform``
    expressions over the nested task array, not bound columns.  Array
    lambdas run interpreted, so an expression argument is re-evaluated on
    every ``F.get`` inside the fold; binding both as columns measured
    within noise of this form (medians 0.60 and 0.65 s on 24 fat docs,
    4 cores).

    NB: ``sequence(a, b)`` descends when a > b, so empty/singleton arrays are
    guarded explicitly.
    """
    n = F.size(orig)
    seq = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(_empty_int_array())

    def step(acc: Column, j: Column) -> Column:
        head = F.get(acc, j - 1)
        split = F.get(mpos, j - 1)
        updated = F.transform(
            acc,
            lambda e, i: F.when(
                i == j - 1, F.concat(head.substr(F.lit(1), split), F.get(acc, j))
            )
            .when(i == j, head.substr(split + 1, F.length(head)))
            .otherwise(e),
        )
        return F.when(_g7_trigger(orig, mpos, j), updated).otherwise(acc)

    return F.aggregate(seq, orig, step)


def g7_merged_flags(orig: Column, mpos: Column) -> Column:
    """was_merged flags: task i touched iff trigger(i) or trigger(i+1).
    Same bound-column contract as g7_merged_texts."""
    n = F.size(orig)

    def trig_at(j: Column) -> Column:
        return F.coalesce((j >= 1) & _g7_trigger(orig, mpos, j), F.lit(False))

    idxs = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(_empty_int_array())
    return F.transform(idxs, lambda i: trig_at(i) | trig_at(i + 1))


def select_tasks(nested: DataFrame, merge: bool = True) -> DataFrame:
    """G7 merge fold + final task-struct assembly over the nested task array.

    ``tasks0`` is an aggregate attribute, so the extraction transforms here
    stay cheap even when the optimizer inlines them into every consumer site
    (ints/string refs only — the heavy array build happened once in the
    aggregation; mpos was a codegen'd scalar per task row)."""
    return nested.select(
        "doc_id", "subject", "exam_version", "source_subject_code",
        _tasks_column(merge),
    )


@per_jvm
def _tasks_column(merge: bool) -> Column:
    orig = F.transform(F.col("tasks0"), lambda x: x["task_text"])
    if merge:
        mpos = F.transform(F.col("tasks0"), lambda x: x["mpos"])
        merged = g7_merged_texts(orig, mpos)
        flags = g7_merged_flags(orig, mpos)
    else:
        merged, flags = orig, F.transform(orig, lambda _: F.lit(False))
    return F.zip_with(
        F.col("tasks0"),
        F.arrays_zip(merged.alias("mt"), flags.alias("fl")),
        lambda x, m: F.struct(
            x["task_number"].alias("task_number"),
            x["points"].alias("points"),
            m["mt"].alias("task_text_raw"),
            m["fl"].alias("was_merged"),
            x["sp"].alias("sp"),
        ),
    ).alias("tasks")


def segment(flat: DataFrame, merge: bool = True,
            expected: DataFrame | None = None) -> DataFrame:
    """flat spans -> one row per doc with surviving numbered task array.

    ``expected``: optional (doc_id, expected_tasks array<string>) broadcast
    map — J6 positional alignment (task_boundaries.py:280-283: range i takes
    expected_tasks[i] when provided, else str(i+1))."""
    return select_tasks(
        nest_per_doc(aggregate_tasks(sessionize(flat)), expected=expected),
        merge=merge,
    )

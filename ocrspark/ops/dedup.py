"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shape: never all-pairs.  Exact dedup is one hash-groupBy; near-dup
candidates come from LSH band buckets (pairs only within a bucket), then an
exact Jaccard verify on the candidates.  All hashing is md5-prefix based so
the DuckDB oracle reproduces results bit-for-bit.

Cross-engine primitives: ``_h48`` is the one 48-bit md5-prefix integer hash
and ``_words`` the one word tokenizer (with ``_word_grams`` the one n-gram
builder and ``_canon`` the one canonical text) of the curation ops here, in
``textstats`` and in ``sampling``.  Both engines are built from the one
whitespace class ``WHITESPACE`` (Java's ``\\s`` written out, see
``_n_tokens``) and the one case fold ``_fold``.  Each has one DuckDB twin in
``__spark_entry__`` (``_sql_h48``, ``_sql_words``, ``_sql_grams``,
``_CANON``, ``_sql_n_tokens``, ``_sql_fold``), and
``tests/test_primitives.py`` checks that each pair agrees.  The module
constants are also the DuckDB twins' constants: the ``_sql_*`` builders read
them (and ``_jaccard_bp``) instead of spelling their own values.

MinHash constants: 8 permutations (a_j * h + b_j) mod p over 48-bit shingle
hashes; p = 2^31-1 keeps products < 2^63 (no bigint overflow under ANSI).
Bands: 4 bands x 2 rows — near-dup probability curve suited to jaccard>=0.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

P = 2_147_483_647  # 2^31 - 1
MINHASH_A = [1299721, 1299817, 1300033, 1300109, 1300211, 1300297, 1300393, 1300481]
MINHASH_B = [15485863, 15485867, 15485917, 15485927, 15485933, 15485941, 15485959, 15485989]
N_HASH = 8
N_BANDS = 4
ROWS_PER_BAND = 2
SIMHASH_BITS = 32


# Java's \s, spelled out: RE2's \s lacks U+000B.  Used inside [] classes.
WHITESPACE = r"\t\n\x0B\f\r "
TOKEN = f"[^{WHITESPACE}]+"  # a whitespace-delimited token


def _fold(col):
    """The case fold: ``lower`` with U+0130 mapped to I first (Spark's
    lower gives i + U+0307, DuckDB's i) and final sigma to sigma after
    (Spark applies the final-sigma rule, DuckDB does not).  Letters that
    DuckDB 1.0's case tables lack (U+2C2F and ~70 more) still differ."""
    return F.replace(F.lower(F.replace(col, F.lit("\u0130"), F.lit("I"))),
                     F.lit("\u03c2"), F.lit("\u03c3"))


def _n_tokens(col):
    """Number of whitespace-delimited tokens (a codegen'd counter)."""
    return F.regexp_count(col, F.lit(TOKEN))


def _words(text_col):
    """The canonical word tokens: case-folded ``[a-z0-9]+`` runs."""
    return F.regexp_extract_all(_fold(text_col), F.lit(r"[a-z0-9]+"), 0)


def _h48(col):
    """48-bit integer hash: the first 12 hex digits of md5(col)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _canon(text_col):
    """Canonical text: case-folded, whitespace runs squeezed, trimmed."""
    return _fold(F.trim(F.regexp_replace(text_col, f"[{WHITESPACE}]+", " ")))


def _word_grams(words, n: int):
    """Word n-grams of a token array, each joined by single spaces, in
    order; empty when there are fewer than ``n`` words (guard:
    F.sequence(0, k) DESCENDS for k < 0)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def cap_by_key(df: DataFrame, keys: list[str], max_n: int,
               min_n: int = 1) -> DataFrame:
    """Keep only rows whose key-group size lies in [min_n, max_n] — the
    hot-key cap, computed WITHOUT a hot-key shuffle.

    The naive shape (``count().over(Window.partitionBy(keys))``) does no
    partial aggregation and AQE cannot split a single hot key for a
    window, so at corpus scale the one boilerplate key with 10^9 rows
    lands on ONE task in the capping pass itself — exactly the
    straggler/OOM the cap exists to prevent.  Here sizes come from a
    ``groupBy(keys).count()``: map-side partial aggregation collapses a
    hot key to one row per input partition before any shuffle, the in-cap
    key list is filtered FIRST (hot keys never reach the join's small
    side), and the join back is an equi-join AQE can broadcast (small
    in-cap list) or skew-split.  Same row semantics as the window form
    INCLUDING null keys: the join-back uses eqNullSafe (<=>), so a NULL
    key value counts as a group exactly like ``Window.partitionBy`` does,
    instead of being silently dropped by plain equi-join semantics.
    eqNullSafe keys remain hash-joinable (AQE broadcast/skew-split as
    with ``=``).
    """
    from functools import reduce
    from operator import and_

    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_keyn"))
    in_cap = sizes.filter(
        (F.col("_keyn") >= min_n) & (F.col("_keyn") <= max_n)
    ).select(*[F.col(k).alias(f"_cap_{k}") for k in keys])
    cond = reduce(and_, [df[k].eqNullSafe(F.col(f"_cap_{k}")) for k in keys])
    return df.join(in_cap, cond).drop(*[f"_cap_{k}" for k in keys])


def canonical_fp(text_col):
    """THE exact-dup key: md5 of case-folded whitespace-squeezed text.

    Single source of truth for the canonicalization — shared by
    ``exact_groups``, ``textstats.fingerprint`` and
    ``streaming.dedup_stream`` so the batch and ingestion dedup keys can
    never silently diverge."""
    return F.md5(_canon(text_col))


def exact_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by canonical-text md5 (hash groupBy)."""
    return (
        docs.select(canonical_fp(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
    )


SHINGLE_N = 3  # word n-gram width of the near-dup shingles


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct word n-gram shingles with a 48-bit md5-prefix integer hash."""
    grams = _word_grams(_words(F.col("text")), n)
    out = docs.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    return out.withColumn("h", _h48("shingle"))


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): LSH band keys from 8 minhashes."""
    mins = [
        F.min((F.lit(MINHASH_A[j]) * (F.col("h") % P) + F.lit(MINHASH_B[j])) % P).alias(f"mh{j}")
        for j in range(N_HASH)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                (F.col(f"mh{b * ROWS_PER_BAND}") * P + F.col(f"mh{b * ROWS_PER_BAND + 1}")).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


MAX_BUCKET = 256


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Self-join within (band_id, band_key) buckets; doc1 < doc2, distinct.

    Hot-bucket cap: a band key shared by a boilerplate-heavy cluster (common
    in web corpora) makes the within-bucket self-join quadratic — one
    million-doc bucket is O(10^12) pairs.  Buckets larger than ``MAX_BUCKET``
    are EXCLUDED from the pair join (the cap is explicit, not silent: a
    boilerplate cluster is the job of ``exact_groups``).  Sizes come from
    ``cap_by_key`` (groupBy partial agg + join-back), so the capping pass
    itself cannot straggle on the hot bucket it is dropping.
    """
    kept = cap_by_key(signatures, ["band_id", "band_key"], MAX_BUCKET)
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )


def _jaccard_bp(threshold: float) -> int:
    """A Jaccard threshold as the integer ``jaccard_bp`` floor."""
    return int(threshold * 10000)


def jaccard_verify(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs via shingle-set joins.

    Output keeps jaccard in integer basis points for exact comparison.
    """
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    inter = (
        pairs.join(s1, "doc1")
        .join(s2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(counts.withColumnsRenamed({"doc_id": "doc1", "n": "n1"}), "doc1")
        .join(counts.withColumnsRenamed({"doc_id": "doc2", "n": "n2"}), "doc2")
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("n_inter") * 10000
                / (F.col("n1") + F.col("n2") - F.col("n_inter"))
            ).cast("long"),
        )
    )
    return j.filter(F.col("jaccard_bp") >= _jaccard_bp(threshold)).select(
        "doc1", "doc2", "jaccard_bp"
    )


def minhash_dedup(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band join -> verify."""
    # Shingles feed 5 consumers, signatures 4: 8 corpus scans per call.
    sh = shingles(docs)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    return jaccard_verify(pairs, sh, threshold)


MAX_DF = 64


def ngram_jaccard_dedup(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Sketch-free n-gram Jaccard near-dup pairs (rare-shingle filtering).

    The second classic candidate scheme next to MinHash banding: two docs
    are candidates iff they share at least one DISCRIMINATIVE shingle —
    document frequency in [2, MAX_DF].  Unlike MinHash (probabilistic
    recall from 8 hashes), this finds EVERY pair sharing a rare shingle,
    at the cost of candidate volume growing with shingle co-occurrence.

    Scale shape: the df cap bounds the per-shingle self-join at
    MAX_DF^2 pairs (the same explicit hot-key policy as the band buckets
    — ubiquitous boilerplate shingles carry no signal and are excluded;
    a pair is missed only if ALL its shared shingles are corpus-hot,
    which at jaccard>=0.5 means boilerplate best handled by
    ``exact_groups``).  Document frequency comes from ``cap_by_key``
    (groupBy partial agg + join-back): the df pass itself collapses a
    corpus-hot shingle map-side instead of shuffling every occurrence to
    one task.
    """
    # Shingles feed the df cap and verify's 3 consumers: ~5 scans per call.
    sh = shingles(docs)
    rare = cap_by_key(sh, ["shingle"], MAX_DF, min_n=2).select(
        "doc_id", "shingle"
    )
    a = rare.select(F.col("doc_id").alias("doc1"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc2"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    return jaccard_verify(pairs, sh, threshold)


def _tracked_local_ckpt(df: DataFrame):
    """``localCheckpoint(eager=True)`` plus the ids of the RDD blocks it
    pinned, so iterative callers can free the PREVIOUS round's blocks
    deterministically.

    localCheckpoint caches its RDD until the ContextCleaner happens to GC
    the JVM-side reference; across a 25-round loop that accumulates up to
    25 copies of the label/edge set in executor storage.  NEVER unpersist
    the round you are still using: a localCheckpointed RDD has no lineage,
    so unpersisting it loses the data (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
    next access) — only blocks of a round that has been fully superseded
    (its successor eagerly materialized, its convergence check counted)
    are safe to drop.
    """
    sc = df.sparkSession.sparkContext
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    return out, after - before


def _unpersist_tracked(spark_session, ids) -> None:
    """Free blocks recorded by ``_tracked_local_ckpt`` (non-blocking)."""
    m = spark_session.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        r = m.get(i)
        if r is not None:
            r.unpersist(False)


def _gram_occurrences(docs: DataFrame, n: int) -> DataFrame:
    """Capped positional word n-gram occurrences: (doc_id, i, gram, h) —
    the shared candidate source of the exact-substring family (cross-doc
    pair runs AND within-doc self runs).  ``h`` is the 48-bit md5-prefix
    join key; ``gram`` rides along (post-cap volume only) for the
    verbatim verification downstream joins apply."""
    grams = _word_grams(_words(F.col("text")), n)
    occ = docs.select(
        "doc_id", F.posexplode(grams).alias("i", "gram")
    ).withColumn("h", _h48("gram"))
    return cap_by_key(occ, ["h"], MAX_DF)


def _chain_runs(coll: DataFrame, keys: list[str], n: int) -> DataFrame:
    """Gap-and-island run chaining shared by the cross-doc and self ops:
    consecutive collision positions ``i`` within one ``keys`` group
    (pair+diagonal, or doc+offset) become one run of count + n - 1
    tokens, with min_i/max_i for span recovery."""
    w = Window.partitionBy(*keys).orderBy("i")
    return (
        coll.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy(*keys, "grp")
        .agg((F.count(F.lit(1)) + n - 1).alias("run_tokens"),
             F.min("i").alias("min_i"), F.max("i").alias("max_i"))
        .drop("grp")
    )


def _substring_runs(docs: DataFrame, n: int) -> DataFrame:
    """Maximal verbatim shared word runs between document pairs:
    (doc1, doc2, diag, run_tokens, min_i, max_i) — min_i/max_i are the
    run's first/last gram start positions in doc1 (doc2 positions follow
    from the diagonal: j = i - diag).

    Construction: word n-grams WITH positions; a shared gram at positions
    (i, j) is a collision on diagonal i-j, and consecutive collisions on
    one diagonal chain into a run (detected with the classic
    i - row_number() gap-and-island trick — no iteration).  A run of r
    grams is a shared span of r + n - 1 words.

    Collisions are VERBATIM-VERIFIED: the equi-join key is the 48-bit
    gram hash (a cheap fixed-width shuffle key), but every candidate
    collision is then checked against the actual gram strings, so a
    cross-doc hash collision can never fabricate a run — an operator
    named "exact-substring" must be exact (ADVICE r4).  The gram string
    rides the capped join only (post-cap volume, never the raw corpus).

    Scale shape: the equi-join carries the same ``cap_by_key`` policy as
    every candidate generator (a corpus-hot boilerplate gram is exactly
    what the cap drops) — here the cap counts OCCURRENCES (positions),
    slightly stricter than the distinct-doc df cap of
    ``ngram_jaccard_dedup``, which is the right bound for the positional
    join it guards.  The island window partitions by (pair, diagonal) —
    a key that cannot be corpus-hot after the cap.
    """
    occ = _gram_occurrences(docs, n)
    a = occ.select(F.col("doc_id").alias("doc1"), F.col("i").alias("i"),
                   "h", "gram")
    b = occ.select(F.col("doc_id").alias("doc2"), F.col("i").alias("j"),
                   "h", F.col("gram").alias("gram2"))
    # no distinct needed: (doc, position) carries exactly one gram hash,
    # so a (doc1, doc2, i, diag) collision row cannot occur twice — the
    # island row_number below is safe without paying a dedup shuffle
    coll = (
        a.join(b, "h")
        .filter((F.col("doc1") < F.col("doc2"))
                & (F.col("gram") == F.col("gram2")))
        .select("doc1", "doc2", "i", (F.col("i") - F.col("j")).alias("diag"))
    )
    return _chain_runs(coll, ["doc1", "doc2", "diag"], n)


SUBSTR_N = 8  # word n-gram width of the exact-substring runs
SUBSTR_MIN_RUN_TOKENS = 8


def substring_dup_spans(docs: DataFrame) -> DataFrame:
    """Exact-substring duplication between document pairs (the signal
    behind Lee et al. 2021's exact-substring dedup): (doc1, doc2, n_runs,
    max_run_tokens), where a run is a maximal verbatim shared word span
    (see ``_substring_runs`` for construction + scale shape; pairs are
    kept when their longest run reaches ``SUBSTR_MIN_RUN_TOKENS``).  The
    cleaned-corpus twin is ``substring_dedup_keep``.
    """
    runs = _substring_runs(docs, SUBSTR_N)
    return (
        runs.filter(F.col("run_tokens") >= SUBSTR_MIN_RUN_TOKENS)
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_runs"),
             F.max("run_tokens").alias("max_run_tokens"))
    )


def _merged_drop_intervals(docs: DataFrame, n: int, min_run_tokens: int,
                           include_self: bool) -> DataFrame:
    """Per-doc merged drop intervals for the ExactSubstr keep ops:
    (doc_id, n_spans_dropped, n_tokens_dropped, drops: array<struct<s,e>>)
    — only docs with at least one drop appear.  Keep-first policy (the
    higher doc_id of a pair drops its copy; ``include_self`` adds the
    within-doc later-copy ranges); overlapping/adjacent word-index ranges
    are merged into maximal intervals via the two-window gap-and-island
    pass (see the load-bearing ``distinct()`` comment)."""
    runs = _substring_runs(docs, n)
    drops = runs.filter(F.col("run_tokens") >= min_run_tokens).select(
        F.col("doc2").alias("doc_id"),
        (F.col("min_i") - F.col("diag")).alias("s"),
        (F.col("max_i") - F.col("diag") + n - 1).alias("e"),
    )
    if include_self:
        sdrops = (
            _self_runs(docs, n)
            .filter(F.col("run_tokens") >= min_run_tokens)
            .select(
                "doc_id",
                (F.col("min_i") + F.col("diag")).alias("s"),
                (F.col("max_i") + F.col("diag") + n - 1).alias("e"),
            )
        )
        drops = drops.unionByName(sdrops)
    # DISTINCT is load-bearing, not an optimization: duplicate (s, e)
    # intervals (the same range dropped via several pairs, or cross+self)
    # make ORDER BY (s, e) a non-total order, and the island id then
    # depends on which tied row carries new_island=1 in the second
    # window pass — engine-arbitrary tie order would split an island
    # nondeterministically (observed in the DuckDB twin).  Distinct
    # intervals restore a total order per doc.
    drops = drops.distinct()
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        drops.withColumn(
            "new_island",
            (prev_max.isNull() | (F.col("s") > prev_max + 1)).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans_dropped"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_tokens_dropped"),
        F.sort_array(
            F.collect_list(F.struct(F.col("s"), F.col("e")))
        ).alias("drops"),
    )


def substring_dedup_keep(docs: DataFrame, n: int = SUBSTR_N,
                         min_run_tokens: int = SUBSTR_MIN_RUN_TOKENS,
                         include_self: bool = False,
                         original_text: bool = False) -> DataFrame:
    """Exact-substring dedup OUTPUT (Lee et al. 2021): the cleaned corpus
    — (doc_id, n_tokens, n_spans_dropped, n_tokens_dropped, kept_text).

    Keep-first policy: for every verbatim shared span of >=
    ``min_run_tokens`` words between a pair, the occurrence in the LOWER
    doc_id survives and the higher doc drops its span's word range (so a
    span shared by k docs survives exactly once, in the smallest doc_id).
    Overlapping/adjacent drop ranges within a doc are merged into maximal
    intervals before removal.

    ``kept_text`` domain: with the default ``original_text=False`` it is
    the doc's canonical word sequence (case-folded ``[a-z0-9]+`` tokens —
    the token domain the runs are detected in) with dropped intervals
    removed.  With ``original_text=True`` it is the ORIGINAL text with
    the dropped spans' character ranges removed — casing, punctuation,
    whitespace, and line structure preserved verbatim outside drops (the
    artifact Lee et al.'s tool emits: byte ranges cut from raw text).
    The char range of word interval [s, e] runs from the first character
    of token s to the last character of token e — separators strictly
    inside the range go with it; boundary separators survive.  Token k
    of the canonical stream is located as the k-th ``[a-zA-Z0-9]+`` match
    of the original text (exact for ASCII, the corpus domain; exotic
    Unicode case-mappings that fold into ASCII alnum — e.g. U+212A —
    could misalign the two streams and are out of contract).

    ``include_self=True`` additionally drops within-document repeats
    (the self half of ExactSubstr, ``_self_runs``): for a span repeated
    ``diag`` words later in the SAME doc, the later copy's word range is
    dropped and the first occurrence survives — for tandem repeats
    (period < span length) the merged intervals leave exactly the first
    period.  With the default False, self-repeats are left to the
    statistical repetition filters (``textstats.gopher_quality``).

    CAP EXEMPTION (by design): runs inherit ``MAX_DF`` from
    ``_gram_occurrences`` — a gram occurring at more than ``MAX_DF``
    positions corpus-wide never forms a run, so corpus-hot boilerplate
    spans are deliberately NOT cleaned here (the capped positional join
    is what makes the op scale).  Hot boilerplate is the job of
    ``textstats.strip_boilerplate_lines``; ``curate_clean_corpus`` chains
    the two in the right order (strip first, then ExactSubstr).  A
    planted >MAX_DF-hot span passing through unchanged is pinned by test.

    Scale shape: runs come from ``_substring_runs`` (capped verbatim
    positional join); interval merging is one window per (doc) — doc-keyed,
    never corpus-hot.  Canonical-domain removal is an array-level
    ``filter`` against the doc's own merged interval list (broadcast-free,
    no corpus-wide token explode).  Original-text removal segments ONLY
    the docs that have drops (token/separator alternation via one
    regexp_extract_all), with a doc-keyed position window — untouched
    docs pass through without being exploded.  A planted-duplicate corpus
    re-reports ZERO spans after this pass (tested).
    """
    per_doc = _merged_drop_intervals(docs, n, min_run_tokens, include_self)
    if original_text:
        return _remove_spans_original(docs, per_doc)
    base = docs.select("doc_id", _words(F.col("text")).alias("ws"))
    out = base.join(per_doc, "doc_id", "left")
    kept = F.when(
        F.col("drops").isNull(), F.col("ws")
    ).otherwise(
        F.expr("filter(ws, (x, i) -> "
               "NOT exists(drops, d -> d.s <= i AND i <= d.e))")
    )
    return out.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.coalesce("n_spans_dropped", F.lit(0)).cast("long")
        .alias("n_spans_dropped"),
        F.coalesce("n_tokens_dropped", F.lit(0)).cast("long")
        .alias("n_tokens_dropped"),
        F.array_join(kept, " ").alias("kept_text"),
    )


SEG_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9]+"
SEG_TOKEN_RE = "^[a-zA-Z0-9]"  # a SEG_PATTERN segment that is a token


def _remove_spans_original(docs: DataFrame, per_doc: DataFrame) -> DataFrame:
    """Original-text-domain span removal for ``substring_dedup_keep``:
    cut the character ranges of the merged word-index drop intervals out
    of the raw text, byte-identical outside drops.

    Construction: ``SEG_PATTERN`` partitions the text into an alternating
    token/separator segment list whose concatenation IS the text (both
    branches are maximal, so matches tile the string).  For each segment,
    ``t`` = number of token segments strictly before it; a token segment
    is token index ``t`` and drops iff an interval covers ``t``; a
    separator sits between tokens ``t-1`` and ``t`` and drops iff ONE
    interval covers both (merged intervals are maximal, so two adjacent
    dropped tokens always share an interval) — the unified predicate is
    ``d.s <= t - (1 - is_tok) AND t <= d.e``.  Leading separators
    (``t = 0``) and trailing separators (``t = n_tokens``) can never
    satisfy it, so text edges survive.

    Scale shape: ONLY docs carrying drops are segmented/exploded (inner
    join on ``per_doc``; typically a small fraction of the corpus) —
    untouched docs pass through unexploded.  The running token count is
    a window keyed by (doc_id) — per-doc, never corpus-hot, the same
    bound as the interval merge itself.  Reassembly is one doc-keyed
    collect_list of (position, segment), sorted in-array.
    """
    base = docs.select("doc_id", F.col("text").alias("_text"),
                       _words(F.col("text")).alias("ws"))
    joined = base.join(per_doc, "doc_id", "left")
    untouched = joined.filter(F.col("drops").isNull()).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_spans_dropped"),
        F.lit(0).cast("long").alias("n_tokens_dropped"),
        F.col("_text").alias("kept_text"),
    )
    touched = joined.filter(F.col("drops").isNotNull())
    meta = touched.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.col("n_spans_dropped").cast("long").alias("n_spans_dropped"),
        F.col("n_tokens_dropped").cast("long").alias("n_tokens_dropped"),
    )
    seg = touched.select(
        "doc_id", "drops",
        F.posexplode(
            F.regexp_extract_all(F.col("_text"), F.lit(SEG_PATTERN), 0)
        ).alias("p", "seg"),
    ).withColumn("is_tok", F.col("seg").rlike(SEG_TOKEN_RE).cast("int"))
    w = Window.partitionBy("doc_id").orderBy("p")
    seg = seg.withColumn(
        "t",
        F.coalesce(
            F.sum("is_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    kept = (
        seg.filter(
            ~F.expr("exists(drops, d -> d.s <= t - (1 - is_tok)"
                    " AND t <= d.e)")
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "seg"))),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("kept_text")
        )
    )
    # a doc whose every segment dropped yields no kept row -> empty text
    out_touched = meta.join(kept, "doc_id", "left").select(
        "doc_id", "n_tokens", "n_spans_dropped", "n_tokens_dropped",
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )
    return untouched.unionByName(out_touched)


def _self_runs(docs: DataFrame, n: int) -> DataFrame:
    """Within-doc verbatim repeat runs: (doc_id, diag, run_tokens,
    min_i, max_i) — diag = j - i > 0 is the repeat offset; min_i/max_i
    are the EARLIER occurrence's gram positions (the later copy sits at
    i + diag).  Shares ``_gram_occurrences`` + ``_chain_runs`` with the
    cross-doc pair runs."""
    occ = _gram_occurrences(docs, n)
    a = occ.select("doc_id", F.col("i").alias("i"), "h", "gram")
    b = occ.select("doc_id", F.col("i").alias("j"), "h",
                   F.col("gram").alias("gram2"))
    coll = (
        a.join(b, ["doc_id", "h"])
        .filter((F.col("i") < F.col("j"))
                & (F.col("gram") == F.col("gram2")))
        .select("doc_id", "i", (F.col("j") - F.col("i")).alias("diag"))
    )
    return _chain_runs(coll, ["doc_id", "diag"], n)


def substring_self_spans(docs: DataFrame, n: int = SUBSTR_N,
                         min_run_tokens: int = SUBSTR_MIN_RUN_TOKENS) -> DataFrame:
    """Within-document exact repeats — the SELF half of Lee et al. 2021's
    ExactSubstr (their suffix-array pass finds duplicated spans anywhere,
    including inside one document: templated sections, copy-paste stutter,
    tandem boilerplate): (doc_id, n_self_runs, max_run_tokens).

    A repeat is a pair of positions i < j in ONE doc carrying the same
    verbatim n-gram; consecutive collisions at the same offset d = j - i
    chain into a run via the same gap-and-island trick as the cross-doc
    op (a run of r grams = a span of r + n - 1 words repeated d words
    later; tandem repeats with period < run length surface once per
    offset, each verbatim-true).  Complements ``gopher_quality``'s
    statistical 2-gram-mass signal with exact span evidence.

    Scale shape: the self-join key is (doc_id, h) over the SAME capped
    occurrence table as the pair ops (``_gram_occurrences``) — doc_id in
    the key bounds every group by the document's own length regardless
    of corpus-hot grams, and the island window partitions by (doc,
    offset).  Verbatim-verified like the cross-doc runs.
    """
    runs = _self_runs(docs, n)
    return (
        runs.filter(F.col("run_tokens") >= min_run_tokens)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_self_runs"),
             F.max("run_tokens").alias("max_run_tokens"))
    )


def line_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Corpus-GLOBAL exact line dedup, keep-first (the C4 §2.2 span-dedup
    policy at line granularity, Raffel et al. 2020): (doc_id, n_lines,
    n_lines_kept, kept_text) — every line whose canonical word sequence
    occurs anywhere else in the corpus survives ONLY at its first
    occurrence in (doc_id, line_no) order; all later copies are removed.

    Complements the two existing line/span cleaners: ``textstats.
    strip_boilerplate_lines`` removes lines matching the top-k HOT grams
    (frequency-thresholded, keeps zero copies), and ``substring_dedup_keep``
    removes verbatim word spans under a df cap (so corpus-hot spans are
    exempt there).  This op is the uncapped exact complement: EVERY
    duplicated line, however hot, keeps exactly one copy — C4's actual
    policy ("keep one span per corpus").

    Line identity is the canonical ``[a-z0-9]+`` token stream (the repo's
    shared canonicalization); lines with an EMPTY canonical form (blank /
    punctuation-only) carry structure, not content, and are always kept.
    Keep-first is total-ordered by (doc_id, line_no) — reproducible on
    any engine and any partitioning, like every keeper rule here.

    Scale shape: one groupBy on the line's full-md5 key with a
    ``min(struct(doc_id, line_no))`` keeper — partial aggregation
    collapses a corpus-hot line (a footer duplicated 10^9 times) map-side
    to one row per map task, so the group itself cannot straggle.  The
    join-back puts the corpus-sized line table against a build side with
    EXACTLY one row per key, so residual probe-side skew on a hot key is
    the AQE skew-split textbook case (split the probe partition, duplicate
    the 1-row build side) — no salting needed because the build
    multiplicity is 1 by construction.  Reassembly is one doc-keyed
    collect_list sorted in-array (per-doc bound, never corpus-hot).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    ).withColumn(
        "ckey",
        F.md5(F.array_join(_words(F.col("line")), " ")),
    ).withColumn("is_blank", (F.size(_words(F.col("line"))) == 0).cast("int"))
    content = lines.filter(F.col("is_blank") == 0)
    keepers = content.groupBy("ckey").agg(
        F.min(F.struct("doc_id", "line_no")).alias("keep")
    )
    kept_content = (
        content.join(keepers, "ckey")
        .filter((F.col("doc_id") == F.col("keep.doc_id"))
                & (F.col("line_no") == F.col("keep.line_no")))
        .select("doc_id", "line_no", "line")
    )
    kept = kept_content.unionByName(
        lines.filter(F.col("is_blank") == 1).select("doc_id", "line_no", "line")
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    # a doc whose every line was a later copy keeps nothing -> empty text
    return totals.join(reassembled, "doc_id", "left").select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("long")
        .alias("n_lines_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


COMPONENTS_MAX_ITER = 25  # propagation rounds = graph diameter
STAR_MAX_ITER = 30  # large-star/small-star rounds = O(log^2 n)


def components(pairs: DataFrame) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (doc_id, rep_id, cluster_size).

    The dedup pipeline's final step: connected components over the pair
    graph, each doc labeled with its component's minimum doc_id (the
    canonical keeper) plus the component size.  Pregel-style min-label
    propagation: each round every node takes the min of its own and its
    neighbors' labels; terminates when a round changes nothing.  Rounds =
    graph diameter — near-dup clusters are dense and shallow (boilerplate
    stars, re-upload chains), so a handful of rounds suffices; at web
    scale swap in the large-star/small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") which bounds rounds at
    O(log^2 n) with the same output contract.  Each round is one
    equi-join + groupBy on node id (co-partitioned after the first AQE
    round); the per-round driver action is a 1-row convergence count, not
    row data.  localCheckpoint truncates lineage so plans stay constant
    per round; each round's blocks are freed once the next round has
    materialized and been convergence-checked (storage stays O(1) in
    rounds, not O(COMPONENTS_MAX_ITER)).
    """
    spark = pairs.sparkSession
    edges, edge_ids = _tracked_local_ckpt(
        pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
        .union(pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b")))
        .distinct()
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    prev_ids: set[int] = set()
    new_ids: set[int] = set()
    changed = 1
    try:
        for _ in range(COMPONENTS_MAX_ITER):
            neighbor = (
                edges.join(labels, edges["a"] == labels["node"])
                .select(F.col("b").alias("node"), "lab")
            )
            new_labels, new_ids = _tracked_local_ckpt(
                labels.union(neighbor).groupBy("node").agg(F.min("lab").alias("lab"))
            )
            changed = (
                new_labels.join(labels.withColumnRenamed("lab", "old"), "node")
                .filter(F.col("lab") != F.col("old"))
                .limit(1)
                .count()
            )
            # the old round is now fully superseded (successor materialized,
            # convergence counted) — its blocks are dead weight
            _unpersist_tracked(spark, prev_ids)
            prev_ids = new_ids
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # NEVER return partial labels as if converged: a longer-
            # diameter chain would silently split one component across
            # several rep_ids (under-dedup downstream).  Propagation rounds
            # = graph diameter; components_star needs O(log^2 n) rounds
            # regardless of diameter.
            raise RuntimeError(
                f"components: no fixpoint after {COMPONENTS_MAX_ITER} rounds "
                "— graph diameter exceeds COMPONENTS_MAX_ITER; use "
                "components_star (logarithmic rounds)"
            )
    except BaseException:
        # the error path must not leak executor storage: nothing we
        # tracked is reachable by a caller once we raise (ADVICE r4).
        # new_ids covers the window where the latest round is already
        # checkpointed but the convergence count raised before
        # `prev_ids = new_ids` ran.
        _unpersist_tracked(spark, prev_ids | new_ids | edge_ids)
        raise
    # the result depends only on the FINAL labels checkpoint; the edge set
    # is loop-internal and can be freed now
    _unpersist_tracked(spark, edge_ids)
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lab").select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("rep_id"),
        "cluster_size",
    )


def _sym(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    s = _sym(e)
    m = s.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least(F.col("mv"), F.col("u")).alias("m")
    )
    return (
        s.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct edges large->small; connect all smaller neighbors and u
    itself to min(N_small(u) + {u})."""
    d = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = d.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        m.select("u", F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def components_star(pairs: DataFrame) -> DataFrame:
    """Connected components via large-star/small-star alternation — the
    web-scale path (Kiveris et al., "Connected Components in MapReduce and
    Beyond": O(log^2 n) rounds vs. graph-diameter rounds for plain label
    propagation, so a 10^9-node re-upload chain converges in ~30 rounds
    instead of 10^9).  Same output contract as ``components``
    ((doc_id, rep_id, cluster_size); differential-tested equal), every
    round is two groupBy/join passes on node id, and convergence is an
    edge-set fixpoint check (two anti-join counts), not data collection.
    """
    spark = pairs.sparkSession
    e, prev_ids = _tracked_local_ckpt(
        pairs.select(F.col("doc1").alias("u"), F.col("doc2").alias("v"))
        .filter(F.col("u") != F.col("v")).distinct()
    )
    node_ids: set[int] = set()
    new_ids: set[int] = set()
    stable = False
    try:
        # nodes must be materialized NOW: it derives from the round-0 edge
        # checkpoint, whose blocks are freed as soon as round 1 supersedes
        # it (inside the try so a failure here frees the edge blocks too)
        nodes, node_ids = _tracked_local_ckpt(_sym(e).select("u").distinct())
        for _ in range(STAR_MAX_ITER):
            new_e, new_ids = _tracked_local_ckpt(_small_star(_large_star(e)))
            norm_old = e.select(F.greatest("u", "v").alias("u"),
                                F.least("u", "v").alias("v")).distinct()
            norm_new = new_e.select(F.greatest("u", "v").alias("u"),
                                    F.least("u", "v").alias("v")).distinct()
            stable = (norm_new.exceptAll(norm_old).limit(1).count() == 0
                      and norm_old.exceptAll(norm_new).limit(1).count() == 0)
            # old round superseded (successor materialized, fixpoint checked)
            _unpersist_tracked(spark, prev_ids)
            prev_ids = new_ids
            e = new_e
            if stable:
                break
        if not stable:
            raise RuntimeError(
                f"components_star: no edge-set fixpoint after {STAR_MAX_ITER} "
                "rounds (expected O(log^2 n))"
            )
    except BaseException:
        # same fail-path storage contract as ``components`` (ADVICE r4);
        # new_ids covers the checkpointed-but-not-yet-promoted round
        _unpersist_tracked(spark, prev_ids | new_ids | node_ids)
        raise
    # at the fixpoint e is a union of stars: (child, root) with root =
    # component min; roots themselves carry no outgoing edge
    child = e.select(F.greatest("u", "v").alias("node"),
                     F.least("u", "v").alias("lab"))
    child = child.groupBy("node").agg(F.min("lab").alias("lab"))
    labels = child.union(
        nodes.join(child, nodes["u"] == child["node"], "left_anti")
        .select(F.col("u").alias("node"), F.col("u").alias("lab"))
    )
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lab").select(
        F.col("node").alias("doc_id"), F.col("lab").alias("rep_id"),
        "cluster_size",
    )


SIMHASH_BLOCKS = 4  # 4 x 8-bit blocks over the 32-bit simhash
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS
SIMHASH_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1
SIMHASH_MAX_HAMMING = 3  # pigeonhole: <=3 flipped bits leave >=1 block intact


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs at scale shape (Charikar block trick).

    Candidates = pairs sharing at least one intact 8-bit block of the 32-bit
    simhash (equi-join on (block_id, block_val); exact for hamming <=
    SIMHASH_BLOCKS - 1 by pigeonhole) -> verify with bit_count(xor) <=
    SIMHASH_MAX_HAMMING.  Never all-pairs; hot block values (common in boilerplate
    clusters) are capped like the MinHash bands (explicit, not silent —
    route oversized buckets to exact-group handling; ``cap_by_key`` keeps
    the capping pass itself skew-safe).
    """
    sh = simhash(docs)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("block_id"),
                    F.shiftright(F.col("simhash"), SIMHASH_BLOCK_BITS * b)
                    .bitwiseAND(F.lit(SIMHASH_BLOCK_MASK)).alias("block_val"),
                )
                for b in range(SIMHASH_BLOCKS)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash",
             F.col("b.block_id").alias("block_id"),
             F.col("b.block_val").alias("block_val"))
    capped = cap_by_key(blocks, ["block_id", "block_val"], MAX_BUCKET)
    a = capped.select(F.col("doc_id").alias("doc1"),
                      F.col("simhash").alias("sh1"), "block_id", "block_val")
    b = capped.select(F.col("doc_id").alias("doc2"),
                      F.col("simhash").alias("sh2"), "block_id", "block_val")
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select(
            "doc1", "doc2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash: per-bit majority vote over the low 32 bits of each
    word's ``_h48``.

    Computed as 32 conditional aggregates over exploded words — one shuffle,
    no per-row Python.
    """
    words = docs.select(
        "doc_id",
        F.explode(_words(F.col("text"))).alias("w"),
    ).withColumn("h", _h48("w"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else (sim + bit)
    return agg.select("doc_id", sim.alias("simhash"))

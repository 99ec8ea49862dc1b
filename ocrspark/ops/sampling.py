"""Deterministic sampling/splitting/packing for training-data curation.

Reproducibility is the contract: every assignment derives from md5 of the
row's own key, so the same doc lands in the same split/shard on any
engine, any cluster size, any run — no RNG state, no partition-order
dependence.  All ops are single-scan (split) or one-shuffle (packing).

The module constants are also the DuckDB twins' constants: the ``_sql_*``
builders in ``__spark_entry__`` read them instead of spelling their own
values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    _h48, _n_tokens, _word_grams, _words, canonical_fp, cap_by_key, shingles,
)

SPLITS = [("train", 9800), ("val", 100), ("test", 100)]  # basis points
PACK_BUCKETS = 64  # packing streams (part of the output contract)
PACK_BUDGET = 8192  # tokens per shard


def _hash_bp(key_col):
    """Stable basis-point bucket in [0, 10000) from md5 of the key."""
    return _h48(key_col.cast("string")) % 10000


def deterministic_split(docs: DataFrame) -> DataFrame:
    """(doc_id, split) train/val/test assignment by hash basis points.

    Unlike ``df.sample``/``randomSplit`` (partition-order- and
    seed-plumbing-dependent), the assignment is a pure function of the
    key: stable under repartitioning, resumable, and auditable.  Split
    sizes are ``SPLITS`` basis points.
    """
    assert sum(bp for _, bp in SPLITS) == 10000
    bp = _hash_bp(F.col("doc_id"))
    edge = 0
    expr = None
    for name, width in SPLITS:
        edge += width
        cond = bp < edge
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return docs.select("doc_id", expr.alias("split"))


def pack_shards(docs: DataFrame) -> DataFrame:
    """Concat-and-chunk sequence packing into fixed-token-budget shards.

    (doc_id, pack_bucket, shard_seq, offset_tokens) from (doc_id,
    n_tokens): docs are hashed into ``PACK_BUCKETS`` independent packing
    streams (the scale unit — each bucket packs in parallel; a single
    global order would serialize the corpus through one partition), laid
    end to end in deterministic key-hash order, and the token stream is
    cut every ``PACK_BUDGET`` tokens —
    the standard LLM-pretraining packing, where a document may span a
    shard boundary (consumers read on into shard_seq+1).  shard_seq is
    the shard holding the doc's FIRST token; offset_tokens its start
    offset there.  A pre-row running sum over one window = one shuffle;
    no sequential state, so the closed form is exact (greedy-with-burn
    packing would need a per-bucket fold and wastes tail capacity).

    ``PACK_BUCKETS`` is the parallelism bound AND part of the output
    contract: assignments change with it.
    """
    h = _h48(F.col("doc_id").cast("string"))
    base = docs.select(
        F.col("doc_id"), (h % PACK_BUCKETS).alias("pack_bucket"),
        h.alias("order_h"), F.col("n_tokens").cast("long").alias("t"),
    )
    w = Window.partitionBy("pack_bucket").orderBy("order_h", "doc_id")
    cum_before = F.coalesce(
        F.sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return base.select(
        "doc_id", "pack_bucket",
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("shard_seq"),
        (cum_before % PACK_BUDGET).cast("long").alias("offset_tokens"),
    )


def stratified_sample(docs: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Per-stratum deterministic rate sampling — the C4/RefinedWeb "cap any
    single domain" rebalancing step, skew-free by construction.

    A doc is kept iff hash_bp(doc_id) < rate_bp(source): a pure function of
    the row (broadcast lookup of the tiny rates table + the same md5
    basis-point hash as ``deterministic_split``), so there is NO shuffle,
    no per-stratum sort, and a 10^11-doc stratum costs the same per row
    as a 10-doc one — unlike count-based per-stratum top-N, which needs a
    global rank per stratum (noted as the non-scale shape).  Strata
    absent from ``rates`` keep every doc (rate 10000).
    Rates are basis points in [0, 10000]; reproducible on any engine.
    """
    # an empty dict must mean "every stratum kept whole" — never a
    # placeholder row (a real stratum named "" would get rate 0)
    table = docs.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in sorted(rates.items())],
        "source string, rate_bp int",
    )
    bp = _hash_bp(F.col("doc_id"))
    return (
        docs.join(F.broadcast(table), "source", "left")
        .select(
            "doc_id", "source",
            bp.alias("sample_bp"),
            F.coalesce(F.col("rate_bp"), F.lit(10000)).alias("rate_bp"),
        )
        .withColumn("kept", (F.col("sample_bp") < F.col("rate_bp")).cast("int"))
    )


def source_rollup(docs: DataFrame) -> DataFrame:
    """Corpus-triage rollup per (source, lang): doc count, exact-duplicate
    involvement, token volume, mean quality — the table every curation
    pipeline starts its source review from.

    Composed from already-oracled primitives (canonical fingerprint,
    quality score, whitespace tokens); the dup flag marks docs whose
    fingerprint occurs more than once ANYWHERE in the corpus (cross-source
    dup detection, the usual mirror-site signal).  Shape: one groupBy(fp)
    + join-back (partial-aggregated) and one groupBy(strata) — no
    corpus-hot key beyond fp, which the exact-dup op already handles.
    """
    keyed = docs.select(
        "source", "lang", "doc_id",
        canonical_fp(F.col("text")).alias("fp"),
        _n_tokens(F.col("text")).cast("long").alias("n_tokens"),
    )
    from .textstats import quality_score

    q = quality_score(docs).select("doc_id", "quality_bp")
    sizes = keyed.groupBy("fp").agg(F.count(F.lit(1)).alias("fpn"))
    return (
        keyed.join(sizes, "fp")
        .join(q, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("fpn") > 1).cast("long")).alias("n_dup_involved"),
            F.sum("n_tokens").alias("total_tokens"),
            F.floor(F.sum("quality_bp") / F.count(F.lit(1)))
            .cast("long").alias("mean_quality_bp"),
        )
    )


DECON_NGRAM = 8
DECON_MAX_DF = 64


def decontaminate(docs: DataFrame) -> DataFrame:
    """Train/test contamination report: (test_doc, train_doc, n_shared).

    The canonical eval-hygiene step: an eval ("test"/"val" split) document
    sharing verbatim ``DECON_NGRAM``-gram spans with a training document signals
    leakage.  Candidates come from an equi-join on the n-gram hash between
    the eval-side and train-side shingle sets — never all-pairs; grams
    hotter than ``DECON_MAX_DF`` documents carry no leakage signal (ubiquitous
    boilerplate) and are excluded by the same explicit df-cap policy as
    the dedup candidate joins (``cap_by_key``: groupBy partial agg +
    join-back, so the df pass itself cannot straggle on a hot gram).
    Split assignment is the deterministic hash split, so the report is
    reproducible by construction.
    """
    split = deterministic_split(docs)
    sh = (
        shingles(docs, DECON_NGRAM)
        .join(split, "doc_id")
        .select("doc_id", "split", "h")
        .distinct()
    )
    capped = cap_by_key(sh, ["h"], DECON_MAX_DF)
    ev = capped.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("test_doc"), "h"
    )
    tr = capped.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "h"
    )
    return (
        ev.join(tr, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


DSIR_BUCKETS = 8192
# hash-Gumbel: u = (h48(doc_id || SALT) % RES + 0.5) / RES, uniform in (0, 1)
DSIR_GUMBEL_SALT = ":gumbel"
DSIR_GUMBEL_RES = 1_000_000


def _uni_bigrams(text_expr):
    """Lowercased word unigrams + bigrams — DSIR's hashed feature stream."""
    words = _words(text_expr)
    return F.concat(words, _word_grams(words, 2))


def dsir_importance(docs: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per raw doc, (doc_id, n_grams, dsir_score_e9, gumbel_e9).

    ``dsir_score_e9`` is the doc's total log importance weight — the sum
    over its word uni+bigram occurrences of int64-scaled
    log(p_target(bucket) / p_raw(bucket)) under two add-one-smoothed
    hashed bag-of-ngrams models (``DSIR_BUCKETS`` md5 buckets): one fitted
    on ``target`` (the distribution to select toward), one on ``docs``
    itself.  High score = target-like.  ``gumbel_e9`` is a deterministic
    hash-Gumbel perturbation (md5-derived uniform, two rounded lns) —
    take the top-k docs by ``dsir_score_e9 + gumbel_e9`` for DSIR's
    Gumbel-top-k sampling-without-replacement; rank/threshold is left to
    the consumer so the op itself needs no global sort.

    Exactness: per-BUCKET log-ratios are rounded 9dp and scaled to int64
    in the model (B rows), so the per-doc score is integer addition —
    order-independent and engine-portable (the ``ppl_proxy`` contract).
    Docs with zero grams are absent from the output (same as ppl_proxy).

    Scale shape: two bucket-count aggregations (partial-agg; key space
    bounded at B so no key can straggle), two 1-row totals pulled in as
    broadcast aggregates, ONE broadcast B-row model, one equi-join of
    the exploded raw gram stream against it — no corpus-sized shuffle.
    The raw-side model join is inner-safe by construction (every scored
    bucket was counted in the raw fit).
    """
    b = _h48(F.col("g")) % DSIR_BUCKETS
    raw_b = docs.select(
        F.col("doc_id"), F.explode(_uni_bigrams(F.col("text"))).alias("g")
    ).select("doc_id", b.alias("b"))
    tgt_b = target.select(
        F.explode(_uni_bigrams(F.col("text"))).alias("g")
    ).select(b.alias("b"))

    cr = raw_b.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    ct = tgt_b.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    nr = raw_b.agg(F.count(F.lit(1)).alias("nr"))
    nt = tgt_b.agg(F.count(F.lit(1)).alias("nt"))

    llr = F.round(
        F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
              / (F.col("nt") + F.lit(DSIR_BUCKETS)).cast("double"))
        - F.log((F.col("cr") + 1).cast("double")
                / (F.col("nr") + F.lit(DSIR_BUCKETS)).cast("double")),
        9,
    )
    model = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nt))
        .select("b", F.round(llr * 1e9).cast("long").alias("llr_e9"))
    )

    h6 = _h48(F.concat(F.col("doc_id").cast("string"),
                       F.lit(DSIR_GUMBEL_SALT))) % DSIR_GUMBEL_RES
    u = (h6.cast("double") + F.lit(0.5)) / F.lit(float(DSIR_GUMBEL_RES))
    gumbel_e9 = F.round(F.round(-F.log(F.round(-F.log(u), 9)), 9) * 1e9) \
        .cast("long")

    return (
        raw_b.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("llr_e9").cast("long").alias("dsir_score_e9"),
        )
        .withColumn("gumbel_e9", gumbel_e9)
    )


MIX_ALPHA_E2 = 50      # temperature exponent alpha = 0.50
MIX_EPOCH_CAP_E2 = 400  # UniMax-style cap: <= 4.00 epochs of any source


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Temperature-scaled source mixture weights with a UniMax epoch cap
    (Arivazhagan et al. 2019 temperature sampling; Chung et al. 2023
    UniMax): per stratum, (source, n_docs, total_tokens,
    natural_share_e9, temp_share_e9, epochs_e2, capped).

    The data-mixing step every multi-source pretraining run needs: the
    natural token share p_s is flattened to q_s ∝ p_s^alpha (alpha < 1
    upweights low-resource sources), and ``epochs_e2`` = q_s / p_s is the
    implied repetition rate of source s under the mix — clamped at
    ``MIX_EPOCH_CAP_E2`` (UniMax's bound on how many epochs a small source
    may repeat) with ``capped`` flagging clamped rows.  Full UniMax
    water-filling redistributes the clamped surplus iteratively; that
    loop runs over the k-row aggregate (driver-side, k = #sources), so
    the corpus-scale job is exactly this op — the one-shot shares plus
    the binding caps are what it feeds.

    Exactness contract (the ``dsir_importance`` precedent): p_s^alpha is
    rounded to an int64 at 1e-9 BEFORE the normalizing sum, so the
    denominator is an integer sum — partition-order independent and
    engine-portable; every emitted share/epoch value is a rounded scalar
    function of per-stratum longs and the two broadcast totals.

    Scale shape: one partial-aggregated groupBy(strata) over the corpus
    (key space = #sources, bounded), then two 1-row broadcast totals
    (token total, weight-mass total) — no corpus-sized shuffle beyond
    the single groupBy, no key that can straggle.
    """
    alpha = F.lit(MIX_ALPHA_E2).cast("double") / 100.0
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tokens(F.col("text")).cast("long")).alias("total_tokens"),
    )
    tot = per.agg(F.sum("total_tokens").alias("t_all"))
    p = F.col("total_tokens").cast("double") / F.col("t_all").cast("double")
    weighted = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("w_e9", F.round(F.pow(p, alpha) * 1e9).cast("long"))
    )
    wtot = weighted.agg(F.sum("w_e9").alias("w_all"))
    q = F.col("w_e9").cast("double") / F.col("w_all").cast("double")
    epochs = F.round(q / p * 100).cast("long")
    return (
        weighted.crossJoin(F.broadcast(wtot))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.round(p * 1e9).cast("long").alias("natural_share_e9"),
            F.round(q * 1e9).cast("long").alias("temp_share_e9"),
            F.least(epochs, F.lit(MIX_EPOCH_CAP_E2).cast("long"))
            .alias("epochs_e2"),
            (epochs > MIX_EPOCH_CAP_E2).cast("int").alias("capped"),
        )
    )

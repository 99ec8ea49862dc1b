"""Deterministic sampling/packing contracts."""

from pyspark.sql import functions as F

from ocrspark.ops import sampling


def test_split_is_pure_function_of_key(spark):
    docs = spark.range(300).select(F.col("id").cast("int").alias("doc_id"))
    a = {(r.doc_id, r.split)
         for r in sampling.deterministic_split(docs).collect()}
    b = {(r.doc_id, r.split)
         for r in sampling.deterministic_split(docs.repartition(7)).collect()}
    assert a == b
    names = {s for _, s in a}
    assert names <= {"train", "val", "test"}
    assert sum(1 for _, s in a if s == "train") > 250  # ~98%


def test_decontaminate_finds_planted_leak(spark):
    """A verbatim 8-gram planted in one eval-split doc and one train doc
    is reported exactly once; unrelated docs are silent."""
    import hashlib

    def bp(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) % 10000

    ev = next(i for i in range(1000) if bp(i) >= 9800)
    tr = next(i for i in range(1000) if bp(i) < 9800)
    other = next(i for i in range(1000) if bp(i) < 9800 and i != tr)
    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = spark.createDataFrame(
        [
            (ev, "intro words here " + leak),
            (tr, leak + " trailing content words"),
            (other, "completely different content with no overlap at all"),
        ],
        "doc_id int, text string",
    )
    rows = sampling.decontaminate(docs).collect()
    assert [(r.test_doc, r.train_doc, r.n_shared) for r in rows] == [(ev, tr, 1)]


def test_pack_shards_concat_and_chunk(spark):
    """Offsets/shards must equal laying the per-bucket token stream end to
    end and cutting every PACK_BUDGET tokens (docs may span boundaries)."""
    nb, budget = sampling.PACK_BUCKETS, sampling.PACK_BUDGET
    # ~30 docs of 1k-7k tokens per bucket: each stream spans many shards
    docs = spark.range(2000).select(
        F.col("id").cast("int").alias("doc_id"),
        ((F.col("id") % 7 + 1) * 1000 + F.col("id") % 13).cast("int")
        .alias("n_tokens"),
    )
    out = sampling.pack_shards(docs).collect()
    toks = {r.doc_id: r.n_tokens for r in docs.collect()}
    # reconstruct each bucket's stream in the op's deterministic order
    import hashlib

    def h(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)

    by_bucket = {}
    for r in out:
        assert r.pack_bucket == h(r.doc_id) % nb
        by_bucket.setdefault(r.pack_bucket, []).append(r)
    assert len(out) == 2000 and len(by_bucket) == nb
    for bucket, rows in by_bucket.items():
        rows.sort(key=lambda r: (h(r.doc_id), r.doc_id))
        cum = 0
        for r in rows:
            assert r.shard_seq == cum // budget, r
            assert r.offset_tokens == cum % budget, r
            cum += toks[r.doc_id]
        assert cum > budget  # the stream really crossed shard boundaries


def test_gopher_quality_thresholds(spark):
    """Constructed docs hit each Gopher gate: a healthy doc passes; a
    2-gram-looping spam doc fails on dup_2gram mass; a symbol-heavy doc
    fails on symbol ratio; a too-short doc fails on word count."""
    from ocrspark.ops import textstats

    healthy = " ".join(f"word{i} token{i} value{i}" for i in range(40))
    spam = "buy now " * 200
    symbols = " ".join(f"w{i} ###### ...... ######" for i in range(30))
    short = "only a few words here"
    docs = spark.createDataFrame(
        [(1, healthy), (2, spam), (3, symbols), (4, short)],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in textstats.gopher_quality(docs).collect()}
    assert got[1].gopher_pass == 1
    assert got[2].gopher_pass == 0 and got[2].dup_2gram_bp > 2000
    assert got[3].gopher_pass == 0 and got[3].symbol_word_bp > 1000
    assert got[4].gopher_pass == 0 and got[4].n_words < 50
    # dup_2gram mass: "buy now" loop -> the top 2-gram ("buy now" or
    # "now buy") claims half of all 2-gram occurrences
    assert got[2].dup_2gram_bp >= 5000


def test_stratified_sample_rates(spark):
    """Kept fraction per stratum tracks its rate_bp (hash-uniformity), the
    assignment is a pure row function (no dependence on other rows), and
    unlisted strata keep every doc."""
    docs = spark.createDataFrame(
        [(i, "s0" if i % 2 == 0 else "s1") for i in range(2000)],
        "doc_id int, source string",
    )
    out = sampling.stratified_sample(docs, rates={"s0": 2500}).collect()
    kept0 = sum(r.kept for r in out if r.source == "s0")
    kept1 = sum(r.kept for r in out if r.source == "s1")
    n0 = sum(1 for r in out if r.source == "s0")
    assert abs(kept0 / n0 - 0.25) < 0.05          # ~rate_bp
    assert kept1 == 1000                           # default keeps all
    # purity: same doc, same verdict regardless of the rest of the corpus
    sub = sampling.stratified_sample(
        docs.filter(F.col("doc_id") < 100), rates={"s0": 2500}).collect()
    full = {r.doc_id: r.kept for r in out}
    assert all(full[r.doc_id] == r.kept for r in sub)


def test_source_rollup_dup_counting(spark):
    """n_dup_involved counts docs whose fingerprint repeats ANYWHERE in
    the corpus (cross-source mirror detection), per stratum."""
    docs = spark.createDataFrame(
        [(1, "sA", "en", "mirrored text body"),
         (2, "sB", "en", "Mirrored  TEXT body"),   # canonical dup of 1
         (3, "sA", "en", "unique body one"),
         (4, "sB", "no", "unique body two")],
        "doc_id int, source string, lang string, text string",
    )
    got = {(r.source, r.lang): r for r in sampling.source_rollup(docs).collect()}
    assert got[("sA", "en")].n_docs == 2
    assert got[("sA", "en")].n_dup_involved == 1   # doc 1
    assert got[("sB", "en")].n_dup_involved == 1   # doc 2 (cross-source)
    assert got[("sB", "no")].n_dup_involved == 0


def test_substring_dup_spans_runs(spark):
    """Diagonal run chaining must recover the exact shared-span lengths:
    doc pair sharing one verbatim 12-word span -> one run of 12 tokens
    (5 chained 8-grams); two disjoint 8-word spans -> two runs of 8."""
    from ocrspark.ops import dedup

    span12 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    s8a = "one two three four five six seven eight"
    s8b = "red orange yellow green blue indigo violet ultra"
    docs = spark.createDataFrame(
        [(1, f"{span12} tailone tailtwo tailthree"),
         (2, f"headone headtwo {span12}"),
         (3, f"{s8a} filler1 filler2 {s8b}"),
         (4, f"pref1 pref2 {s8a} mid1 mid2 mid3 {s8b}")],
        "doc_id int, text string",
    )
    got = {(r.doc1, r.doc2): (r.n_runs, r.max_run_tokens)
           for r in dedup.substring_dup_spans(docs).collect()}
    assert got[(1, 2)] == (1, 12)
    assert got[(3, 4)] == (2, 8)
    assert set(got) == {(1, 2), (3, 4)}


def test_stratified_sample_empty_rates(spark):
    """rates={} keeps everything (rate 10000) — including a stratum
    literally named the empty string (no placeholder-row collision)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "s")], "doc_id int, source string")
    out = sampling.stratified_sample(docs, rates={}).collect()
    assert all(r.kept == 1 and r.rate_bp == 10000 for r in out)


def test_ppl_proxy_orders_gibberish_above_indistribution(spark):
    """The char-trigram LM must score out-of-distribution text (gibberish
    trigrams unseen in train) strictly worse (higher mean NLL) than text
    drawn from the corpus's own distribution."""
    from ocrspark.ops import textstats

    common = "the quick brown fox jumps over the lazy dog and runs on "
    docs = spark.createDataFrame(
        [(i, common * 4) for i in range(30)]
        + [(100, common * 4), (101, "zxq jvk wqz xjq kvz qzx vkj " * 8)],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.avg_nll_e9 for r in textstats.ppl_proxy(docs).collect()}
    assert got[101] > got[100]
    assert got[100] == got[0]  # identical text, identical score


def test_repetition_stats_planted_duplicates(spark):
    from ocrspark.ops import textstats

    docs = spark.createDataFrame(
        [
            # non-blank lines: "spam spam" x3 + "real line" -> 2 dup
            # occurrences / 4 lines = 5000bp; the two paragraphs differ
            # ("spam spam\nreal line" vs "spam spam\nspam spam") -> 0
            (1, "spam spam\nreal line\n\nspam spam\nspam spam"),
            # no structure at all: 1 line, 1 para, zero dup
            (2, "just one line of text"),
            # blank-heavy doc: blanks dropped, not counted as dup units
            (3, "a\n\n\n\na"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_bp"] == 5000
    assert out[1]["n_paras"] == 2 and out[1]["dup_para_bp"] == 0
    assert out[1]["repetition_pass"] == 0
    assert out[2]["n_lines"] == 1
    assert out[2]["dup_line_bp"] == 0
    assert out[2]["repetition_pass"] == 1
    # doc 3: lines 'a','a' -> 1 dup of 2 = 5000bp; paras 'a','a' same
    assert out[3]["n_lines"] == 2 and out[3]["dup_line_bp"] == 5000
    assert out[3]["n_paras"] == 2 and out[3]["dup_para_bp"] == 5000


def test_repetition_ngram_stats_planted(spark):
    from ocrspark.ops import textstats

    # "ab cd" repeated 5 times: every 2-gram occurrence is a repeat of
    # one of two grams; top-2-gram ("ab cd" or "cd ab") mass dominates
    rep = " ".join(["ab cd"] * 5)          # 10 words, 20 chars
    # long all-distinct doc: no repeats, and no single n-gram can claim
    # enough char mass to trip the top-n thresholds
    uniq = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(1, rep), (2, uniq)], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in textstats.repetition_ngram_stats(docs).collect()}
    # doc 1: top 2-gram "ab cd" occurs 5x, 4 chars -> 20/20 chars = 10000bp
    assert out[1]["top2_char_bp"] == 10000
    # 5-grams: "ab cd ab cd ab" occurs 3x (overlapping)... all 6 5-gram
    # occurrences are duplicated -> dup mass capped at 10000
    assert out[1]["dup5_char_bp"] == 10000
    assert out[1]["rep_ngram_pass"] == 0
    assert out[2]["top2_char_bp"] > 0        # some gram always claims mass
    assert out[2]["dup5_char_bp"] == 0
    assert out[2]["rep_ngram_pass"] == 1


def test_dsir_importance_moves_toward_target(spark):
    # target = docs about "alpha"; raw corpus has alpha-docs and beta-docs.
    # alpha-docs must outscore beta-docs, and scores must be deterministic.
    alpha = [(i, "alpha words " + " ".join(["alpha"] * 5)) for i in range(10)]
    beta = [(i + 10, "beta words " + " ".join(["beta"] * 5)) for i in range(10)]
    docs = spark.createDataFrame(alpha + beta, "doc_id long, text string")
    target = docs.filter(F.col("doc_id") < 10)
    out = sampling.dsir_importance(docs, target)
    rows = {r["doc_id"]: r for r in out.collect()}
    a_score = sum(rows[i]["dsir_score_e9"] for i in range(10)) / 10
    b_score = sum(rows[i + 10]["dsir_score_e9"] for i in range(10)) / 10
    assert a_score > b_score
    # deterministic: same input, same scores + same gumbel keys
    rows2 = {r["doc_id"]: r
             for r in sampling.dsir_importance(docs, target).collect()}
    assert all(rows[k]["dsir_score_e9"] == rows2[k]["dsir_score_e9"]
               and rows[k]["gumbel_e9"] == rows2[k]["gumbel_e9"]
               for k in rows)

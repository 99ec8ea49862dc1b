"""Physical-plan assertions: the scale claims, checked mechanically.

The pipeline's design contract (segment.py docstring): ONE data-sized
exchange — hash(doc_id) — for the whole extraction; every later window /
groupBy / join reuses that partitioning.  And the native path must contain
no Python workers (BatchEvalPython / ArrowEvalPython), i.e. no per-row or
per-batch Python in the hot path.
"""

import re

from pyspark.sql import functions as F

from ocrspark.corpus import generate_docs
from ocrspark.pipeline import extract


def test_single_exchange_native(spark, plan_nodes, plan_text):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    # one data exchange; AQE may add nothing else
    assert plan_nodes(df).count("Exchange") == 1, plan_nodes(df)
    # text: the partitioning key is an argument of the node, not a node
    plan = plan_text(df)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and "doc_id" in exchanges[0], plan


def test_no_python_in_native_plan(spark, plan_nodes, plan_text):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    nodes = plan_nodes(df)
    # the only Python stage allowed is the corpus generator's mapInPandas
    assert nodes.count("MapInPandas") <= 1, nodes
    assert "BatchEvalPython" not in nodes, nodes
    # text: a PythonUDF is an expression inside a node, not a node
    assert "PythonUDF" not in plan_text(df)


def test_no_cartesian_or_nested_loop(spark, plan_nodes):
    docs = generate_docs(spark, 10, seed=1)
    nodes = plan_nodes(extract(docs, arrow=False))
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes


def test_scaled_similarity_paths_are_equi_joins(spark, plan_nodes):
    """The dedup/ANN scale paths must never plan a cartesian/nested-loop
    join: banded-LSH near-dups, bucketed ANN search, and the capped MinHash
    candidate join are all equi-joins.  (cosine_topk and the
    _exact_near_dups recall baseline are the documented broadcast
    exceptions.)"""
    from ocrspark.ops import dedup, similarity

    emb = spark.range(64).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(similarity.DIM)),
            lambda i: F.sin(i * (F.col("id") + 1)).cast("float"),
        ).alias("embedding"),
    )
    docs = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("some words here number "), F.col("id"),
                 F.lit(" more filler words to shingle")).alias("text"),
    )
    for df in [
        similarity.embedding_near_dups(emb, threshold=0.4),
        similarity.lsh_search(emb),
        dedup.minhash_dedup(docs, threshold=0.2),
        dedup.simhash_near_dups(docs),
        dedup.ngram_jaccard_dedup(docs, threshold=0.2),
    ]:
        nodes = plan_nodes(df)
        assert "CartesianProduct" not in nodes, nodes
        assert "BroadcastNestedLoopJoin" not in nodes, nodes
    # IVF: the ONLY nested-loop join allowed is the centroid scoring pass,
    # whose broadcast side is the N_CENTROIDS-row table (bounded by
    # construction).  Catalyst inlines the shared `asg` subplan into both
    # its consumers (inverted lists + query probes), so that one bounded
    # join appears twice; the list/probe joins themselves are equi-joins
    # (SortMergeJoin/BroadcastHashJoin), asserted by the cap below.
    nodes = plan_nodes(similarity.ivf_topk(emb))
    assert "CartesianProduct" not in nodes, nodes
    assert nodes.count("BroadcastNestedLoopJoin") <= 2, nodes


def test_ngram_jaccard_matches_uncapped_ground_truth(spark, monkeypatch):
    """The df cap only drops pairs whose EVERY shared shingle is
    corpus-hot; on the fixture corpus the capped result equals the
    exhaustive shared-shingle ground truth, and candidate generation is
    a superset of the MinHash-banded pairs."""
    from ocrspark.ops import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    capped = {(r.doc1, r.doc2, r.jaccard_bp)
              for r in dedup.ngram_jaccard_dedup(docs, threshold=0.2).collect()}
    monkeypatch.setattr(dedup, "MAX_DF", 1 << 30)
    exhaustive = {(r.doc1, r.doc2, r.jaccard_bp)
                  for r in dedup.ngram_jaccard_dedup(docs, threshold=0.2).collect()}
    assert capped == exhaustive
    minhash = {(r.doc1, r.doc2, r.jaccard_bp)
               for r in dedup.minhash_dedup(docs, threshold=0.2).collect()}
    assert minhash <= exhaustive
    assert len(exhaustive) > 0


def test_round4_ops_plan_shapes(spark, plan_nodes, plan_text):
    """Plan contracts for the round-4 curation ops: stratified_sample is
    a pure row function (ZERO Exchange — broadcast rate lookup only);
    substring_dup_spans and the others never plan a cartesian/nested-loop
    join; gopher_quality's only shuffles are doc-keyed partial aggs."""
    from ocrspark.ops import dedup, sampling, textstats

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "en",
          f"words number {i} shared filler tokens for shingles {i % 7} "
          f"more content here to gram") for i in range(40)],
        "doc_id int, source string, lang string, text string",
    )
    nodes = plan_nodes(sampling.stratified_sample(docs, rates={"s0": 2500}))
    # no data SHUFFLE: the only exchange is the broadcast of the tiny
    # rates table (a BroadcastHashJoin lookup, constant per row)
    assert "Exchange" not in nodes, nodes
    assert "BroadcastHashJoin" in nodes, nodes
    for df in [
        dedup.substring_dup_spans(docs),
        textstats.gopher_quality(docs),
        textstats.top_ngrams(docs),
        sampling.source_rollup(docs),
    ]:
        nodes = plan_nodes(df)
        assert "CartesianProduct" not in nodes, nodes
        assert "BroadcastNestedLoopJoin" not in nodes, nodes
    # gopher's 2-gram mass pass is partial-aggregated (map-side combine);
    # text: partial_count is an aggregate function, not a node
    assert "partial_count" in plan_text(textstats.gopher_quality(docs))


def test_hotkey_caps_use_partial_agg_not_window(spark, plan_nodes, plan_text):
    """The df/bucket caps must be skew-safe IN THEMSELVES: sizes computed
    by groupBy (HashAggregate with partial_count before the exchange, so a
    hot key collapses map-side) and joined back — never by a count window
    over the raw key (no partial agg; AQE cannot split one hot key for a
    window, so the capping pass would straggle on exactly the key it
    drops).  Covers all four capped candidate generators."""
    from ocrspark.ops import dedup, sampling

    docs = spark.createDataFrame(
        [(f"d{i}", f"words number {i} shared filler tokens for shingles "
                   f"{i % 7} more content") for i in range(40)],
        "doc_id string, text string",
    )
    for df in [
        dedup.minhash_dedup(docs, threshold=0.2),
        dedup.ngram_jaccard_dedup(docs, threshold=0.2),
        dedup.simhash_near_dups(docs),
        sampling.decontaminate(docs),
    ]:
        assert "Window" not in plan_nodes(df), plan_nodes(df)
        # text: partial_count is an aggregate function, not a node
        assert "partial_count" in plan_text(df), plan_text(df)


def test_cap_by_key_equals_window_form(spark):
    """cap_by_key's join-back must keep exactly the rows the window form
    kept — including min_n (rare-shingle lower bound) semantics."""
    from pyspark.sql import Window

    from ocrspark.ops import dedup

    rows = ([(i, f"k{i % 5}") for i in range(60)]
            + [(100 + i, "hot") for i in range(40)]
            # NULL keys count as a group (window semantics) — the
            # join-back is eqNullSafe, not a NULL-dropping equi-join
            + [(200 + i, None) for i in range(7)])
    df = spark.createDataFrame(rows, "doc_id int, k string")
    w = Window.partitionBy("k")
    for min_n, max_n in [(1, 20), (2, 12), (13, 40)]:
        want = {(r.doc_id, r.k) for r in
                df.withColumn("n", F.count(F.lit(1)).over(w))
                .filter((F.col("n") >= min_n) & (F.col("n") <= max_n))
                .drop("n").collect()}
        got = {(r.doc_id, r.k) for r in
               dedup.cap_by_key(df, ["k"], max_n, min_n=min_n).collect()}
        assert got == want, (min_n, max_n)


def test_cosine_topk_query_side_is_bounded(spark, monkeypatch):
    """Contract: cosine_topk serves the vec_id % QUERY_MOD cohort, and its
    broadcast side is runtime-capped in-plan — a query set over
    MAX_QUERIES raises instead of OOMing the broadcast."""
    import pytest

    from ocrspark.ops import similarity

    emb = spark.range(120).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(similarity.DIM)),
            lambda i: F.sin(i * (F.col("id") + 1)).cast("float"),
        ).alias("embedding"),
    )
    rows = similarity.cosine_topk(emb).collect()
    cohort = set(range(0, 120, similarity.QUERY_MOD))
    assert {r.query_id for r in rows} == cohort
    assert len(rows) == len(cohort) * similarity.TOP_K
    # over-cap query set fails loudly at runtime (the guard survives
    # Catalyst optimization — it must not be folded away)
    monkeypatch.setattr(similarity, "MAX_QUERIES", len(cohort) - 1)
    with pytest.raises(Exception, match="max_queries"):
        similarity.cosine_topk(emb).collect()


def test_embedding_near_dups_recall(spark):
    """Bucketed pairs are a subset of exact pairs, with usable recall at the
    dedup-relevant threshold."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id1, r.id2) for r in
             similarity._exact_near_dups(emb, 0.4).collect()}
    banded = {(r.id1, r.id2) for r in
              similarity.embedding_near_dups(emb, 0.4).collect()}
    assert banded <= exact
    assert len(exact) > 0
    assert len(banded) / len(exact) >= 0.5  # OR-of-ANDs recall at cos>=0.4


def test_components_label_propagation(spark, monkeypatch):
    """Min-label propagation finds connected components on a graph needing
    multiple rounds (path of 6) plus a disjoint pair, labeling each node
    with the component-min id and the component size."""
    from ocrspark.ops import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "doc1 int, doc2 int",
    )
    got = {(r.doc_id, r.rep_id, r.cluster_size)
           for r in dedup.components(pairs).collect()}
    want = {(n, 1, 6) for n in range(1, 7)} | {(10, 10, 2), (11, 10, 2)}
    assert got == want
    # non-convergence is an error, never silently-partial labels
    import pytest

    monkeypatch.setattr(dedup, "COMPONENTS_MAX_ITER", 2)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.components(pairs)


def test_boilerplate_cluster_routes_to_exact_dedup(spark):
    """The df cap's routing policy is coherent: a 200-doc identical
    boilerplate cluster produces ZERO rare-shingle candidates (every
    shingle is corpus-hot) but is fully captured by the exact-dup
    hash-groupBy — the path the cap documentation points hot clusters to."""
    from ocrspark.ops import dedup

    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated verbatim for every "
             "doc in this synthetic cluster of two hundred")
         for i in range(200)],
        "doc_id int, text string",
    )
    assert dedup.ngram_jaccard_dedup(docs, threshold=0.2).count() == 0
    groups = dedup.exact_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].dup_count == 200 and groups[0].keep_doc_id == 0


def test_components_checkpoint_storage_is_bounded(spark):
    """Per-round localCheckpoint blocks must be freed as rounds supersede
    each other: a diameter-15 path forces ~15 propagation rounds, but the
    net growth in persistent RDDs after the run is O(1) (final labels +
    nodes), not O(rounds) — the round-3 ADVICE storage-accumulation fix."""
    from ocrspark.ops import dedup

    sc = spark.sparkContext

    def n_persistent():
        return len(sc._jsc.getPersistentRDDs().keySet().toArray())

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "doc1 int, doc2 int"
    )
    for fn in (dedup.components, dedup.components_star):
        base = n_persistent()
        out = fn(path).collect()
        assert {(r.doc_id, r.rep_id, r.cluster_size) for r in out} \
            == {(n, 1, 16) for n in range(1, 17)}
        growth = n_persistent() - base
        assert growth <= 2, f"{fn.__name__} leaked {growth} checkpoints"


def test_components_star_equals_propagation(spark):
    """large-star/small-star (the O(log^2 n)-round scale path) must produce
    exactly the labels of plain min-label propagation — on a multi-round
    path graph, a star cluster, a cycle, and seeded random graphs."""
    import random

    from ocrspark.ops import dedup

    cases = [
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        [(7, 1), (7, 2), (7, 3), (8, 9), (9, 10), (10, 8)],  # star + cycle
    ]
    for seed in (0, 1):
        rng = random.Random(seed)
        cases.append([(rng.randrange(60), rng.randrange(60))
                      for _ in range(80)])
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "doc1 int, doc2 int")
        prop = {(r.doc_id, r.rep_id, r.cluster_size)
                for r in dedup.components(df).collect()}
        star = {(r.doc_id, r.rep_id, r.cluster_size)
                for r in dedup.components_star(df).collect()}
        assert star == prop, (sorted(star - prop), sorted(prop - star))


def test_ivf_topk_recall_vs_exact(spark):
    """IVF results are a subset of valid neighbors with contiguous ranks,
    and the n_probe=2/16-cell scan retains usable recall@k against the
    exact cosine_topk baseline on the fixture embeddings."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.cosine_topk(emb).collect()
    ivf = similarity.ivf_topk(emb).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf}
    # same query cohort, contiguous ranks per query
    assert {r.query_id for r in ivf} == {r.query_id for r in exact}
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # sims must agree with the exact computation for shared pairs
    exact_sim = {(r.query_id, r.neighbor_id): r.sim_e9 for r in exact}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in exact_sim:
            assert exact_sim[(r.query_id, r.neighbor_id)] == r.sim_e9
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"IVF recall@10 collapsed: {recall:.3f}"


def test_ivf_two_level_assignment(spark, monkeypatch):
    """The hierarchical coarse assign must (a) score ~g + p*k/g cells per
    vector instead of all k — at 256 centroids the flat build pass scores
    8x more pairs — (b) compute EXACT sims for every cell it scans (flat
    and two-level agree bit-for-bit on shared pairs), and (c) stay a
    usable approximation of the flat assignment on weakly-clustered
    synthetic vectors (crank-1 cell agreement; real corpora cluster
    better, which only helps)."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    k = 256
    monkeypatch.setattr(similarity, "N_CENTROIDS", k)
    monkeypatch.setattr(similarity, "PROBE_GROUPS", 4)
    monkeypatch.setattr(similarity, "N_PROBE", 8)
    flat = similarity.ivf_assignments(emb)
    two = similarity.ivf_assignments_two_level(emb)
    # (a) cost: scored pairs shrink by ~k / (g + p*k/g) = ~3.2x at k=256
    n_flat, n_two = flat.count(), two.count()
    assert n_flat == n * k
    assert n_two < n_flat / 3, (n_flat, n_two)
    # (b) exactness on the scanned subset
    fs = {(r.vec_id, r.cell_id): r.csim for r in flat.collect()}
    ts = {(r.vec_id, r.cell_id): r.csim for r in two.collect()}
    assert all(fs[p] == ts[p] for p in ts)
    # (c) assignment fidelity + end-to-end contract via ivf_topk
    f1 = {r.vec_id: r.cell_id
          for r in flat.filter(F.col("crank") == 1).collect()}
    t1 = {r.vec_id: r.cell_id
          for r in two.filter(F.col("crank") == 1).collect()}
    agree = sum(1 for v in f1 if t1.get(v) == f1[v]) / len(f1)
    assert agree >= 0.6, f"two-level crank-1 agreement collapsed: {agree:.3f}"
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb).collect()}
    tl = similarity.ivf_topk(emb, two_level=True).collect()
    by_q = {}
    for r in tl:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    recall = len({(r.query_id, r.neighbor_id) for r in tl} & exact) / len(exact)
    assert recall >= 0.2, f"two-level IVF recall collapsed: {recall:.3f}"


def test_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 probing must not lose any single-probe candidate and must
    raise (or equal) recall@k against the exact baseline."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb).collect()
             if r.rank <= similarity.LSH_TOP_K}
    single = similarity.lsh_search(emb).collect()
    multi = similarity.lsh_search_multiprobe(emb).collect()
    # every single-probe candidate set is a subset of multi-probe's, so at
    # equal k the multi-probe rank list can only improve (sim desc order)
    r_single = len({(r.query_id, r.neighbor_id) for r in single} & exact) / len(exact)
    r_multi = len({(r.query_id, r.neighbor_id) for r in multi} & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi > 0


def test_simhash_blocks_exact_for_low_hamming(spark):
    """The byte-block candidate join is EXACT (not approximate) for
    hamming <= SIMHASH_BLOCKS - 1: compare against brute-force pairs."""
    from itertools import combinations

    from ocrspark.ops import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    brute = {
        (min(a, b), max(a, b), bin(sh[a] ^ sh[b]).count("1"))
        for a, b in combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= dedup.SIMHASH_MAX_HAMMING
    }
    got = {(r.doc1, r.doc2, r.hamming)
           for r in dedup.simhash_near_dups(docs).collect()}
    assert got == brute and len(brute) > 0


def test_plan_nodes_sees_every_asserted_node(spark, plan_nodes):
    """The node checks in this file can fail: on a small plan built to
    contain it, each node type asserted here is reported by the walker
    (through adaptive plans, query stages, subqueries and cached plans),
    and a bare scan has none."""
    from pyspark.sql import Window

    a = spark.range(20).withColumnRenamed("id", "k")
    b = spark.range(20).withColumnRenamed("id", "j")
    b.createOrReplaceTempView("plan_nodes_b")
    cases = {
        "CartesianProduct": a.hint("shuffle_replicate_nl").crossJoin(b),
        "BroadcastNestedLoopJoin": a.join(F.broadcast(b), a.k < b.j),
        "SortMergeJoin": a.hint("merge").join(b, a.k == b.j),
        "BroadcastHashJoin": a.join(F.broadcast(b), a.k == b.j),
        "BroadcastExchange": a.join(F.broadcast(b), a.k == b.j),
        "Exchange": a.repartition(3, "k"),
        "Subquery": a.select(
            "k", F.expr("(SELECT max(j) FROM plan_nodes_b)").alias("m")),
        "Window": a.withColumn("r", F.row_number().over(Window.orderBy("k"))),
        "TakeOrderedAndProject": a.orderBy("k").limit(3),
        "MapInPandas": a.mapInPandas(lambda it: it, a.schema),
        "BatchEvalPython": a.select(F.udf(lambda x: x, "long")("k")),
        "ArrowEvalPython": a.select(F.pandas_udf(lambda s: s, "long")("k")),
    }
    bare = plan_nodes(a)
    for name, df in cases.items():
        assert name not in bare, bare
        assert name in plan_nodes(df), (name, plan_nodes(df))
    # the bare-"Exchange" checks match by substring: any exchange fails
    # them, broadcast ones and those inside a subquery included
    for name in ("BroadcastExchange", "Subquery"):
        assert any("Exchange" in n for n in plan_nodes(cases[name]))
    assert not any("Exchange" in n for n in bare), bare
    cached = a.repartition(3, "k").cache()
    try:
        cached.count()
        nodes = plan_nodes(cached.filter("k > 3"))
        assert "InMemoryTableScan" in nodes, nodes
        # the cached plan under the scan is walked too
        assert "Exchange" in nodes, nodes
    finally:
        cached.unpersist()
        spark.catalog.dropTempView("plan_nodes_b")


def test_relied_on_spark_defaults(spark):
    """``get_spark`` leaves AQE with partition coalescing and skew-join
    splitting, 10,000-record Arrow batches and 128 MB input splits to
    Spark's defaults; an upgrade that moves one fails here."""
    conf = spark.conf.get
    assert [conf(f"spark.sql.adaptive.{k}") for k in (
        "enabled", "coalescePartitions.enabled", "skewJoin.enabled")] \
        == ["true"] * 3
    assert conf("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"
    assert spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf("spark.sql.files.maxPartitionBytes")) == 128 * 2**20


def test_whole_stage_codegen_present(spark, plan_text):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    df.collect()  # finalize AQE so codegen ids ("*(n)") appear
    # text: the "*(n)" codegen id is a rendering marker, not a node
    plan = plan_text(df)
    assert plan.count("*(") > 0


def test_real_decode_with_codec(spark):
    """Codec-backed decode path: gated on a PIL probe exactly like the
    Iceberg jar gate — skipped in the codec-free sandbox, green wherever
    an environment provides the codec (closing F9's pixel-predicate
    seam).  Absent PIL, real_decode must keep raising NotImplementedError
    (the honest-seam contract)."""
    import pytest

    from ocrspark.ops import media

    try:
        from PIL import Image
    except ImportError:
        import pandas as pd

        with pytest.raises(NotImplementedError, match="codec"):
            media.real_decode(pd.Series(["r"]), pd.Series([b"x"]))
        pytest.skip("PIL absent; codec seam stays stubbed (fake_decode)")

    import io

    def png(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [("media/a.png", png(32, 16, (255, 255, 255))),
            ("media/b.png", png(8, 8, (0, 0, 0))),
            # corrupt payload: must degrade to a null-feature row, not
            # fail the Arrow batch (fail-soft decode contract)
            ("media/corrupt.png", b"\x89PNG not really a png")]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r.media_ref: r for r in
           media.extract_media_features(df, decoder=media.real_decode).collect()}
    a, b = got["media/a.png"], got["media/b.png"]
    assert (a.width, a.height) == (32, 16)
    assert (b.width, b.height) == (8, 8)
    assert a.n_bytes == len(rows[0][1]) and b.n_bytes == len(rows[1][1])
    # all-white mass lands in the top histogram bin, all-black in the bottom
    assert abs(a.feature[7] - 1.0) < 1e-6
    c = got["media/corrupt.png"]
    assert c.width is None and c.height is None and c.feature is None
    assert c.n_bytes == len(rows[2][1])
    assert abs(b.feature[0] - 1.0) < 1e-6


def test_media_decode_arrow_batch_cap(spark):
    """The payload decode must be batch-shape independent: driving 3000
    payload rows through mapInPandas with a tiny Arrow batch cap (forcing
    many batches) yields byte-identical features to the direct pandas call."""
    import pandas as pd

    from ocrspark.ops import media

    refs = spark.range(3000).select(
        F.concat(F.lit("media/img_"), F.col("id")).alias("media_ref"),
        F.expr("unhex(repeat(md5(concat('media/img_', id)), "
               "cast(id % 5 + 1 as int)))").alias("payload"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
    try:
        got = {
            r.media_ref: (r.width, r.height, r.n_bytes, tuple(r.feature))
            for r in media.extract_media_features(refs).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    pdf = refs.toPandas()
    exp_df = media.fake_decode(pdf["media_ref"], pdf["payload"])
    exp = {
        r.media_ref: (r.width, r.height, r.n_bytes, tuple(r.feature))
        for r in exp_df.itertuples()
    }
    assert len(got) == 3000
    assert got == exp
    # n_bytes really measured the payload that crossed the Arrow boundary
    assert {v[2] for v in got.values()} == {16 * k for k in range(1, 6)}


def test_pq_adc_properties(spark, plan_nodes):
    """PQ/ADC contracts: (a) codebook-source vectors self-code exactly
    (distance 0 at their own entry); (b) ADC recall@10 vs brute-force L2
    clears 5x the random floor even with the un-learned lowest-id
    codebook; (c) ranks are contiguous per query and the plan stays
    equi-join only."""
    import numpy as np

    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = emb.collect()
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(V)
    codes = {(r.vec_id, r.sub_id): r.code
             for r in similarity.pq_codes(emb).collect()}
    for rank, v in enumerate(ids[:similarity.PQ_KSUB]):
        for s in range(similarity.PQ_M):
            assert codes[(v, s)] == rank
    qs = [i for i in ids if i % 25 == 0]
    exact = {q: {c for _, c in sorted(
        ((float(np.sum((V[q] - V[c]) ** 2)), c) for c in ids if c != q)
    )[:10]} for q in qs}
    pq = similarity.pq_topk(emb)
    assert "CartesianProduct" not in plan_nodes(pq), plan_nodes(pq)
    got_rows = pq.collect()
    got = {}
    ranks = {}
    for r in got_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert set(got) == set(qs)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())
    recall = sum(len(got[q] & exact[q]) for q in qs) / (10 * len(qs))
    assert recall >= 0.1, f"ADC recall collapsed: {recall:.3f}"


def test_ivfpq_candidates_subset_of_ivf(spark):
    """IVF-PQ must score exactly the IVF-probed candidate universe (same
    cells, same lists): every result pairs a query with a vector whose
    cell is one of the query's N_PROBE closest, and ranks are
    contiguous."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    asg = similarity.ivf_assignments(emb).collect()
    cell = {r.vec_id: r.cell_id for r in asg if r.crank == 1}
    probed = {(r.vec_id, r.cell_id) for r in asg
              if r.crank <= similarity.N_PROBE}
    pq = similarity.ivfpq_topk(emb).collect()
    assert all((r.query_id, cell[r.neighbor_id]) in probed
               and r.query_id % similarity.QUERY_MOD == 0 for r in pq)
    ranks = {}
    for r in pq:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())
    assert len(pq) > 0


def test_substring_dedup_keep_cleans_corpus(spark):
    """Lee et al. exact-substring dedup OUTPUT: keep-first drops every
    later occurrence of a >=min_run shared span, and the cleaned corpus
    re-reports ZERO duplicated spans."""
    from ocrspark.ops import dedup

    shared = " ".join(f"dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [("a", f"alpha one two {shared} tail aa"),
         ("b", f"beta {shared} other words here bb"),
         ("c", f"gamma prefix words {shared} end cc"),
         ("d", "totally unrelated text with enough words to stand alone")],
        "doc_id string, text string",
    )
    spans = dedup.substring_dup_spans(docs).collect()
    assert {(r.doc1, r.doc2) for r in spans} == {
        ("a", "b"), ("a", "c"), ("b", "c")}
    rows = {r.doc_id: r for r in dedup.substring_dedup_keep(docs).collect()}
    # keep-first: the lowest doc_id keeps its occurrence, b and c drop it
    assert "dup0" in rows["a"].kept_text
    assert "dup0" not in rows["b"].kept_text
    assert "dup0" not in rows["c"].kept_text
    assert rows["b"].n_tokens_dropped == 12
    assert rows["b"].n_spans_dropped == 1
    assert rows["d"].n_spans_dropped == 0
    assert rows["d"].kept_text.startswith("totally unrelated")
    # untouched words survive in order around the dropped span
    assert rows["b"].kept_text == "beta other words here bb"
    cleaned = spark.createDataFrame(
        [(r.doc_id, r.kept_text) for r in rows.values()],
        "doc_id string, text string",
    )
    assert dedup.substring_dup_spans(cleaned).count() == 0


def test_ppl_model_bounded_on_wide_charset(spark, plan_nodes, plan_text,
                                          monkeypatch):
    """The broadcast LM must be top-V by construction, not by charset
    luck: a wide-charset (CJK-like) corpus keeps the model <= PPL_MAX_VOCAB
    rows, and scoring still works with dropped grams at the smoothed
    floor."""
    from ocrspark.ops import textstats

    docs = spark.createDataFrame(
        [(f"d{i}",
          "".join(chr(0x4E00 + (i * librate + j * 13) % 4000)
                  for j in range(60)))
         for i, librate in ((i, 97) for i in range(50))],
        "doc_id string, text string",
    )
    monkeypatch.setattr(textstats, "PPL_MAX_VOCAB", 100)
    model = textstats.ppl_trigram_model(docs)
    assert model.count() <= 100
    # the top-V cap is a TakeOrdered whose single final merge sees at
    # most PPL_MERGE_PARTS x V rows by construction: the aggregated
    # counts are re-hashed into exactly that many partitions first
    assert "TakeOrderedAndProject" in plan_nodes(model), plan_nodes(model)
    # text: the partition key and count are arguments of the Exchange node
    p = plan_text(model)
    assert f"hashpartitioning(g#" in p and f", {textstats.PPL_MERGE_PARTS})" in p, p
    out = textstats.ppl_proxy(docs).collect()
    assert len(out) == 50
    assert all(r.avg_nll_e9 > 0 for r in out)
    # far more distinct grams exist than the cap admits
    monkeypatch.setattr(textstats, "PPL_MAX_VOCAB", 1 << 20)
    assert textstats.ppl_trigram_model(docs).count() > 100


def test_strip_boilerplate_lines(spark, monkeypatch):
    """The top_ngrams strip list consumer: lines containing a corpus-hot
    3-gram are removed, unique lines survive in order."""
    from ocrspark.ops import textstats

    bp = "subscribe to our newsletter now"
    docs = spark.createDataFrame(
        [(f"d{i}",
          f"unique{i} alpha{i} beta{i} gamma{i}\n{bp}\n"
          f"omega{i} delta{i} eps{i} zeta{i}")
         for i in range(20)]
        + [("clean", "totally distinct words only here")],
        "doc_id string, text string",
    )
    # the 3 boilerplate grams are the only ones hotter than 1 occurrence
    monkeypatch.setattr(textstats, "TOP_NGRAMS_K", 3)
    out = {r.doc_id: r for r in
           textstats.strip_boilerplate_lines(docs).collect()}
    assert out["d0"].n_lines == 3 and out["d0"].n_lines_kept == 2
    assert "newsletter" not in out["d0"].kept_text
    assert out["d0"].kept_text == (
        "unique0 alpha0 beta0 gamma0\nomega0 delta0 eps0 zeta0")
    assert out["clean"].n_lines == 1 and out["clean"].n_lines_kept == 1


def test_round5_ops_plan_shapes(spark, plan_nodes, plan_text):
    """Plan contracts for the round-5 cleaning ops: substring keep stays
    a capped equi-join chain (partial-agg cap, no cartesian); the
    boilerplate strip's only corpus-side join is the bounded 1-row
    strip-list broadcast (array fold), with no corpus-keyed join at
    all."""
    from ocrspark.ops import dedup, textstats

    docs = spark.createDataFrame(
        [(f"d{i}", f"words number {i} shared filler tokens for shingles "
                   f"{i % 7} more content lines here") for i in range(40)],
        "doc_id string, text string",
    )
    keep = dedup.substring_dedup_keep(docs)
    assert "CartesianProduct" not in plan_nodes(keep), plan_nodes(keep)
    # text: partial_count is an aggregate function, not a node
    assert "partial_count" in plan_text(keep), plan_text(keep)
    nodes = plan_nodes(textstats.strip_boilerplate_lines(docs))
    assert "CartesianProduct" not in nodes, nodes
    # the 1-row folded strip list is the ONLY nested-loop join (bounded
    # by construction); the corpus side joins on no key whatsoever
    assert nodes.count("BroadcastNestedLoopJoin") <= 1, nodes


def test_substring_self_spans(spark):
    """Within-doc repeats: one run per (offset) diagonal, verbatim-exact
    span lengths; tandem repeats surface once per offset."""
    from ocrspark.ops import dedup

    rep = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [("a", f"intro words here {rep} middle filler words {rep} outro"),
         ("b", ("x " * 20).strip()),
         ("c", "totally distinct words with no internal repetition here")],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in dedup.substring_self_spans(docs).collect()}
    assert rows["a"].n_self_runs == 1
    assert rows["a"].max_run_tokens == 8
    assert "c" not in rows
    # 20 identical tokens: offsets 1..12 each chain one run; the offset-1
    # run spans 19 tokens (20 - d)
    assert rows["b"].n_self_runs == 12
    assert rows["b"].max_run_tokens == 19


def test_substring_keep_include_self(spark):
    """Both ExactSubstr halves in one cleaning pass: cross-doc keep-first
    drops AND within-doc later-copy drops; duplicate drop intervals (the
    same span shared with several lower docs) must merge
    deterministically (the distinct-before-islands contract)."""
    from ocrspark.ops import dedup

    shared = " ".join(f"d{i}" for i in range(10))
    selfrep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [("a", f"one {shared} two"),
         ("b", f"three {shared} four"),
         # c gets the shared span via BOTH (a,c) and (b,c) -> duplicate
         # drop interval — plus a self repeat
         ("c", f"five {shared} six {selfrep} mid {selfrep} end")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in
           dedup.substring_dedup_keep(docs, include_self=True).collect()}
    assert "d0" in out["a"].kept_text          # keep-first: a keeps it
    assert "d0" not in out["b"].kept_text
    assert "d0" not in out["c"].kept_text
    # self repeat: first copy survives, later copy dropped
    assert out["c"].kept_text.count("r0") == 1
    assert out["c"].kept_text == ("five six " + selfrep + " mid end")
    assert out["c"].n_spans_dropped == 2       # merged shared + self copy
    assert out["c"].n_tokens_dropped == 18
    # cross-only default leaves the self repeat alone
    cross = {r.doc_id: r for r in
             dedup.substring_dedup_keep(docs).collect()}
    assert cross["c"].kept_text.count("r0") == 2


def test_substring_keep_original_text(spark):
    """original_text=True emits the raw text with dropped CHAR ranges
    removed: byte-identical outside drops (casing, punctuation,
    whitespace, line breaks preserved), boundary separators survive,
    and interior separators go with their span."""
    from ocrspark.ops import dedup

    shared = " ".join(f"Dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [("a", f"Alpha ONE, two:\n{shared} -- tail aa."),
         ("b", f"Beta! {shared}; other\twords here bb?"),
         ("d", "Totally unrelated; TEXT with\nenough words, to stand alone!")],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in dedup.substring_dedup_keep(
        docs, original_text=True).collect()}
    # keep-first: a keeps the span verbatim, b drops exactly its chars
    assert rows["a"].kept_text == f"Alpha ONE, two:\n{shared} -- tail aa."
    assert rows["b"].kept_text == "Beta! ; other\twords here bb?"
    assert rows["b"].n_spans_dropped == 1
    assert rows["b"].n_tokens_dropped == 12
    # untouched doc passes through byte-identical, never segmented
    assert rows["d"].kept_text == \
        "Totally unrelated; TEXT with\nenough words, to stand alone!"
    assert rows["d"].n_spans_dropped == 0
    # stats agree with the canonical-domain output on the same corpus
    canon = {r.doc_id: r for r in
             dedup.substring_dedup_keep(docs).collect()}
    for d in rows:
        assert rows[d].n_tokens == canon[d].n_tokens
        assert rows[d].n_tokens_dropped == canon[d].n_tokens_dropped


def test_substring_keep_edge_spans_original_text(spark):
    """Char-range removal at text EDGES: a span at the very start keeps
    the separator after it only if outside the range; a doc whose every
    token drops comes back as the bare separators (here: empty-ish)."""
    from ocrspark.ops import dedup

    span = " ".join(f"e{i}" for i in range(10))
    docs = spark.createDataFrame(
        [("a", span),                       # keeper (lowest doc_id)
         ("b", span),                       # exact dup: all tokens drop
         ("c", f"{span}, then Extra kept words follow here")],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in dedup.substring_dedup_keep(
        docs, original_text=True).collect()}
    assert rows["a"].kept_text == span
    assert rows["b"].kept_text == ""        # every segment dropped
    assert rows["b"].n_tokens_dropped == 10
    # leading span removed, boundary separator + rest byte-identical
    assert rows["c"].kept_text == ", then Extra kept words follow here"


def test_substring_keep_hot_span_cap_exemption(spark, monkeypatch):
    """The documented MAX_DF CAP EXEMPTION: a span occurring at more
    positions corpus-wide than MAX_DF never forms runs, so ExactSubstr
    leaves it uncleaned by design (corpus-hot boilerplate is
    strip_boilerplate_lines' job; curate_clean_corpus chains the two)."""
    from ocrspark.ops import dedup

    hot = " ".join(f"h{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"unique{i} opener {hot} unique{i} closer")
         for i in range(9)],
        "doc_id string, text string",
    )
    # MAX_DF=4: the hot grams occur 9 times > 4 -> capped out, no drops
    monkeypatch.setattr(dedup, "MAX_DF", 4)
    capped = dedup.substring_dedup_keep(docs).collect()
    assert all(r.n_spans_dropped == 0 for r in capped)
    assert all("h0" in r.kept_text for r in capped)
    # raising the cap above the occurrence count restores cleaning
    monkeypatch.setattr(dedup, "MAX_DF", 64)
    uncapped = {r.doc_id: r for r in
                dedup.substring_dedup_keep(docs).collect()}
    assert uncapped["d00"].n_spans_dropped == 0
    assert all(uncapped[f"d{i:02d}"].n_spans_dropped == 1
               for i in range(1, 9))

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


def _plan(df) -> str:
    """Rendered executed plan, for expression-level facts only (partial
    aggregate functions, partitioning arguments, Python UDF expressions,
    codegen ids); node types are checked with the ``plan_nodes`` walker."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_exchange_native(spark, plan_nodes):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    # one data exchange; AQE may add nothing else
    assert plan_nodes(df).count("Exchange") == 1, plan_nodes(df)
    # text: the partitioning key is an argument of the node, not a node
    plan = _plan(df)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and "doc_id" in exchanges[0], plan


def test_no_python_in_native_plan(spark, plan_nodes):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    nodes = plan_nodes(df)
    # the only Python stage allowed is the corpus generator's mapInPandas
    assert nodes.count("MapInPandas") <= 1, nodes
    assert "BatchEvalPython" not in nodes, nodes
    # text: a PythonUDF is an expression inside a node, not a node
    assert "PythonUDF" not in _plan(df)


def test_no_cartesian_or_nested_loop(spark, plan_nodes):
    docs = generate_docs(spark, 10, seed=1)
    nodes = plan_nodes(extract(docs, arrow=False))
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes


def test_scaled_similarity_paths_are_equi_joins(spark, plan_nodes):
    """The dedup/ANN scale paths must never plan a cartesian/nested-loop
    join: banded-LSH near-dups, bucketed ANN search, and the capped MinHash
    candidate join are all equi-joins.  (cosine_topk and the exact=True
    recall baseline are the documented broadcast exceptions.)"""
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
    # whose broadcast side is the n_centroids-row table (bounded by
    # construction).  Catalyst inlines the shared `asg` subplan into both
    # its consumers (inverted lists + query probes), so that one bounded
    # join appears twice; the list/probe joins themselves are equi-joins
    # (SortMergeJoin/BroadcastHashJoin), asserted by the cap below.
    nodes = plan_nodes(similarity.ivf_topk(emb, n_centroids=4))
    assert "CartesianProduct" not in nodes, nodes
    assert nodes.count("BroadcastNestedLoopJoin") <= 2, nodes


def test_ngram_jaccard_matches_uncapped_ground_truth(spark):
    """The df cap only drops pairs whose EVERY shared shingle is
    corpus-hot; on the fixture corpus the capped result equals the
    exhaustive shared-shingle ground truth, and candidate generation is
    a superset of the MinHash-banded pairs."""
    from ocrspark.ops import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    capped = {(r.doc1, r.doc2, r.jaccard_bp)
              for r in dedup.ngram_jaccard_dedup(docs, threshold=0.2).collect()}
    exhaustive = {(r.doc1, r.doc2, r.jaccard_bp)
                  for r in dedup.ngram_jaccard_dedup(
                      docs, threshold=0.2, max_df=1 << 30).collect()}
    assert capped == exhaustive
    minhash = {(r.doc1, r.doc2, r.jaccard_bp)
               for r in dedup.minhash_dedup(docs, threshold=0.2).collect()}
    assert minhash <= exhaustive
    assert len(exhaustive) > 0


def test_round4_ops_plan_shapes(spark, plan_nodes):
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
        textstats.top_ngrams(docs, k=5),
        sampling.source_rollup(docs),
    ]:
        nodes = plan_nodes(df)
        assert "CartesianProduct" not in nodes, nodes
        assert "BroadcastNestedLoopJoin" not in nodes, nodes
    # gopher's 2-gram mass pass is partial-aggregated (map-side combine);
    # text: partial_count is an aggregate function, not a node
    assert "partial_count" in _plan(textstats.gopher_quality(docs))


def test_hotkey_caps_use_partial_agg_not_window(spark, plan_nodes):
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
        assert "partial_count" in _plan(df), _plan(df)


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


def test_cosine_topk_query_side_is_bounded(spark):
    """Contract: cosine_topk's broadcast side is runtime-capped in-plan —
    a corpus-sized query set raises instead of OOMing the broadcast — and
    an explicit bounded `queries` DataFrame is the shipped API."""
    import pytest

    from ocrspark.ops import similarity

    emb = spark.range(120).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(similarity.DIM)),
            lambda i: F.sin(i * (F.col("id") + 1)).cast("float"),
        ).alias("embedding"),
    )
    # explicit query DataFrame: results cover exactly those query ids
    q = emb.filter(F.col("vec_id").isin(3, 7))
    rows = similarity.cosine_topk(emb, k=2, queries=q).collect()
    assert {r.query_id for r in rows} == {3, 7}
    assert len(rows) == 4
    # over-cap query set fails loudly at runtime (the guard survives
    # Catalyst optimization — it must not be folded away)
    with pytest.raises(Exception, match="max_queries"):
        similarity.cosine_topk(emb, k=2, query_mod=1, max_queries=16).collect()


def test_embedding_near_dups_recall(spark):
    """Bucketed pairs are a subset of exact pairs, with usable recall at the
    dedup-relevant threshold."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id1, r.id2) for r in
             similarity.embedding_near_dups(emb, 0.4, exact=True).collect()}
    banded = {(r.id1, r.id2) for r in
              similarity.embedding_near_dups(emb, 0.4).collect()}
    assert banded <= exact
    assert len(exact) > 0
    assert len(banded) / len(exact) >= 0.5  # OR-of-ANDs recall at cos>=0.4


def test_bucketed_join_is_exchange_free(spark, plan_nodes):
    """Co-located join contract: two tables bucketed by the join key with
    equal bucket counts sort-merge-join with NO Exchange on either side —
    the write-once/join-free-forever path for repeated pipeline runs."""
    from ocrspark.partitioning import write_bucketed

    a = spark.range(500).select(
        F.col("id").cast("int").alias("doc_id"),
        (F.col("id") * 3).alias("x"),
    )
    b = spark.range(500).select(
        F.col("id").cast("int").alias("doc_id"),
        (F.col("id") * 7).alias("y"),
    )
    write_bucketed(a, "bkt_a", buckets=8)
    write_bucketed(b, "bkt_b", buckets=8)
    try:
        joined = (
            spark.table("bkt_a").hint("merge")
            .join(spark.table("bkt_b").hint("merge"), "doc_id")
        )
        nodes = plan_nodes(joined)
        assert "SortMergeJoin" in nodes, nodes
        assert not any("Exchange" in n for n in nodes), nodes
        assert joined.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_components_label_propagation(spark):
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

    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.components(pairs, max_iter=2)


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
    exact = similarity.cosine_topk(emb, k=10).collect()
    ivf = similarity.ivf_topk(emb, k=10).collect()
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


def test_ivf_kmeans_quantizer_slots_in(spark):
    """The Spark-ML KMeans quantizer drops into ivf_topk unchanged and
    retains usable recall vs the exact baseline (the lowest-id stand-in
    is the oracle-matched fixture; KMeans is the production quantizer)."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact_rows = similarity.cosine_topk(emb, k=10).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    cents = similarity.ivf_kmeans_centroids(emb, n_centroids=8, seed=42)
    km = similarity.ivf_topk(emb, k=10, n_probe=2, cents=cents).collect()
    km_pairs = {(r.query_id, r.neighbor_id) for r in km}
    assert {r.query_id for r in km} == {r.query_id for r in exact_rows}
    recall = len(km_pairs & exact) / len(exact)
    # 2/8 cells probed; k-means cells concentrate true neighbors far above
    # the 25% random floor, but keep the bound host-stable
    assert recall >= 0.25, f"kmeans-IVF recall collapsed: {recall:.3f}"


def test_ivf_two_level_assignment(spark):
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
    flat = similarity.ivf_assignments(emb, k)
    two = similarity.ivf_assignments_two_level(emb, k, probe_groups=4)
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
             for r in similarity.cosine_topk(emb, k=10).collect()}
    tl = similarity.ivf_topk(emb, k=10, n_centroids=k, n_probe=8,
                             two_level=True, probe_groups=4).collect()
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
    k = 5
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb, k=k).collect()}
    single = similarity.lsh_search(emb, k=k).collect()
    multi = similarity.lsh_search_multiprobe(emb, k=k).collect()
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


def test_whole_stage_codegen_present(spark):
    docs = generate_docs(spark, 10, seed=1)
    df = extract(docs, arrow=False)
    df.collect()  # finalize AQE so codegen ids ("*(n)") appear
    # text: the "*(n)" codegen id is a rendering marker, not a node
    plan = _plan(df)
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
    codebook (a k-means codebook slots in via books=); (c) ranks are
    contiguous per query and the plan stays equi-join only."""
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
    pq = similarity.pq_topk(emb, k=10)
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
    cells, same lists) — its results are a subset of the uncompressed
    ivf_topk's candidate set at exhaustive k, with contiguous ranks."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    ivf_all = {(r.query_id, r.neighbor_id)
               for r in similarity.ivf_topk(emb, k=n).collect()}
    pq = similarity.ivfpq_topk(emb, k=10).collect()
    assert {(r.query_id, r.neighbor_id) for r in pq} <= ivf_all
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


def test_ppl_model_bounded_on_wide_charset(spark, plan_nodes):
    """The broadcast LM must be top-V by construction, not by charset
    luck: a wide-charset (CJK-like) corpus keeps the model <= max_vocab
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
    model = textstats.ppl_trigram_model(docs, max_vocab=100)
    assert model.count() <= 100
    # the top-V cap is a TakeOrdered whose single final merge sees at
    # most PPL_MERGE_PARTS x V rows by construction: the aggregated
    # counts are re-hashed into exactly that many partitions first
    assert "TakeOrderedAndProject" in plan_nodes(model), plan_nodes(model)
    # text: the partition key and count are arguments of the Exchange node
    p = _plan(model)
    assert f"hashpartitioning(g#" in p and f", {textstats.PPL_MERGE_PARTS})" in p, p
    # far more distinct grams exist than the cap admits
    uncapped = textstats.ppl_trigram_model(docs, max_vocab=1 << 20)
    assert uncapped.count() > 100
    out = textstats.ppl_proxy(docs, max_vocab=100).collect()
    assert len(out) == 50
    assert all(r.avg_nll_e9 > 0 for r in out)


def test_strip_boilerplate_lines(spark):
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
    out = {r.doc_id: r for r in
           textstats.strip_boilerplate_lines(docs, k=3).collect()}
    assert out["d0"].n_lines == 3 and out["d0"].n_lines_kept == 2
    assert "newsletter" not in out["d0"].kept_text
    assert out["d0"].kept_text == (
        "unique0 alpha0 beta0 gamma0\nomega0 delta0 eps0 zeta0")
    assert out["clean"].n_lines == 1 and out["clean"].n_lines_kept == 1
    # an explicit (reviewed) strip list overrides the mined one
    hot = spark.createDataFrame([("omega0 delta0 eps0",)], "gram string")
    got = {r.doc_id: r for r in
           textstats.strip_boilerplate_lines(docs, hot=hot).collect()}
    assert got["d0"].n_lines_kept == 2 and "omega0" not in got["d0"].kept_text
    assert got["d1"].n_lines_kept == 3


def test_ivfpq_two_level_wiring(spark):
    """IVF-PQ must accept the hierarchical coarse assign (the build-pass
    scale path) — two_level=None auto-picks it at corpus-scale
    n_centroids — and stay ADC-exact: every (query, neighbor) pair both
    paths score gets the identical integer ADC distance, and the
    two-level top-k remains a usable approximation of the flat one at
    the k=256 regime where flat assignment visibly dominates build cost
    (see test_ivf_two_level_assignment's 3x+ scored-pair reduction)."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    flat = similarity.ivfpq_topk(emb, k=10, n_centroids=256,
                                 two_level=False).collect()
    two = similarity.ivfpq_topk(emb, k=10, n_centroids=256,
                                two_level=True, probe_groups=4).collect()
    fd = {(r.query_id, r.neighbor_id): r.adist_e9 for r in flat}
    td = {(r.query_id, r.neighbor_id): r.adist_e9 for r in two}
    shared = fd.keys() & td.keys()
    assert len(shared) > 0
    assert all(fd[p] == td[p] for p in shared)
    overlap = len(shared) / len(fd)
    assert overlap >= 0.3, f"two-level IVF-PQ overlap collapsed: {overlap:.3f}"
    ranks = {}
    for r in two:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())
    # the auto rule: centroid counts at/above the threshold go hierarchical
    assert similarity.TWO_LEVEL_AUTO_CENTROIDS > 16  # oracle default stays flat


def test_ann_explicit_query_cohort(spark):
    """Every ANN entry point must take an explicit bounded `queries`
    DataFrame (the production cohort) instead of only the fixture's
    vec_id % query_mod coupling — and with the same cohort passed
    explicitly, results are IDENTICAL to the default path."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pairs = [
        (similarity.lsh_search(emb), similarity.lsh_search(emb, queries=qs)),
        (similarity.lsh_search_multiprobe(emb),
         similarity.lsh_search_multiprobe(emb, queries=qs)),
        (similarity.ivf_topk(emb), similarity.ivf_topk(emb, queries=qs)),
        (similarity.pq_topk(emb), similarity.pq_topk(emb, queries=qs)),
        (similarity.ivfpq_topk(emb), similarity.ivfpq_topk(emb, queries=qs)),
    ]
    for default_df, explicit_df in pairs:
        assert rows(default_df) == rows(explicit_df)
    # a different cohort actually changes the query set served
    qs2 = emb.filter(F.col("vec_id") % 25 == 7)
    out = similarity.ivf_topk(emb, queries=qs2).collect()
    assert len(out) > 0
    assert {r.query_id for r in out} <= {r.vec_id for r in qs2.collect()}


def test_round5_ops_plan_shapes(spark, plan_nodes):
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
    assert "partial_count" in _plan(keep), _plan(keep)
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


def test_substring_keep_hot_span_cap_exemption(spark):
    """The documented max_df CAP EXEMPTION: a span occurring at more
    positions corpus-wide than max_df never forms runs, so ExactSubstr
    leaves it uncleaned by design (corpus-hot boilerplate is
    strip_boilerplate_lines' job; curate_clean_corpus chains the two)."""
    from ocrspark.ops import dedup

    hot = " ".join(f"h{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"unique{i} opener {hot} unique{i} closer")
         for i in range(9)],
        "doc_id string, text string",
    )
    # max_df=4: the hot grams occur 9 times > 4 -> capped out, no drops
    capped = dedup.substring_dedup_keep(docs, max_df=4).collect()
    assert all(r.n_spans_dropped == 0 for r in capped)
    assert all("h0" in r.kept_text for r in capped)
    # raising the cap above the occurrence count restores cleaning
    uncapped = {r.doc_id: r for r in
                dedup.substring_dedup_keep(docs, max_df=64).collect()}
    assert uncapped["d00"].n_spans_dropped == 0
    assert all(uncapped[f"d{i:02d}"].n_spans_dropped == 1
               for i in range(1, 9))


def test_pq_kmeans_codebooks(spark, plan_nodes):
    """The KMeans codebooks slot into the PQ family via books= with the
    same contract as the deterministic stand-in, and trained codebooks
    must not degrade ADC quality vs the stand-in (they should improve
    it — real sub-centroids vs arbitrary first-ksub subvectors)."""
    from ocrspark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = similarity.pq_kmeans_codebooks(emb)
    assert books.count() == similarity.PQ_M * similarity.PQ_KSUB
    # the m fits read the CACHED train slice, not the corpus: the
    # per-subspace filtered scan must be an InMemoryTableScan (corpus
    # parquet scanned once, at materialization)
    subs = similarity._pq_train_subvectors(
        emb, similarity.PQ_M, similarity.PQ_KSUB * 1000)
    try:
        subs.count()
        nodes = plan_nodes(subs.filter(F.col("sub_id") == 0))
        assert "InMemoryTableScan" in nodes, nodes
    finally:
        subs.unpersist()
    # degenerate data (fewer distinct subvectors than codes) fails loud
    # instead of emitting a short codebook
    flat = emb.limit(30).select(
        "vec_id", F.expr(f"array_repeat(CAST(1.0 AS FLOAT), "
                         f"{similarity.DIM})").alias("embedding"))
    import pytest as _pytest
    with _pytest.raises(Exception, match="centers|need"):
        similarity.pq_kmeans_codebooks(flat)
    codes = similarity.pq_codes(emb, books).collect()
    n = emb.count()
    assert len(codes) == n * similarity.PQ_M
    assert all(0 <= r.code < similarity.PQ_KSUB for r in codes)

    def sqd(a, b):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    qids = [v for v in vecs if v % 25 == 0]
    exact = {}
    for q in qids:
        d = sorted((sqd(vecs[q], vecs[c]), c) for c in vecs if c != q)
        exact[q] = {c for _, c in d[:10]}

    def recall(books_df):
        got = {}
        for r in similarity.pq_topk(emb, k=10, books=books_df).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(q, set()) & exact[q]) for q in qids)
        return hits / sum(len(exact[q]) for q in qids)

    r_km, r_standin = recall(books), recall(None)
    assert r_km >= r_standin - 0.05, (r_km, r_standin)
    assert r_km >= 0.2, r_km

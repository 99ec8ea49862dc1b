"""Similarity search over embedding columns (vec_id, embedding array<float>).

Families (each scale path is checked against an exact baseline):

* Exact: ``cosine_topk`` — broadcast query side x candidates, the recall
  baseline, its query side capped in-plan at ``max_queries``.
* Hyperplane LSH: ``lsh_buckets`` (one sign-pattern bucket per vector),
  ``lsh_search`` (same-bucket rerank), ``lsh_search_multiprobe`` (+ every
  hamming-1 bucket), ``lsh_band_buckets`` (OR-of-ANDs bands).  Hyperplane
  weights are integer pseudo-random (hash-mixed), portable across engines.
* Near-duplicates: ``embedding_near_dups`` (band candidates -> exact cosine
  verify; ``exact=True`` is the all-pairs recall baseline) and
  ``semantic_dedup`` (those pairs -> connected components).
* IVF: ``ivf_assignments`` (flat) / ``ivf_assignments_two_level`` coarse
  cells, ``ivf_topk`` (n_probe cell scan + cosine rerank),
  ``ivf_kmeans_centroids`` (Spark-ML quantizer for ``cents=``).
* PQ/ADC: ``pq_codebooks`` / ``pq_kmeans_codebooks`` (for ``books=``),
  ``pq_codes``, ``pq_topk`` (ADC over codes) and ``ivfpq_topk`` (IVF cell
  pruning + ADC).

Shared building blocks, one implementation each: ``_dot``/``_norm`` folds,
``_cos9`` (the 9-dp cosine ranking key, norms hoisted per vector),
``_topk``/``_sim_topk`` (per-query ranked tail), ``_sign_keys`` (hyperplane
sign keys), ``_coarse_assignments`` (IVF build-pass dispatch), ``_l2_e9`` and
``_adc_table`` (integer ADC distances).  Ranking keys are rounded (1e-9) with
id tiebreaks so Spark and the DuckDB oracle rank identically despite float
summation differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 12
DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


# PERF note (r7): an unrolled fixed-dim variant of _dot/_norm (64 explicit
# getItem+multiply+add terms) was tried and measured SLOWER than the fold
# (4.1-7.4 s vs 2.6-3.0 s for the cosine_topk bench row): the giant scalar
# expression tree costs more in codegen than the interpreted fold costs in
# evaluation.  The win that stands is hoisting the per-VECTOR norms out of
# the per-PAIR expression (below) — the folds stay.


def _cos9(a: str, b: str, na: str, nb: str):
    """Cosine of array columns ``a``/``b`` from their hoisted norm columns
    ``na``/``nb``, rounded to 9 dp — the ranking key every engine agrees on."""
    return F.round(_dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 9)


def _topk(pairs: DataFrame, k: int, order, out) -> DataFrame:
    """Per-query top-k tail: (query_id, rank, neighbor_id, ``out``), ranked
    by ``order`` with neighbor_id ASC breaking ties."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out)
    )


def _sim_topk(pairs: DataFrame, k: int) -> DataFrame:
    """``_topk`` over cosine ``sim9`` (DESC), emitted as int64 ``sim_e9``."""
    return _topk(pairs, k, F.col("sim9").desc(),
                 F.round(F.col("sim9") * 1e9).cast("long").alias("sim_e9"))


MAX_QUERIES = 65536  # broadcast-side hard cap (vectors, not bytes)


def _bounded_queries(q: DataFrame, max_queries: int) -> DataFrame:
    """In-plan |Q| guard: assert the broadcast side is <= max_queries.

    The check is part of the lazy plan (a filter whose predicate raises),
    not a driver-side ``count()``: a 1-row count aggregate of q is broadcast
    back onto q and every row is gated on ``q_n <= max_queries``.  The
    predicate is deliberately NOT of the form ``assert_true(...) | true``
    (BooleanSimplification would fold the assert away); ``when/otherwise
    (raise_error)`` survives optimization because the branch condition
    references a real column.

    Cost note: the 1-row count aggregate evaluates ``q`` once in addition
    to the broadcast build's own evaluation — two pushed-down scans of the
    QUERY side.  Acceptable by contract: cosine_topk is the correctness
    baseline whose query side is small (the guard exists to catch misuse);
    the scale default ``lsh_search`` has no such pass.
    """
    n = q.agg(F.count(F.lit(1)).alias("q_n"))
    guard = F.when(F.col("q_n") <= F.lit(max_queries), F.lit(True)).otherwise(
        F.raise_error(
            F.lit(
                f"cosine_topk: query side exceeds max_queries={max_queries}; "
                "pass a smaller explicit `queries` DataFrame, raise "
                "max_queries deliberately, or use lsh_search (the scale "
                "default for corpus-sized query sets)"
            )
        ).cast("boolean")
    )
    return q.crossJoin(F.broadcast(n)).where(guard).drop("q_n")


def cosine_topk(emb: DataFrame, k: int = 10, query_mod: int = 25,
                queries: DataFrame | None = None,
                max_queries: int = MAX_QUERIES) -> DataFrame:
    """Exact top-k cosine neighbors — the CORRECTNESS BASELINE, not the
    scale default (that is ``lsh_search``).

    Plan shape: broadcast(query) x candidates -> window top-k.  The
    broadcast side must be genuinely bounded: pass an explicit small
    ``queries`` DataFrame (vec_id, embedding); the default fixture
    behavior (vec_id % query_mod == 0) grows with the corpus and exists
    for the driver's oracle harness.  Either way the query side is capped
    at ``max_queries`` by an in-plan runtime assert — a corpus-scale query
    set fails loudly instead of OOMing the broadcast.
    """
    if queries is None:
        queries = emb.filter(F.col("vec_id") % query_mod == 0)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    q = _bounded_queries(q, max_queries)
    # PERF (r7): norms are a per-VECTOR quantity — compute them once per
    # side BEFORE the |Q| x |C| join instead of twice per pair (Catalyst
    # does not push partial expressions below a join).  The norm expression
    # itself is unchanged, so every sim value is float-exact vs the
    # per-pair form: ranking and sim_e9 are identical.  Measured 2.9 s ->
    # 1.5 s on the sf0.1 bench row.
    q = q.withColumn("qn", _norm(F.col("qe")))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"),
                   _norm(F.col("embedding")).alias("cn"))
    pairs = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cos9("qe", "ce", "qn", "cn").alias("sim9"))
    )
    return _sim_topk(pairs, k)


def lsh_search(emb: DataFrame, k: int = 5, query_mod: int = 25,
               n_planes: int = 8,
               queries: DataFrame | None = None) -> DataFrame:
    """Bucketed ANN: LSH bucket join -> exact cosine rerank within bucket.

    The scale path: instead of |Q| x |C| pairs, only same-bucket pairs are
    scored (expected |C| / 2^planes candidates per query).  Recall is
    tunable via n_planes / multi-probe; correctness baseline is
    ``cosine_topk``.

    ``queries`` is the production query cohort: an explicit
    (vec_id, embedding) DataFrame (need not be corpus rows — buckets are
    recomputed from the query embeddings with the same deterministic
    planes).  The ``vec_id % query_mod`` default is the driver-oracle
    fixture cohort, not a shape production callers should inherit.
    """
    b = lsh_buckets(emb, n_planes)
    e = emb.join(b, "vec_id")
    if queries is None:
        q = e.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"), "bucket"
        )
    else:
        q = queries.join(lsh_buckets(queries, n_planes), "vec_id").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"), "bucket"
        )
    # per-vector norms hoisted below the bucket join (r7; float-exact — see
    # cosine_topk)
    q = q.withColumn("qn", _norm(F.col("qe")))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "bucket"
    ).withColumn("cn", _norm(F.col("ce")))
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cos9("qe", "ce", "qn", "cn").alias("sim9"))
    )
    return _sim_topk(pairs, k)


def lsh_search_multiprobe(emb: DataFrame, k: int = 5, query_mod: int = 25,
                          n_planes: int = 8,
                          queries: DataFrame | None = None) -> DataFrame:
    """Multi-probe bucketed ANN: each query also probes every bucket at
    hamming distance 1 from its own (flip one hyperplane sign), the
    standard recall knob for sign-LSH — vectors on the wrong side of ONE
    plane are recovered at (n_planes+1)x candidate cost instead of
    resorting to more tables.  Probe expansion is an explode on the query
    side only (candidate side unchanged), so the join stays an equi-join
    on bucket — and it cannot duplicate a pair: each candidate lives in
    exactly one bucket and a query's probe buckets are pairwise distinct,
    so no dedup pass precedes the rerank window.
    Recall baseline: ``cosine_topk``; single-probe: ``lsh_search``.
    ``queries`` overrides the fixture ``vec_id % query_mod`` cohort with
    an explicit (vec_id, embedding) query DataFrame (see ``lsh_search``).
    """
    b = lsh_buckets(emb, n_planes)
    e = emb.join(b, "vec_id")
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(2 ** p)) for p in range(n_planes)],
    )
    if queries is None:
        qbase = e.filter(F.col("vec_id") % query_mod == 0)
    else:
        qbase = queries.join(lsh_buckets(queries, n_planes), "vec_id")
    q = (
        qbase
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                _norm(F.col("embedding")).alias("qn"),
                F.explode(probes).alias("bucket"))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"),
        "bucket",
    ).withColumn("cn", _norm(F.col("ce")))
    # per-vector norms hoisted out of the per-pair rerank (r7; float-exact)
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cos9("qe", "ce", "qn", "cn").alias("sim9"))
    )
    return _sim_topk(pairs, k)


N_BANDS = 8
PLANES_PER_BAND = 4


def lsh_band_buckets(emb: DataFrame, n_bands: int = N_BANDS,
                     planes_per_band: int = PLANES_PER_BAND) -> DataFrame:
    """Banded hyperplane LSH: (vec_id, band_id, band_key) rows.

    Band b uses planes [b*r, (b+1)*r) from the same deterministic weight
    family as ``lsh_buckets``; a pair is a candidate if ANY band key matches
    (the OR-of-ANDs recall curve, same construction as MinHash bands).  With
    8 bands x 4 planes, recall at cos>=0.8 is ~98%; at cos>=0.4 ~75%.
    """
    keys = _sign_keys([
        range(b * planes_per_band, (b + 1) * planes_per_band)
        for b in range(n_bands)
    ])
    bands = [F.struct(F.lit(b).alias("band_id"), key.alias("band_key"))
             for b, key in enumerate(keys)]
    return emb.select(
        "vec_id", F.explode(F.array(*bands)).alias("b")
    ).select("vec_id", F.col("b.band_id").alias("band_id"),
             F.col("b.band_key").alias("band_key"))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, SURVEY-adjacent).

    Default is the scale path: banded-LSH candidates (equi-join on
    (band_id, band_key)) -> exact cosine verify -> threshold filter ->
    distinct.  Never all-pairs; candidate volume per band is |bucket|^2
    bounded by the hyperplane split, and verification is one narrow pass.

    ``exact=True`` keeps the all-pairs non-equi form (physically a broadcast
    nested-loop join) as the RECALL BASELINE — test/measurement only, O(n^2),
    never the plan to run at corpus scale.  Integer (1e9-scaled) similarity
    for engine-exact comparison.
    """
    # per-vector norms hoisted out of the per-pair verify (r7; float-exact)
    sim = _cos9("qe", "ce", "qn", "cn")
    if exact:
        a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("qe"),
                       _norm(F.col("embedding")).alias("qn"))
        b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("ce"),
                       _norm(F.col("embedding")).alias("cn"))
        return (
            a.join(b, F.col("id1") < F.col("id2"))
            .select("id1", "id2", F.round(sim * 1e9).cast("long").alias("sim_e9"))
            .filter(F.col("sim_e9") >= int(threshold * 1e9))
        )
    bands = lsh_band_buckets(emb)
    e = emb.join(bands, "vec_id")
    a = e.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("qe"),
                 _norm(F.col("embedding")).alias("qn"),
                 "band_id", "band_key")
    b = e.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("ce"),
                 _norm(F.col("embedding")).alias("cn"),
                 "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(sim * 1e9).cast("long").alias("sim_e9"))
        .filter(F.col("sim_e9") >= int(threshold * 1e9))
        .distinct()
    )


def semantic_dedup(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: (vec_id, rep_id,
    cluster_size) — embedding-cosine near-dup pairs (banded-LSH
    candidates, exact verify) chained into connected components, each
    vector labeled with its component's minimum id as the canonical
    keeper (Abbas et al. 2023's cluster-then-drop, with the LSH bands
    playing the coarse-cluster role).

    Pure composition of two already-oracled stages
    (``embedding_near_dups`` + ``ops.dedup.components``), so the scale
    story is theirs: capped band equi-joins for candidates, O(diameter)
    label-propagation rounds (or the star variant) for components.
    """
    from .dedup import components

    pairs = embedding_near_dups(emb, threshold).select(
        F.col("id1").alias("doc1"), F.col("id2").alias("doc2")
    )
    return components(pairs).select(
        F.col("doc_id").alias("vec_id"), "rep_id", "cluster_size"
    )


N_CENTROIDS = 16
N_PROBE = 2


def ivf_kmeans_centroids(emb: DataFrame, n_centroids: int = N_CENTROIDS,
                         seed: int = 42) -> DataFrame:
    """Spark-ML KMeans coarse quantizer: (cell_id, cent) for ``ivf_topk``.

    The production-quality replacement for the deterministic lowest-id
    stand-in — same output contract, so it slots into
    ``ivf_assignments(cents=...)`` unchanged.  Not DuckDB-oracle
    expressible (iterative ML fit); covered by a differential recall test
    against the stand-in instead.  The fit itself is distributed
    (kmeans|| init); only the n_centroids cluster centers come back to
    the driver, and they return as a DataFrame so the scoring pass stays
    a broadcast.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>"))
        .alias("features"),
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(vecs)
    rows = [(i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())]
    return emb.sparkSession.createDataFrame(
        rows, "cell_id int, cent array<float>"
    )


def ivf_assignments(emb: DataFrame, n_centroids: int = N_CENTROIDS,
                    cents: DataFrame | None = None) -> DataFrame:
    """Coarse-quantizer cell scores: (vec_id, cell_id, csim, crank).

    Centroids are the ``n_centroids`` lowest-vec_id vectors — a
    deterministic k-means stand-in chosen so the DuckDB oracle reproduces
    the index bit-for-bit; the IVF plan shape (assign -> invert -> probe)
    is identical whichever quantizer produces the centroid table, and a
    Spark-ML KMeans fit slots in by swapping ``cents``.  cell_id is the
    centroid's own vec_id.  Scoring is a broadcast of the tiny centroid
    table against a single narrow corpus scan; crank ranks cells per
    vector (ties broken by cell_id so engines agree).
    """
    if cents is None:
        cents = _default_cents(emb, n_centroids)
    # per-vector/per-centroid norms hoisted below the broadcast scoring
    # join: norm(embedding) was recomputed n_centroids times per vector
    # (r7; float-exact — the hoisted expression is unchanged)
    e = emb.withColumn("vn", _norm(F.col("embedding")))
    cn = cents.withColumn("cn", _norm(F.col("cent")))
    csim = _cos9("embedding", "cent", "vn", "cn")
    scored = e.crossJoin(F.broadcast(cn)).select(
        "vec_id", "cell_id", csim.alias("csim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cell_id").asc()
    )
    return scored.withColumn("crank", F.row_number().over(w))


def ivf_assignments_two_level(emb: DataFrame,
                              n_centroids: int = N_CENTROIDS,
                              cents: DataFrame | None = None,
                              n_groups: int | None = None,
                              probe_groups: int = 2) -> DataFrame:
    """Hierarchical coarse assignment — the build-pass scale path.

    The flat ``ivf_assignments`` scores every vector against every
    centroid: O(n*k) dot products, which at the docstring's own
    "n_centroids ~ sqrt(|C|)" regime (10^6 cells for 10^12 vectors) is
    10^18 products in the build pass.  Standard IVF practice at that k is
    a two-level assign: centroids are themselves grouped under
    ``n_groups`` (default ceil(sqrt(k))) group leaders; a vector scores
    the g leaders, descends into its ``probe_groups`` closest groups, and
    scores only the ~k/g centroids there — O(n*(g + probe_groups*k/g)) =
    O(n*sqrt(k)) per pass, at a small assignment-recall cost (the true
    nearest centroid can live in an unprobed group; raise probe_groups to
    trade cost for fidelity).

    Same output contract as ``ivf_assignments`` ((vec_id, cell_id, csim,
    crank), crank within the scanned subset), so it slots into
    ``ivf_topk(two_level=True)`` unchanged.  Leaders are the lowest-id
    centroids (deterministic, engine-portable); centroid->group and
    vector->leader scoring broadcast only the g-row leader table, and the
    vector->centroid pass is an equi-join on group_id (AQE-splittable),
    never n x k.
    """
    import math

    if cents is None:
        cents = _default_cents(emb, n_centroids)
    if n_groups is None:
        n_groups = max(1, math.isqrt(n_centroids))
    # per-vector/centroid/leader norms hoisted out of all three scoring
    # passes (r7; float-exact — the hoisted expression is unchanged)
    cents = cents.withColumn("cn", _norm(F.col("cent")))
    leaders = (
        cents.orderBy("cell_id").limit(n_groups)
        .select(F.col("cell_id").alias("group_id"),
                F.col("cent").alias("gcent"),
                F.col("cn").alias("gn"))
    )
    gsim = _cos9("cent", "gcent", "cn", "gn")
    wg = Window.partitionBy("cell_id").orderBy(
        F.col("gsim").desc(), F.col("group_id").asc()
    )
    cent_groups = (
        cents.crossJoin(F.broadcast(leaders))
        .select("cell_id", "cent", "cn", "group_id", gsim.alias("gsim"))
        .withColumn("grank", F.row_number().over(wg))
        .filter(F.col("grank") == 1)
        .select("group_id", "cell_id", "cent", "cn")
    )
    vgsim = _cos9("embedding", "gcent", "vn", "gn")
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("vgsim").desc(), F.col("group_id").asc()
    )
    vec_groups = (
        emb.withColumn("vn", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(leaders))
        .select("vec_id", "embedding", "vn", "group_id", vgsim.alias("vgsim"))
        .withColumn("vgrank", F.row_number().over(wv))
        .filter(F.col("vgrank") <= probe_groups)
        .select("vec_id", "embedding", "vn", "group_id")
    )
    csim = _cos9("embedding", "cent", "vn", "cn")
    scored = vec_groups.join(cent_groups, "group_id").select(
        "vec_id", "cell_id", csim.alias("csim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cell_id").asc()
    )
    return scored.withColumn("crank", F.row_number().over(w))


def _coarse_assignments(emb: DataFrame, n_centroids: int,
                        cents: DataFrame | None, two_level: bool,
                        probe_groups: int) -> tuple[DataFrame, DataFrame]:
    """(assignments, centroid table) of the IVF build pass: ``cents`` or the
    lowest-id stand-in, scored flat or two-level.  The centroid table comes
    back so a query cohort is scored against the same cells."""
    if cents is None:
        cents = _default_cents(emb, n_centroids)
    if two_level:
        return ivf_assignments_two_level(emb, n_centroids, cents=cents,
                                         probe_groups=probe_groups), cents
    return ivf_assignments(emb, n_centroids, cents=cents), cents


def _default_cents(emb: DataFrame, n_centroids: int) -> DataFrame:
    """The deterministic lowest-vec_id quantizer stand-in (oracle-exact);
    swap for ``ivf_kmeans_centroids`` in production."""
    return (
        emb.orderBy("vec_id").limit(n_centroids)
        .select(F.col("vec_id").alias("cell_id"),
                F.col("embedding").alias("cent"))
    )


def ivf_topk(emb: DataFrame, k: int = 10, query_mod: int = 25,
             n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE,
             cents: DataFrame | None = None,
             two_level: bool = False, probe_groups: int = 2,
             queries: DataFrame | None = None) -> DataFrame:
    """IVF top-k ANN: coarse cells -> inverted lists -> n_probe cell scan.

    The IVF scale path next to ``lsh_search``: each vector lands in its
    nearest centroid's inverted list (one co-partitioned join to attach
    embeddings), and a query scores only the lists of its ``n_probe``
    closest cells — |C| * n_probe / n_centroids candidates per query
    instead of |C|.  At real scale n_centroids ~ sqrt(|C|) and lists are
    written partitioned by cell_id, so the probe join is partition-pruned;
    recall is tuned by n_probe.  Correctness baseline: ``cosine_topk``.

    ``two_level=True`` swaps the O(n*k) flat coarse assignment for the
    O(n*sqrt(k)) hierarchical one (``ivf_assignments_two_level``) — the
    build-pass default once n_centroids is corpus-scale.

    ``queries`` is the production query cohort: an explicit
    (vec_id, embedding) DataFrame, cell-assigned by FLAT scoring against
    the same centroid table (the query side is bounded, so flat assign
    is the right cost there even when the corpus build pass is
    two-level).  The ``vec_id % query_mod`` default is the driver-oracle
    fixture cohort.
    """
    asg, cents = _coarse_assignments(emb, n_centroids, cents, two_level,
                                     probe_groups)
    lists = (
        asg.filter(F.col("crank") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "cell_id")
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("ce"),
                       _norm(F.col("embedding")).alias("cn")),
            "neighbor_id",
        )
    )
    if queries is None:
        probes = (
            asg.filter((F.col("vec_id") % query_mod == 0) & (F.col("crank") <= n_probe))
            .select(F.col("vec_id").alias("query_id"), "cell_id")
            .join(
                emb.filter(F.col("vec_id") % query_mod == 0)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qe"),
                        _norm(F.col("embedding")).alias("qn")),
                "query_id",
            )
        )
    else:
        qasg = ivf_assignments(queries, n_centroids, cents=cents)
        probes = (
            qasg.filter(F.col("crank") <= n_probe)
            .select(F.col("vec_id").alias("query_id"), "cell_id")
            .join(
                queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("qe"),
                               _norm(F.col("embedding")).alias("qn")),
                "query_id",
            )
        )
    # per-vector norms hoisted out of the per-pair rerank (r7; float-exact)
    pairs = (
        probes.join(lists, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cos9("qe", "ce", "qn", "cn").alias("sim9"))
    )
    return _sim_topk(pairs, k)


PQ_M = 8       # subspaces (64-dim -> 8 x 8-dim subvectors)
PQ_KSUB = 16   # codebook entries per subspace (codes fit 4 bits)


def _l2_e9(a, b):
    """Squared-L2 between two float arrays, rounded 9dp then scaled to
    int64.  Integer OUTPUTS are load-bearing: ADC sums these per-subspace
    distances across m subspaces inside a groupBy, and double addition is
    not associative — summing already-integer values keeps the total
    exact and partition-order-independent (hash-stable vs DuckDB)."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y:
                   (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return F.round(F.round(sq, 9) * 1e9).cast("long")


def _subvectors(df: DataFrame, vec_col: str, m: int, d_sub: int,
                out_vec: str):
    subs = F.array(*[
        F.struct(F.lit(s).alias("sub_id"),
                 F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(out_vec))
        for s in range(m)
    ])
    return df.select("*", F.explode(subs).alias("_b")).select(
        *[c for c in df.columns if c != vec_col],
        F.col("_b.sub_id").alias("sub_id"), F.col(f"_b.{out_vec}").alias(out_vec),
    )


def _adc_table(queries: DataFrame, books: DataFrame, m: int) -> DataFrame:
    """ADC query-distance table (query_id, sub_id, code, d): every query
    subvector's int64 e9 squared-L2 to each codebook entry of its subspace
    (|Q|*m*ksub rows — the side ``pq_topk``/``ivfpq_topk`` broadcast)."""
    qsubs = _subvectors(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        "embedding", m, DIM // m, "subvec",
    )
    return qsubs.join(F.broadcast(books), "sub_id").select(
        "query_id", "sub_id", "code",
        _l2_e9(F.col("subvec"), F.col("subcent")).alias("d"),
    )


def pq_codebooks(emb: DataFrame, m: int = PQ_M,
                 ksub: int = PQ_KSUB) -> DataFrame:
    """Product-quantization codebooks: (sub_id, code, subcent).

    Entry ``code`` of subspace ``sub_id`` is that subvector of the
    code-th lowest-vec_id vector — the same deterministic
    quantizer-stand-in policy as the IVF centroids (engine-portable,
    oracle-exact); a per-subspace k-means fit slots in by swapping the
    returned table.  m*ksub rows total — always broadcastable.
    """
    d_sub = DIM // m
    w = Window.orderBy("vec_id")
    base = (
        emb.orderBy("vec_id").limit(ksub)
        .withColumn("code", F.row_number().over(w) - 1)
        .select("code", "embedding")
    )
    return _subvectors(base, "embedding", m, d_sub, "subcent").select(
        "sub_id", "code", "subcent"
    )


def _pq_train_subvectors(emb: DataFrame, m: int, train_cap: int) -> DataFrame:
    """Cached, deterministically-bounded subvector table feeding the m
    per-subspace KMeans fits: the train slice is the ``train_cap``
    lowest-md5(vec_id) vectors (a pure-hash deterministic sample — same
    family as ``sampling.deterministic_split``, no RNG, no count pass),
    exploded into (sub_id, features) and PERSISTED so the corpus parquet
    is scanned ONCE — each of the m fits then filters the in-memory
    table, not the source (plan-asserted: the filtered reads are
    InMemoryTableScan).  Caller must unpersist."""
    from pyspark.ml.functions import array_to_vector

    d_sub = DIM // m
    train = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(train_cap)
    )
    return (
        _subvectors(train, "embedding", m, d_sub, "subvec")
        .select("sub_id",
                array_to_vector(F.col("subvec").cast("array<double>"))
                .alias("features"))
        .persist()
    )


def pq_kmeans_codebooks(emb: DataFrame, m: int = PQ_M,
                        ksub: int = PQ_KSUB, seed: int = 42,
                        train_cap: int | None = None) -> DataFrame:
    """Per-subspace Spark-ML KMeans codebooks — the production-quality
    quantizer behind PQ, replacing the deterministic lowest-vec_id
    stand-in exactly as ``ivf_kmeans_centroids`` replaces the IVF one:
    same output contract ((sub_id, code, subcent)), so it slots into
    ``pq_codes``/``pq_topk``/``ivfpq_topk`` via ``books=`` unchanged.

    Not DuckDB-oracle expressible (iterative ML fit); covered by a
    differential test against the stand-in (codes stay well-formed,
    ADC recall does not degrade).

    Scale shape: PQ training needs only O(ksub * 1e3) points per
    subspace, so the fits run on a deterministic bounded train slice —
    default ``train_cap = ksub * 1000`` vectors (16k at the default
    ksub=16), selected by md5(vec_id) order so the sample is stable
    across runs and partitionings.  The sliced subvector table is
    cached ONCE and shared by all m fits (``_pq_train_subvectors``);
    the corpus is never re-scanned per subspace.  Each fit is a
    distributed kmeans|| run over its cached subspace slice; only the
    m*ksub cluster centers come back to the driver, returned as a
    DataFrame so downstream scoring stays a broadcast.  Fails loud if
    a fit returns fewer than ``ksub`` centers (degenerate data — e.g.
    fewer distinct subvectors than codes) rather than emitting a
    short codebook downstream ops would silently mis-score.
    """
    from pyspark.ml.clustering import KMeans

    cap = train_cap if train_cap is not None else ksub * 1000
    subs = _pq_train_subvectors(emb, m, cap)
    try:
        rows = []
        for s in range(m):
            vecs = subs.filter(F.col("sub_id") == s).select("features")
            model = KMeans(k=ksub, seed=seed + s, maxIter=20).fit(vecs)
            centers = model.clusterCenters()
            if len(centers) != ksub:
                raise ValueError(
                    f"pq_kmeans_codebooks: subspace {s} produced "
                    f"{len(centers)} centers, need {ksub} — train slice "
                    f"has too few distinct subvectors (cap={cap}); "
                    "lower ksub or raise train_cap")
            rows.extend(
                (s, c, [float(x) for x in cent])
                for c, cent in enumerate(centers)
            )
    finally:
        subs.unpersist()
    return emb.sparkSession.createDataFrame(
        rows, "sub_id int, code int, subcent array<float>"
    )


def pq_codes(emb: DataFrame, books: DataFrame | None = None,
             m: int = PQ_M, ksub: int = PQ_KSUB) -> DataFrame:
    """PQ code assignment: (vec_id, sub_id, code) — each subvector mapped
    to its nearest codebook entry (squared L2, code-ASC ties).

    The compressed index of IVF-PQ: m codes of log2(ksub) bits replace
    d floats per vector (64x compression at 8x4 bits over 64 floats).
    One narrow scan x broadcast of the m*ksub codebook; the per-(vec, sub)
    argmin is a bounded ksub-row window.
    """
    d_sub = DIM // m
    if books is None:
        books = pq_codebooks(emb, m, ksub)
    subs = _subvectors(emb.select("vec_id", "embedding"),
                       "embedding", m, d_sub, "subvec")
    scored = subs.join(F.broadcast(books), "sub_id").select(
        "vec_id", "sub_id", "code", _l2_e9(F.col("subvec"), F.col("subcent")).alias("d")
    )
    w = Window.partitionBy("vec_id", "sub_id").orderBy(
        F.col("d").asc(), F.col("code").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub_id", "code")
    )


def pq_topk(emb: DataFrame, k: int = 10, query_mod: int = 25,
            m: int = PQ_M, ksub: int = PQ_KSUB,
            books: DataFrame | None = None,
            queries: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: (query_id, rank,
    neighbor_id, adist_e9) — approximate L2 neighbors scored WITHOUT
    touching candidate vectors, only their m small codes.

    The query precomputes its distance table to all m*ksub sub-centroids
    (broadcast — |Q|*m*ksub rows); a candidate's ADC distance is then the
    sum of m table lookups, expressed as an equi-join of the codes table
    with the distance table on (sub_id, code) + a partial-aggregated
    groupBy(query, candidate).  Never |Q| x |C| x d work, no per-row
    Python, all integer arithmetic (see _l2_e9).  At corpus scale this
    composes with IVF (probe lists first, ADC within) — IVF-PQ.

    Contract: the QUERY side is bounded (same as ``cosine_topk`` — the
    per-query distance table is what gets broadcast, and the bare join
    key (sub_id, code) has only m*ksub distinct values, so a corpus-sized
    query set has no good plan here at all; corpus x corpus similarity
    belongs to the near-dup/LSH family, not ADC).  ``queries`` is the
    production cohort — an explicit bounded (vec_id, embedding)
    DataFrame; ``vec_id % query_mod`` is the driver-oracle fixture
    default.
    """
    if books is None:
        books = pq_codebooks(emb, m, ksub)
    codes = pq_codes(emb, books, m, ksub)
    if queries is None:
        queries = emb.filter(F.col("vec_id") % query_mod == 0)
    qdist = _adc_table(queries, books, m)
    pairs = (
        codes.join(F.broadcast(qdist), ["sub_id", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adist_e9"))
    )
    return _topk(pairs, k, F.col("adist_e9").asc(), "adist_e9")


TWO_LEVEL_AUTO_CENTROIDS = 1024  # n_centroids >= this -> hierarchical build


def ivfpq_topk(emb: DataFrame, k: int = 10, query_mod: int = 25,
               n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE,
               m: int = PQ_M, ksub: int = PQ_KSUB,
               two_level: bool | None = None, probe_groups: int = 2,
               cents: DataFrame | None = None,
               queries: DataFrame | None = None) -> DataFrame:
    """IVF-PQ: the canonical corpus-scale ANN composition — coarse cells
    prune candidates (probe ``n_probe`` inverted lists), ADC over PQ
    codes scores them without ever touching candidate vectors.

    Per query: |C| * n_probe / n_centroids candidates, each scored by m
    integer table lookups — the index the full pipeline would serve from
    at 10^12 vectors (lists partition-pruned by cell_id, codes 64x
    smaller than raw floats).  Within-cell scoring is squared-L2 ADC
    (``pq_codebooks``/``pq_codes``), both already oracle-pinned.
    Recall baseline: ``cosine_topk``; uncompressed variant: ``ivf_topk``.

    Coarse assignment: ``two_level=None`` (the default) picks the
    build-pass strategy from n_centroids — flat O(n*k) scoring below
    ``TWO_LEVEL_AUTO_CENTROIDS`` (where a k-row broadcast is cheap and
    exact), the O(n*sqrt(k)) hierarchical ``ivf_assignments_two_level``
    at or above it (the corpus-scale regime where flat assignment is the
    build-pass killer: 10^6 cells x 10^12 vectors).  Pass True/False to
    pin either path.

    The query distance table is broadcast (|Q|*m*ksub rows) — the
    bounded-query contract of ``pq_topk`` applies; ``queries`` is the
    production cohort (explicit bounded (vec_id, embedding) DataFrame,
    cell-assigned by flat scoring against the same centroids);
    ``vec_id % query_mod`` is the driver-oracle fixture default.  With a
    huge query cohort drop the broadcast hint and the
    (query_id, sub_id, code) join still parallelizes (query_id in the
    key), at shuffle cost.
    """
    if two_level is None:
        two_level = n_centroids >= TWO_LEVEL_AUTO_CENTROIDS
    asg, cents = _coarse_assignments(emb, n_centroids, cents, two_level,
                                     probe_groups)
    books = pq_codebooks(emb, m, ksub)
    codes = pq_codes(emb, books, m, ksub)
    lists = asg.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    if queries is None:
        probes = asg.filter(
            (F.col("vec_id") % query_mod == 0) & (F.col("crank") <= n_probe)
        ).select(F.col("vec_id").alias("query_id"), "cell_id")
        queries = emb.filter(F.col("vec_id") % query_mod == 0)
    else:
        qasg = ivf_assignments(queries, n_centroids, cents=cents)
        probes = qasg.filter(F.col("crank") <= n_probe).select(
            F.col("vec_id").alias("query_id"), "cell_id"
        )
    qdist = _adc_table(queries, books, m)
    cand = (
        probes.join(lists, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    pairs = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"),
                  "neighbor_id")
        .join(F.broadcast(qdist), ["query_id", "sub_id", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adist_e9"))
    )
    return _topk(pairs, k, F.col("adist_e9").asc(), "adist_e9")


def _plane_weight(plane: int, dim_idx):
    """Deterministic integer hyperplane weight in [-1000, 1000]."""
    return (dim_idx * 2654435761 + F.lit(plane * 40503 + 7919)) % 2001 - 1000


def _sign_keys(plane_groups) -> list:
    """One hyperplane sign key per group of plane indices over the
    ``embedding`` column: bit j of a key is set when the group's j-th plane
    has dot_p >= 0.  dot_p = sum_i w(p, i) * x_i with integer weights; sign
    decided on the rounded value so engines agree at the boundary.  Every
    plane folds the same indexed view of the embedding."""
    with_idx = F.zip_with(
        F.col("embedding"),
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i")),
    )
    keys = []
    for planes in plane_groups:
        key = None
        for j, p in enumerate(planes):
            # F.aggregate calls the lambda at once, so the closure over the
            # loop's p is safe (a default arg is not: Spark counts lambda
            # params strictly)
            dot_p = F.aggregate(
                with_idx,
                F.lit(0.0),
                lambda acc, s: acc + s["x"] * _plane_weight(p, s["i"]).cast("double"),
            )
            bit = F.when(F.round(dot_p, 6) >= 0, F.lit(2 ** j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            key = bit if key is None else (key + bit)
        keys.append(key)
    return keys


def lsh_buckets(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (sign pattern -> int bucket,
    see ``_sign_keys``)."""
    bucket = _sign_keys([range(n_planes)])[0]
    return emb.select("vec_id", bucket.alias("bucket"))

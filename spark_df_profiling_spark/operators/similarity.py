"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): approximate-nearest-neighbor over
``embeddings.embedding`` with a brute-force cosine baseline.

Scale design:
* brute-force top-k broadcasts the (small) query set against the corpus —
  a map-side nested loop with NO shuffle of the corpus; the only shuffle
  is the final per-query top-k (tiny);
* dot products run through higher-order functions (``zip_with`` +
  ``aggregate``) — JVM-side, no Python crossing;
* the scale path is LSH bucketing (``BucketedRandomProjectionLSH``) or
  IVF (KMeans coarse quantizer + probe-top-clusters), both sub-linear in
  corpus size per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_df_profiling_spark.plans.sqltext import ident, operand
from spark_df_profiling_spark.plans.topk import two_phase_topk


# Each rule is one SQL fragment over its operands' SQL text
# (``plans.sqltext.operand``); the public helpers wrap it in ``F.expr``.
def _dot(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, "
            "(__x, __y) -> CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
            "0.0D, (__acc, __v) -> __acc + __v)")


def _l2_norm(a: str) -> str:
    return (f"sqrt(aggregate(transform({a}, "
            "__x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)), "
            "0.0D, (__acc, __v) -> __acc + __v))")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i·b_i in double precision (JVM higher-order functions)."""
    return F.expr(_dot(operand(a), operand(b)))


def l2_norm(a: Column | str) -> Column:
    return F.expr(_l2_norm(operand(a)))


def safe_cosine(d: Column, na: Column, nb: Column) -> Column:
    """Cosine from a precomputed dot product and norms, NULL when either
    norm is 0.  Without the guard an all-zero embedding yields 0/0 = NaN
    — and in Spark SQL NaN compares GREATER than any number, so NaN rows
    would pass every ``>= min_cosine`` filter and rank FIRST in top-k.
    NULL instead fails ``>=`` filters and sorts last under ``desc``.
    """
    return F.when(na * nb > 0, d / (na * nb))


def cosine(a: Column, b: Column) -> Column:
    return safe_cosine(dot(a, b), l2_norm(a), l2_norm(b))


def knn_bruteforce(corpus: DataFrame, queries: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   k: int = 10, metric: str = "cosine",
                   sub_partitions: int = 32) -> DataFrame:
    """Exact top-k neighbors of each query row against the corpus.

    Returns (query_id, neighbor_id, sim, rank), self-matches excluded,
    ties broken by neighbor_id for determinism.  The query side is
    broadcast — at 100 TB the corpus streams through executors once.

    The top-k itself is ``plans.topk.two_phase_topk`` keyed by
    ``query_id`` and salted by ``neighbor_id``: ranking only by
    ``query_id`` would funnel all n·q scored pairs into q reducer tasks
    — with a handful of queries that is a handful of tasks no matter
    how big the cluster.  Results are identical for any
    ``sub_partitions``; set 1 to disable.

    The per-pair dot stays the :func:`dot` higher-order fold ON
    PURPOSE: unrolling it into indexed GetArrayItem chains (the win
    for per-ROW folds like ``random_projection``) was measured 5×
    SLOWER here (67.5s vs 12.9s, 200k×64d×100 queries, r11) — HOFs
    iterate the primitive array in one tight JVM loop per pair, while
    a 64-term split-codegen chain pays per-subexpression overhead
    20M times.  Per-row folds amortize huge expressions over few
    evaluations; per-PAIR expressions cannot.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"unknown metric: {metric}")
    i, v = ident(id_col), ident(vec_col)
    q = queries.selectExpr(f"{i} AS query_id", f"{v} AS __qv",
                           f"{_l2_norm(v)} AS __qn")
    c = corpus.selectExpr(f"{i} AS neighbor_id", f"{v} AS __cv",
                          f"{_l2_norm(v)} AS __cn")
    if metric == "cosine":
        # zero-norm rows are excluded ONCE PER ROW, not per pair: their
        # cosine is undefined (safe_cosine would NULL every pair they
        # touch), so dropping them up front gives identical output while
        # keeping the per-pair expression a bare multiply-divide — a
        # per-pair when() branch measurably slows the O(n·q·d) stage
        q = q.where("__qn > 0")
        c = c.where("__cn > 0")
    joined = c.crossJoin(F.broadcast(q)).where("neighbor_id != query_id")
    # norms are hoisted to one-per-ROW projections before the join —
    # higher-order functions run interpreted, so expanding cosine() per
    # PAIR would re-evaluate each norm q (resp. n) times and triple the
    # dominant O(n·q·d) stage (same reasoning as embedding_near_dup_exact)
    sim = _dot("__qv", "__cv")
    if metric == "cosine":
        sim = f"{sim} / (__qn * __cn)"
    # NULL sims (dot metric with NULL vectors, or vectors containing
    # NULL elements) are EXCLUDED, not ranked: they would sort last
    # under desc but still surface whenever a query has fewer than k
    # valid neighbors.  Cheap — runs after the per-row norm pre-filter.
    scored = (joined.selectExpr("query_id", "neighbor_id", f"{sim} AS sim")
              .where("sim IS NOT NULL"))
    return two_phase_topk(scored, ["query_id"], "xxhash64(neighbor_id)",
                          ["sim DESC", "neighbor_id ASC"], k,
                          sub_partitions)


def ann_lsh(corpus: DataFrame, queries: DataFrame,
            id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 10, bucket_length: float = 2.0,
            num_tables: int = 4, min_cosine: float = 0.0) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (Euclidean).

    Scale path: each query only meets corpus rows sharing an LSH bucket.
    Euclidean distance on L2-NORMALIZED vectors is monotone in cosine
    (d² = 2 − 2·cos), so normalizing first makes this a cosine ANN.

    ``min_cosine`` bounds the candidate set: only neighbors with cosine
    >= min_cosine can qualify, which caps the similarity-join volume by
    DISTANCE, not just by bucket collisions — without it a skewed bucket
    on a 100 TB corpus degenerates toward a giant join.  The default 0.0
    (orthogonal) already halves the search space; raise it whenever the
    use case tolerates a similarity floor.  Set -1.0 only for tiny
    corpora where the full range is genuinely wanted.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df, idc):
        vec = df.select(F.col(id_col).alias(idc),
                        array_to_vector(
                            F.transform(F.col(vec_col),
                                        lambda x: x.cast("double")))
                        .alias("__v"))
        return Normalizer(inputCol="__v", outputCol="__nv", p=2.0) \
            .transform(vec).select(idc, "__nv")

    if not -1.0 <= min_cosine <= 1.0:
        raise ValueError(f"min_cosine must be in [-1, 1]: {min_cosine}")
    cp, qp = prep(corpus, "neighbor_id"), prep(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__nv", outputCol="__h", seed=42,
        bucketLength=bucket_length, numHashTables=num_tables)
    model = lsh.fit(cp)
    # on unit vectors d = sqrt(2 - 2*cos), so a cosine floor is exactly
    # a Euclidean ceiling (same derivation as embedding_near_dup)
    thresh = float((2.0 - 2.0 * min_cosine) ** 0.5)
    joined = model.approxSimilarityJoin(cp, qp, thresh, distCol="__d") \
        .select(F.col("datasetB.query_id").alias("query_id"),
                F.col("datasetA.neighbor_id").alias("neighbor_id"),
                (1.0 - F.col("__d") * F.col("__d") / 2.0).alias("sim")) \
        .where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def embedding_near_dup_exact(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             min_cosine: float = 0.995) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cosine >= τ).

    Brute-force self-join — O(n²) pairs, so this is the verification /
    small-set path (e.g. within one dedup bucket or a sampled audit);
    ``embedding_near_dup`` (LSH) is the 100 TB path.  The smaller side
    is broadcast, so the corpus itself never shuffles.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                  l2_norm(F.col(vec_col)).alias("__na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                  l2_norm(F.col(vec_col)).alias("__nb"))
    # norms are computed once per ROW before the join — higher-order
    # functions run interpreted, so recomputing them per PAIR would
    # triple the dominant cost of the O(n^2) stage
    return (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    safe_cosine(dot(F.col("__va"), F.col("__vb")),
                                F.col("__na"), F.col("__nb"))
                    .alias("cosine_sim"))
            .where(F.col("cosine_sim") >= min_cosine))


def embedding_near_dup(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       min_cosine: float = 0.995) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= τ).

    Uses the LSH bucket join (normalized Euclidean ≤ sqrt(2-2τ)) so the
    pair generation is sub-quadratic; exact cosine re-verified on
    candidates.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    vec = df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).alias("__a"),
                    array_to_vector(
                        F.transform(F.col(vec_col),
                                    lambda x: x.cast("double")))
                    .alias("__v"))
    norm = Normalizer(inputCol="__v", outputCol="__nv", p=2.0) \
        .transform(vec).select("id", "__a", "__nv")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__nv", outputCol="__h", seed=42,
        bucketLength=1.0, numHashTables=4)
    model = lsh.fit(norm)
    thresh = float((2.0 - 2.0 * min_cosine) ** 0.5)
    cand = model.approxSimilarityJoin(norm, norm, thresh, distCol="__d") \
        .select(F.col("datasetA.id").alias("id_a"),
                F.col("datasetA.__a").alias("__va"),
                F.col("datasetB.id").alias("id_b"),
                F.col("datasetB.__a").alias("__vb")) \
        .where(F.col("id_a") < F.col("id_b"))
    return (cand.select(
        "id_a", "id_b",
        cosine(F.col("__va"), F.col("__vb")).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= min_cosine))


def ivf_fit_input(cp: DataFrame, max_fit_rows: int,
                  seed: int = 42) -> DataFrame:
    """Cap the KMeans fit input at ~``max_fit_rows`` vectors.

    KMeans is iterative (maxIter scans + a cached input): fitting on the
    FULL corpus is the 100 TB bottleneck, while centroids from a uniform
    sample are statistically the same quantizer.  One ``count()`` (a
    single cheap scan) buys the sample fraction; the fit then iterates
    over ``max_fit_rows`` rows instead of the corpus.  The full corpus is
    still assigned to clusters afterwards with ONE ``transform`` pass.
    """
    if max_fit_rows <= 0:
        return cp
    n = cp.count()
    if n <= max_fit_rows:
        return cp
    # slight over-sample so the fit sees ~max_fit_rows even with
    # Bernoulli variance; KMeans only needs "about this many"
    return cp.sample(fraction=min(1.0, 1.05 * max_fit_rows / n),
                     seed=seed)


def ann_ivf(corpus: DataFrame, queries: DataFrame,
            id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 10, n_clusters: int = 16,
            n_probe: int = 4, max_fit_rows: int = 100_000) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer + probe-top-clusters.

    The 100 TB pattern: cluster the corpus once (KMeans fits on a
    ``max_fit_rows``-capped sample — see :func:`ivf_fit_input`; pass 0
    to force a full-corpus fit), store the cluster id as a
    partition-friendly column, then answer queries by scanning only the
    ``n_probe`` nearest clusters — a fraction n_probe/n_clusters of the
    corpus per query.  Join is on cluster id (bucketable); the final
    top-k window is per query.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def with_vec(df, idc):
        return df.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(f"__arr_{idc}"),
            array_to_vector(
                F.transform(F.col(vec_col), lambda x: x.cast("double")))
            .alias("__v"))

    cp = with_vec(corpus, "neighbor_id")
    km = KMeans(k=n_clusters, seed=42, featuresCol="__v",
                predictionCol="__cluster")
    model = km.fit(ivf_fit_input(cp, max_fit_rows).select("__v"))
    cp_assigned = model.transform(cp) \
        .select("neighbor_id", "__arr_neighbor_id",
                l2_norm(F.col("__arr_neighbor_id")).alias("__cn"),
                "__cluster")

    # centroid table is tiny: broadcast to rank clusters per query
    centroids = [(int(i), [float(x) for x in c])
                 for i, c in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        centroids, "cluster int, centroid array<double>")
    qp = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("__qarr"),
                        l2_norm(F.col(vec_col)).alias("__qn"))
    q_cluster = (qp.crossJoin(F.broadcast(cent_df))
                 .select("query_id", "__qarr", "__qn", "cluster",
                         dot(F.col("__qarr"), F.col("centroid"))
                         .alias("__score")))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("__score"), F.asc("cluster"))
    probes = (q_cluster.withColumn("pr", F.row_number().over(w_probe))
              .where(F.col("pr") <= n_probe)
              .select("query_id", "__qarr", "__qn",
                      F.col("cluster").alias("__cluster")))

    joined = probes.join(cp_assigned, on="__cluster") \
        .where(F.col("query_id") != F.col("neighbor_id"))
    # norms precomputed per ROW (corpus norm in cp_assigned, query norm
    # in qp) — never per candidate pair; see knn_bruteforce.  NULL-guarded
    # against zero norms (safe_cosine) so NaN can't rank first.
    sim = safe_cosine(dot(F.col("__qarr"), F.col("__arr_neighbor_id")),
                      F.col("__qn"), F.col("__cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (joined.select("query_id", "neighbor_id", sim.alias("sim"))
            .where(F.col("sim").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def ivf_probe_expr(vec: Column, centroids: "list[list[float]]",
                   nprobe: int) -> Column:
    """``array<int>`` of the ``nprobe`` nearest cluster ids by squared
    L2 distance to the frozen centroid literals (ties resolve to the
    LOWER cluster id — struct sort on (dist, id)) — a pure row
    expression: no join, no shuffle, no Python.  The multi-probe
    generalization of ``clustering.kmeans_assign_expr``."""
    from spark_df_profiling_spark.operators.clustering import (
        _dist_sq_expr)
    v = F.transform(vec, lambda x: x.cast("double"))
    entries = F.array(*[
        F.struct(_dist_sq_expr(v, c).alias("d"),
                 F.lit(i).cast("int").alias("i"))
        for i, c in enumerate(centroids)])
    return F.transform(F.slice(F.array_sort(entries), 1, nprobe),
                       lambda s: s["i"])


def knn_ivf(corpus: DataFrame, queries: DataFrame,
            centroids: "list[list[float]]",
            id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 10, nprobe: int = 4,
            sub_partitions: int = 32) -> DataFrame:
    """IVF-flat ANN over FROZEN centroids (the FAISS recipe on the
    deterministic ``clustering.kmeans_fit`` state): assign the corpus
    to its nearest centroid once (inverted lists), rank each query's
    ``nprobe`` nearest clusters, and score ONLY the rows in those
    lists — a ~``nprobe/len(centroids)`` fraction of the corpus per
    query instead of :func:`knn_bruteforce`'s full scan.

    The centroid-literal twin of :func:`ann_ivf` (which fits ml
    KMeans inline per call): here the quantizer is store-once driver
    state from :func:`~spark_df_profiling_spark.operators.clustering.
    kmeans_fit` / ``centroids_from_state`` — fit on a reference
    corpus, persist O(k·d) floats, and every later batch (or engine)
    probes the SAME partitioning; day-2 searches never refit.
    Same output contract as :func:`knn_bruteforce` (``query_id,
    neighbor_id, sim, rank``; cosine; self-matches excluded; ties by
    neighbor_id), same two-phase salted top-k.

    Scale: corpus assignment and query probe lists are pure row
    expressions over centroid literals (zero shuffle, NO crossJoin
    anywhere); the candidate join is a broadcast HASH join on the
    cluster id (queries are the small side); report scanned volume
    with :func:`ivf_candidate_stats`.  Recall is data-dependent —
    gate it (oracle: ``ann_recall_gates``) like any approximate
    index; raise ``nprobe`` to trade scan fraction for recall.
    """
    if not centroids:
        raise ValueError("knn_ivf: centroids must be non-empty")
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"knn_ivf: nprobe must be in [1, {len(centroids)}]: "
            f"{nprobe}")
    from spark_df_profiling_spark.operators.clustering import (
        kmeans_assign)
    c = (corpus.where(F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("__cv"),
                 l2_norm(F.col(vec_col)).alias("__cn")))
    c = kmeans_assign(c, centroids, vec_col="__cv",
                      cluster_col="__cl").where(F.col("__cn") > 0)
    q = (queries.where(F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("__qv"),
                 l2_norm(F.col(vec_col)).alias("__qn")))
    q = q.where(F.col("__qn") > 0)
    qe = (q.withColumn("__probes",
                       ivf_probe_expr(F.col("__qv"), centroids,
                                      nprobe))
          .select("query_id", "__qv", "__qn",
                  F.explode("__probes").alias("__cl")))
    joined = c.join(F.broadcast(qe), "__cl").where(
        F.col("neighbor_id") != F.col("query_id"))
    sim = dot(F.col("__qv"), F.col("__cv")) \
        / (F.col("__qn") * F.col("__cn"))
    scored = (joined.select("query_id", "neighbor_id",
                            sim.alias("sim"))
              .where(F.col("sim").isNotNull()))
    return two_phase_topk(scored, ["query_id"], "xxhash64(neighbor_id)",
                          ["sim DESC", "neighbor_id ASC"], k,
                          sub_partitions)


def knn_ivf_quantized(corpus_q8: DataFrame, queries: DataFrame,
                      centroids: "list[list[float]]",
                      ranges: "list[tuple]",
                      id_col: str = "vec_id",
                      q_col: str = "embedding_q8",
                      vec_col: str = "embedding",
                      k: int = 10, nprobe: int = 4,
                      sub_partitions: int = 32) -> DataFrame:
    """IVF + int8 ADC composed: the corpus lives as 4×-smaller
    ``array<tinyint>`` codes, dequantization fuses into the scoring
    scan (the :func:`knn_bruteforce_quantized` device), and the IVF
    probe prunes which codes are scored at all — the two savings
    multiply (scan ``nprobe/k_clusters`` of the corpus at a quarter
    of the bytes).  Centroids are in FLOAT space (fit before
    quantizing, or on dequantized vectors) so probe ranking is
    unaffected by code granularity."""
    deq = dequantize_embeddings(corpus_q8, ranges, q_col=q_col,
                                out_col="__deqv")
    c = deq.select(F.col(id_col), F.col("__deqv").alias(vec_col))
    return knn_ivf(c, queries, centroids, id_col=id_col,
                   vec_col=vec_col, k=k, nprobe=nprobe,
                   sub_partitions=sub_partitions)


def ivf_candidate_stats(corpus: DataFrame, queries: DataFrame,
                        centroids: "list[list[float]]",
                        nprobe: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scanned-volume readout for :func:`knn_ivf`: per query,
    ``(query_id, n_candidates, n_corpus, candidate_fraction)`` where
    ``n_candidates`` is the total size of its ``nprobe`` probed
    inverted lists (self-row included — this measures scan cost, not
    result quality).  THE number an IVF deployment is judged by: the
    recall gate says whether ``nprobe`` is high enough, this says
    what that recall costs relative to brute force.  Zero-norm rows
    are excluded on BOTH sides (the :func:`knn_ivf` ``__cn > 0`` /
    ``__qn > 0`` filters) so the stats measure exactly the set that
    search scans (r14 ADVICE fix).

    Scale: cluster sizes are ONE map-side-combined aggregate
    (≤ ``len(centroids)`` rows — O(k) driver state, same size as the
    centroid state itself); probe lists are row expressions; the
    stats join is broadcast-sized.
    """
    if not centroids:
        raise ValueError("ivf_candidate_stats: centroids must be "
                         "non-empty")
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"ivf_candidate_stats: nprobe must be in "
            f"[1, {len(centroids)}]: {nprobe}")
    from spark_df_profiling_spark.operators.clustering import (
        kmeans_assign)
    c = (corpus.where(F.col(vec_col).isNotNull())
         .select(F.col(vec_col).alias("__cv"),
                 l2_norm(F.col(vec_col)).alias("__cn"))
         .where(F.col("__cn") > 0))
    c = kmeans_assign(c, centroids, vec_col="__cv",
                      cluster_col="__cl")
    sizes = c.groupBy("__cl").agg(
        F.count(F.lit(1)).cast("long").alias("__sz"))
    n_corpus = sum(r["__sz"] for r in sizes.collect())  # O(k) rows
    sizes_df = sizes  # still a DataFrame for the broadcast join
    probes = (queries.where(F.col(vec_col).isNotNull())
              .where(l2_norm(F.col(vec_col)) > 0)
              .select(F.col(id_col).alias("query_id"),
                      F.explode(ivf_probe_expr(
                          F.col(vec_col), centroids, nprobe))
                      .alias("__cl")))
    return (probes.join(F.broadcast(sizes_df), "__cl", "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce("__sz", F.lit(0))).cast("long")
                 .alias("n_candidates"))
            .select("query_id", "n_candidates",
                    F.lit(n_corpus).cast("long").alias("n_corpus"),
                    F.when(F.lit(n_corpus) > 0,
                           F.col("n_candidates")
                           / F.lit(float(n_corpus)))
                    .alias("candidate_fraction")))


PQ_MAX_SUBSPACES = 64
PQ_MAX_CODES = 256


def _pq_coarse_cluster_expr(vec: Column,
                            centroids: "list[list[float]]") -> Column:
    """Nearest-coarse-centroid id as FLAT indexed-element chains —
    the expanded ``−2⟨x,c⟩ + ‖c‖²`` score per centroid (affine in the
    shared, dropped ``‖x‖²``, so the argmin is the true-L2 argmin;
    ties → lowest cluster via array_position-first-minimum, the
    ``kmeans_assign_expr`` rule).  The HOF-fold spelling
    (``_dist_sq_expr`` zip_with/aggregate per centroid) pays ~50×
    per-row interpreter overhead at this fan-out — the measured
    pq_encode codegen lesson applies to the coarse assignment too
    (residual fit/encode read 156s/95s at 500k×64d×k_coarse=16 on the
    HOF spelling; flat chains bring the assignment to ~µs/row).
    Each term indexes the RAW column and casts the ELEMENT — a
    ``transform(...)``-wrapped array as the ``F.get`` child is
    re-evaluated per term (64 lambda steps × k·d terms ≈ 1ms/row,
    measured)."""
    scores = []
    for c in centroids:
        b = sum(float(x) * float(x) for x in c)
        term = F.lit(float(b))
        for d, x in enumerate(c):
            term = (term + F.get(vec, d).cast("double")
                    * F.lit(-2.0 * float(x)))
        scores.append(term)
    sarr = F.array(*scores)
    return (F.array_position(sarr, F.array_min(sarr)) - 1) \
        .cast("int")


def _pq_residual_expr(vec: Column,
                      centroids: "list[list[float]]") -> Column:
    """``x − coarse_centroid(x)`` as a pure row expression (double
    array): flat-chain nearest-centroid assignment
    (:func:`_pq_coarse_cluster_expr`), centroid selected by ONE
    ``element_at`` into a constant-folded array-of-arrays literal
    (never a when-chain — each when condition would duplicate the
    whole assignment tree), one ``zip_with`` subtract.  The
    residual-PQ staging shared by fit/encode/reconstruction — FAISS
    IVFPQ's ``by_residual`` preprocessing (Jégou 2011 §V.B: residuals
    concentrate tighter than raw vectors, so the same m·k codebook
    budget quantizes finer)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    cl = _pq_coarse_cluster_expr(vec, centroids)
    cents_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    cent = F.element_at(cents_lit, cl + 1)
    return F.zip_with(v, cent, lambda a, b: a - b)


def _pq_check_residual_centroids(state: dict,
                                 centroids: "list[list[float]]",
                                 caller: str) -> None:
    """A residual codebook is only meaningful against the EXACT
    coarse quantizer it was fit on — a different centroid set would
    decode residuals against the wrong origins, silently."""
    res = state.get("residuals_of")
    if res is None:
        return
    same = ([[float(x) for x in c] for c in res]
            == [[float(x) for x in c] for c in centroids])
    if not same:
        raise ValueError(
            f"{caller}: state was fit with residuals_of a DIFFERENT "
            f"centroid set than the one passed — residual codes only "
            f"decode against their own coarse quantizer")


def pq_fit(df: DataFrame, vec_col: str = "embedding",
           id_col: str = "vec_id", m: int = 8, k: int = 64,
           n_iter: int = 5, seed: int = 0,
           hash_mode: str = "xxhash64",
           max_fit_rows: "int | None" = 100_000,
           residuals_of: "list[list[float]] | None" = None) -> dict:
    """Fit a product-quantization codebook (Jégou et al. 2011 — the
    FAISS PQ recipe): split each ``dim``-dimensional vector into ``m``
    contiguous subvectors and k-means each subspace independently
    (``clustering.kmeans_fit`` — deterministic seeds, fixed Lloyd
    rounds, so the codebook is reproducible across runs AND engines).
    Returns frozen driver state ``{"m", "k", "dim", "sub_dim",
    "codebooks": [m][k][sub_dim]}`` — ``m·k·sub_dim = k·dim`` floats,
    the store-once / encode-everywhere contract of
    ``quantization_ranges``.

    Compression: codes are ``m`` small ints per vector — at m=8 over
    a 64-dim float corpus that is 8 bytes vs 256 (32×), one tier
    beyond :func:`quantize_embeddings`'s int8 (4×), at the price of
    approximating each subvector by its nearest centroid.  ``dim``
    must divide evenly by ``m`` (raise, don't pad silently).

    Scale: ``m`` sequential :func:`~spark_df_profiling_spark.
    operators.clustering.kmeans_fit` runs over the SLICED subvector
    column (each ``n_iter`` bounded scans over the
    ``max_fit_rows``-capped frame); state is O(k·dim) driver floats.

    ``residuals_of`` (r15 — FAISS IVFPQ's ``by_residual``): pass the
    frozen COARSE centroids and the codebooks are fit on ``x −
    coarse_centroid(x)`` instead of raw vectors — residuals cluster
    around 0 far tighter than vectors cluster around anything, so the
    same m·k budget quantizes finer and IVFPQ recall rises at equal
    code size (Jégou 2011 Fig. 7).  The state records the centroid
    set; :func:`pq_encode` / :func:`ivf_pq_topk` /
    :func:`pq_reconstruction_stats` switch automatically, and
    :func:`pq_adc_topk` REJECTS residual states (plain ADC has no
    per-row coarse cell to decode against — search residual codes
    through :func:`ivf_pq_topk`, whose per-(query, cluster) probe
    frame is exactly the LUT granularity residuals need).  The
    residual staging is one assignment expression + one zip_with per
    fit scan — zero extra passes, zero shuffle.
    """
    if not 1 <= m <= PQ_MAX_SUBSPACES:
        raise ValueError(f"pq_fit: m must be in "
                         f"[1, {PQ_MAX_SUBSPACES}]: {m}")
    if not 2 <= k <= PQ_MAX_CODES:
        raise ValueError(f"pq_fit: k must be in "
                         f"[2, {PQ_MAX_CODES}]: {k}")
    v = F.col(vec_col)
    first = (df.where(v.isNotNull())
             .select(F.size(v).alias("__d")).first())
    if first is None:
        raise ValueError("pq_fit: no non-NULL vectors")
    dim = int(first["__d"])
    if dim % m != 0:
        raise ValueError(
            f"pq_fit: dim={dim} not divisible by m={m} — pick m "
            f"dividing the dimension (or pad upstream explicitly)")
    sub_dim = dim // m
    from spark_df_profiling_spark.operators.clustering import (
        kmeans_fit)
    # LOUD wrong-length contract, mirroring pq_encode (r14 ADVICE
    # fix): a row shorter/longer than dim raises during the fit scan
    # instead of silently contributing truncated/NULL-padded slices.
    # The guard rides the slice source column, so Catalyst can't
    # prune it away — zero extra scans.
    if residuals_of is not None:
        if not residuals_of or len(residuals_of[0]) != dim:
            raise ValueError(
                f"pq_fit: residuals_of centroids must be non-empty "
                f"with dim {dim}")
        base = _pq_residual_expr(v, residuals_of)
        btype = "array<double>"
    else:
        base, btype = v, df.schema[vec_col].dataType.simpleString()
    vv = (F.when(F.size(v) == dim, base)
          .otherwise(F.raise_error(F.concat(
              F.lit(f"pq_fit: vector length != {dim}: "),
              F.size(v).cast("string"))).cast(btype)))
    fit_src = df.where(v.isNotNull())
    fit_cap = max_fit_rows
    if residuals_of is not None and max_fit_rows is not None:
        # The m kmeans_fit calls each re-scan their input twice
        # (count + persist materialization) — with the residual
        # expression inlined that is 2·m evaluations over however
        # many rows reach them.  Caching the full-corpus residual is
        # WORSE (columnar cache-write of array rows measured ~28s per
        # 100k rows).  Instead apply the max_fit_rows hash cap ONCE
        # here, BEFORE the residual is ever computed: the fit becomes
        # corpus-size-independent (the cap is the same deterministic
        # md5-bucket rule kmeans_fit uses; one shared subset for all
        # subspaces instead of per-subspace resamples — an equivalent
        # uniform draw).
        n_all = fit_src.count()
        if n_all > max_fit_rows:
            from spark_df_profiling_spark.operators.sampling import (
                BUCKETS, hash_bucket)
            cut = max(1, int(round(BUCKETS * max_fit_rows / n_all)))
            fit_src = fit_src.where(
                hash_bucket(id_col, seed=seed) < F.lit(cut))
        fit_cap = None   # already capped; don't re-count per fit
    slice_src = vv
    if residuals_of is not None:
        # materialize the (capped) residual frame ONCE so the m
        # subspace fits slice a plain column: localCheckpoint, not
        # persist — the columnar cache-write of array rows measured
        # ~28s/100k, the checkpoint's flat serialization does not
        fit_src = (fit_src.select(F.col(id_col),
                                  vv.alias("__pqfv"))
                   .localCheckpoint(eager=True))
        slice_src = F.col("__pqfv")
    codebooks = []
    for s in range(m):
        sliced = fit_src.select(
            F.col(id_col),
            F.slice(slice_src, s * sub_dim + 1,
                    sub_dim).alias("__sub"))
        codebooks.append(kmeans_fit(
            sliced, "__sub", id_col, k=k, n_iter=n_iter,
            seed=seed + s, hash_mode=hash_mode,
            max_fit_rows=fit_cap))
    state = {"m": m, "k": k, "dim": dim, "sub_dim": sub_dim,
             "codebooks": codebooks}
    if residuals_of is not None:
        state["residuals_of"] = [
            [float(x) for x in c] for c in residuals_of]
    return state


def pq_encode(df: DataFrame, state: dict,
              vec_col: str = "embedding",
              out_col: str = "pq_codes") -> DataFrame:
    """Encode vectors under a frozen :func:`pq_fit` codebook:
    ``out[s]`` = the nearest centroid index of subvector ``s``
    (squared L2, ties to the lower index — the
    ``kmeans_assign_expr`` rule per subspace).  NULL vectors encode
    to NULL; a wrong-length vector raises at execution.  Residual
    states (``pq_fit(residuals_of=...)``) encode ``x −
    coarse_centroid(x)`` — one staged assignment+subtract expression,
    same scan count.

    Scale: ``m`` independent per-subspace assignments as FLAT
    indexed-element score chains over STAGED slice columns — zero
    shuffle, no Python, no joins; rehearsed at m=8 × k=64 over
    2M×64d in 12.3s (see the inline measurement note).  m·k·sub_dim
    is the expression-volume knob to watch before raising any cap.
    """
    m, sub_dim, dim = state["m"], state["sub_dim"], state["dim"]
    v = F.col(vec_col)
    # Assignment uses the EXPANDED score −2⟨x,c_j⟩ + ‖c_j‖² (affine
    # in the dropped ‖x‖², so the argmin is the L2 argmin) as
    # indexed-element chains over a STAGED slice column — the
    # random_projection codegen lesson: per-ROW GetArrayItem chains
    # amortize where interpreted HOF folds pay per-subexpression
    # overhead (measured on the m=8 × k=64 / 2M×64d encode:
    # zip_with/aggregate folds 623s, +slice staging 240s, this form
    # 12.3s — 51×; plan ANALYSIS of the 4096-term tree costs a
    # one-time ~18s on the driver).  Ties resolve to the LOWEST code
    # (array_position finds the first minimum), matching
    # ``kmeans_assign_expr``; the oracle replays the same expanded
    # arithmetic.
    res_cents = state.get("residuals_of")
    # Stage ALL shared columns in ONE select (never a withColumn
    # chain): chained projections collapse pairwise and the optimizer
    # re-inlines a staged non-cheap column into EACH later projection
    # that uses it — measured as m× re-evaluation of the coarse
    # assignment (78s vs 9s at 500k×64d) and, for a staged residual
    # ARRAY, ~30× plan-analysis blowup (106s vs 3.8s at the tiny
    # oracle shape).  A single projection whose aliases are each
    # referenced by the NEXT projection many times is the form
    # CollapseProject provably leaves alone.
    stage1 = [F.col(c) for c in df.columns]
    if res_cents:
        # residual state (r15): codes quantize x − coarse_centroid(x).
        # The residual is NOT materialized — the expansion absorbs
        # the centroid: ‖(x−c)−cb_j‖² − ‖x−c‖² = ‖cb_j‖² − 2⟨x,cb_j⟩
        # + 2⟨c,cb_j⟩, where 2⟨c_sub,cb_j⟩ is a PYTHON-precomputed
        # literal per (coarse cell, subspace, code) selected by one
        # element_at indexed by the staged cluster-id INT.  Same
        # argmin, same ties.  The cluster id uses the FLAT-chain
        # assignment (never the HOF folds — the 50× interpreter-
        # overhead lesson).
        stage1.append(
            _pq_coarse_cluster_expr(v, res_cents).alias("__pqcl"))
    for s in range(m):
        stage1.append(
            F.transform(F.slice(v, s * sub_dim + 1, sub_dim),
                        lambda x: x.cast("double"))
            .alias(f"__pqs{s}"))
    staged = df.select(*stage1)
    cols = []
    for s in range(m):
        sub = F.col(f"__pqs{s}")
        scores = []
        for cb in state["codebooks"][s]:
            b = sum(float(c) * float(c) for c in cb)
            term = F.lit(float(b))
            for d, c in enumerate(cb):
                term = term + F.get(sub, d) * F.lit(-2.0 * float(c))
            if res_cents:
                corr = F.array(*[F.lit(2.0 * sum(
                    float(cc[s * sub_dim + d]) * float(cb[d])
                    for d in range(sub_dim))) for cc in res_cents])
                term = term + F.element_at(corr,
                                           F.col("__pqcl") + 1)
            scores.append(term)
        sarr = F.array(*scores)
        staged = staged.withColumn(f"__pqd{s}", sarr)
        staged = staged.withColumn(
            f"__pq{s}",
            F.when(v.isNull(), F.lit(None).cast("int"))
            .when(F.size(v) == dim,
                  (F.array_position(
                      F.col(f"__pqd{s}"),
                      F.array_min(F.col(f"__pqd{s}"))) - 1)
                  .cast("int"))
            .otherwise(F.raise_error(F.concat(
                F.lit(f"pq_encode: vector length != {dim}: "),
                F.size(v).cast("string"))).cast("int")))
        cols.append(F.col(f"__pq{s}"))
    arr = F.when(v.isNotNull(), F.array(*cols))
    return (staged.withColumn(out_col, arr)
            .drop("__pqcl",
                  *[f"__pqs{s}" for s in range(m)],
                  *[f"__pqd{s}" for s in range(m)],
                  *[f"__pq{s}" for s in range(m)]))


def pq_reconstruction_stats(df: DataFrame, state: dict,
                            vec_col: str = "embedding",
                            codes_col: str = "pq_codes") -> DataFrame:
    """Audit the PQ approximation like ``quantization_error_stats``
    audits int8: ONE row ``(n, mean_sq_err, max_sq_err,
    mean_vec_norm_sq)`` where the error is the squared L2 between
    each vector and its codebook reconstruction — the number that
    says whether m/k are adequate BEFORE search quality degrades
    mysteriously.  Pure row expressions + one aggregate.  Residual
    states reconstruct ``coarse_centroid + codebook[code]``, so the
    error is still measured against the RAW vector (and
    ``mean_vec_norm_sq`` stays the raw norm) — the number that shows
    residual encoding's whole point: same m/k, smaller error."""
    m, sub_dim = state["m"], state["sub_dim"]
    v = F.col(vec_col)
    res_cents = state.get("residuals_of")
    base = (F.col("__prv") if res_cents else v)
    err = None
    for s in range(m):
        sub = F.transform(F.slice(base, s * sub_dim + 1, sub_dim),
                          lambda x: x.cast("double"))
        cb = state["codebooks"][s]
        code = F.element_at(F.col(codes_col), s + 1)
        # reconstruction = the coded centroid, selected by ONE
        # element_at into a constant-folded array of the k codebook
        # rows (a when-chain walks ~k/2 branches per row AND
        # duplicates the selector per condition)
        cb_lit = F.array(*[
            F.array(*[F.lit(float(x)) for x in row]) for row in cb])
        expr = F.element_at(cb_lit, code + 1)
        diff = F.zip_with(sub, expr, lambda a, b: (a - b) * (a - b))
        e = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
        err = e if err is None else err + e
    nrm = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    src = df.where(v.isNotNull() & F.col(codes_col).isNotNull())
    if res_cents:
        # stage the residual ONCE in an explicit projection (the
        # Aggregate's child) — inlined per-subspace it re-evaluates
        # the assignment m times per row
        src = src.select(
            F.col(codes_col), v.alias(vec_col),
            _pq_residual_expr(v, res_cents).alias("__prv"))
    return src.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(err).alias("mean_sq_err"),
        F.max(err).alias("max_sq_err"),
        F.avg(nrm).alias("mean_vec_norm_sq"))


def pq_adc_topk(corpus_codes: DataFrame, queries: DataFrame,
                state: dict,
                id_col: str = "vec_id",
                codes_col: str = "pq_codes",
                vec_col: str = "embedding",
                k: int = 10, max_queries: int = 128,
                sub_partitions: int = 32) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the FAISS
    search shape: per query, precompute the ``m × k`` lookup table of
    squared L2 distances from each query SUBVECTOR to every centroid
    (driver arithmetic over the frozen codebook — queries are
    collected, bounded LOUDLY by ``max_queries``, the
    ``mmr_rerank`` contract), then every corpus row's approximate
    distance is ``Σ_s LUT[s][code_s]`` — ``m`` literal-array lookups
    per (row, query), no decode, no float vectors in the scan.
    Returns ``(query_id, neighbor_id, dist, rank)``, SMALLEST
    distance first (L2 semantics — L2-normalize upstream if cosine
    ranking is wanted), self-matches excluded, ties by neighbor_id.

    Scale: ONE corpus scan scoring all queries (per-row cost
    ``n_queries · m`` element_at lookups), then the same two-phase
    salted top-k as :func:`knn_bruteforce` (smallest-first).
    Compose with :func:`knn_ivf`'s cluster pruning for the full
    IVF+PQ pipeline: assign codes once, search only probed lists.
    """
    if state.get("residuals_of"):
        raise ValueError(
            "pq_adc_topk: residual-encoded states need the per-row "
            "coarse cell to decode against — search them through "
            "ivf_pq_topk (its per-(query, cluster) probe frame is "
            "the LUT granularity residuals require)")
    m, kk, sub_dim = state["m"], state["k"], state["sub_dim"]
    q_rows = (queries.where(F.col(vec_col).isNotNull())
              .select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("__qv"))
              .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_adc_topk: more than max_queries={max_queries} "
            f"query rows — batch the query set")
    if not q_rows:
        raise ValueError("pq_adc_topk: no non-NULL query vectors")
    per_q = []
    for r in q_rows:
        qv = [float(x) for x in r["__qv"]]
        if len(qv) != state["dim"]:
            raise ValueError(
                f"pq_adc_topk: query {r['query_id']!r} has length "
                f"{len(qv)} != dim {state['dim']}")
        luts = []
        for s in range(m):
            sub = qv[s * sub_dim:(s + 1) * sub_dim]
            luts.append([
                sum((a - b) * (a - b)
                    for a, b in zip(sub, state["codebooks"][s][j]))
                for j in range(kk)])
        per_q.append((r["query_id"], luts))
    codes = F.col(codes_col)
    entries = []
    for qid, luts in per_q:
        dist = None
        for s in range(m):
            lut = F.array(*[F.lit(float(x)) for x in luts[s]])
            term = F.element_at(lut, F.element_at(codes, s + 1) + 1)
            dist = term if dist is None else dist + term
        entries.append(F.struct(
            F.lit(qid).alias("query_id"), dist.alias("dist")))
    scored = (corpus_codes.where(codes.isNotNull())
              .select(F.col(id_col).alias("neighbor_id"),
                      F.explode(F.array(*entries))
                      .alias("__q"))
              .select(F.col("__q.query_id"), "neighbor_id",
                      F.col("__q.dist").alias("dist"))
              .where(F.col("neighbor_id") != F.col("query_id"))
              # a NULL distance (NULL code element, foreign codes
              # frame) must never rank: NULLs sort FIRST under asc
              .where(F.col("dist").isNotNull()))
    return two_phase_topk(scored, ["query_id"], "xxhash64(neighbor_id)",
                          ["dist ASC", "neighbor_id ASC"], k,
                          sub_partitions)


def ivf_pq_topk(corpus_codes: DataFrame, queries: DataFrame,
                centroids: "list[list[float]]", state: dict,
                id_col: str = "vec_id",
                codes_col: str = "pq_codes",
                cluster_col: str = "cluster",
                vec_col: str = "embedding",
                k: int = 10, nprobe: int = 4,
                max_queries: int = 128) -> DataFrame:
    """The full FAISS IVFPQ pipeline composed: coarse IVF pruning
    (:func:`knn_ivf`'s frozen-centroid probe lists) over an
    ADC-scored PQ-coded corpus (:func:`pq_adc_topk`'s lookup tables)
    — each query scans ``~nprobe/len(centroids)`` of the corpus at
    ``m`` bytes per vector instead of ``4·dim``: the two savings
    multiply, which is what makes billion-vector search tractable.

    ``corpus_codes`` must carry BOTH the PQ codes and the coarse
    ``cluster_col`` (assign once at encode time:
    ``kmeans_assign(...)`` then :func:`pq_encode`); queries stay
    float.  Queries are collected (bounded by ``max_queries``, the
    :func:`pq_adc_topk` contract) — per query the driver computes
    the ``nprobe`` probe list AND the ``m × k`` LUT, which travel as
    a small exploded ``(query_id, cluster, lut)`` frame; the
    candidate join is a broadcast HASH join on the cluster id and the
    distance is ``m`` nested ``element_at`` lookups on the LUT
    COLUMN — no float vectors, no decode, no nested loop anywhere.
    Returns ``(query_id, neighbor_id, dist, rank)``, smallest-L2
    first (normalize upstream for cosine semantics); recall is
    data-dependent — gate it and report scan volume via
    :func:`ivf_candidate_stats`.
    """
    if not centroids:
        raise ValueError("ivf_pq_topk: centroids must be non-empty")
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"ivf_pq_topk: nprobe must be in "
            f"[1, {len(centroids)}]: {nprobe}")
    for c in (codes_col, cluster_col):
        if c not in corpus_codes.columns:
            raise ValueError(f"corpus missing column: {c!r}")
    m, kk, sub_dim = state["m"], state["k"], state["sub_dim"]
    q_rows = (queries.where(F.col(vec_col).isNotNull())
              .select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("__qv"))
              .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_topk: more than max_queries={max_queries} "
            f"query rows — batch the query set")
    if not q_rows:
        raise ValueError("ivf_pq_topk: no non-NULL query vectors")
    res_cents = state.get("residuals_of")
    if res_cents is not None:
        _pq_check_residual_centroids(state, centroids, "ivf_pq_topk")
    probe_rows = []
    for r in q_rows:
        qv = [float(x) for x in r["__qv"]]
        if len(qv) != state["dim"]:
            raise ValueError(
                f"ivf_pq_topk: query {r['query_id']!r} has length "
                f"{len(qv)} != dim {state['dim']}")
        cdists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, c)), i)
            for i, c in enumerate(centroids))
        probes = [i for _, i in cdists[:nprobe]]
        for cl in probes:
            # residual states (r15, FAISS by_residual): codes in cell
            # cl approximate x − c_cl, so THIS cell's LUT measures
            # (q − c_cl) against the residual codebook — the probe
            # frame is already per-(query, cluster), so residual
            # search costs no extra rows, joins, or lookups
            if res_cents is not None:
                base = [a - b for a, b in zip(qv, centroids[cl])]
            else:
                base = qv
            lut = []
            for s in range(m):
                sub = base[s * sub_dim:(s + 1) * sub_dim]
                lut.append([
                    sum((a - b) * (a - b)
                        for a, b in
                        zip(sub, state["codebooks"][s][j]))
                    for j in range(kk)])
            probe_rows.append((r["query_id"], int(cl), lut))
    from pyspark.sql import types as T
    spark = corpus_codes.sparkSession
    # query_id keeps the INPUT id type (string vec_ids work like they
    # do in knn_ivf / pq_adc_topk) — the _isotonic_apply_grouped gtype
    # rule, not a hardcoded LongType (r14 ADVICE fix)
    qid_type = queries.schema[id_col].dataType
    probe_df = spark.createDataFrame(
        probe_rows, T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField("__cl", T.IntegerType()),
            T.StructField("__lut", T.ArrayType(
                T.ArrayType(T.DoubleType())))]))
    codes = F.col(codes_col)
    joined = (corpus_codes.where(codes.isNotNull())
              .select(F.col(id_col).alias("neighbor_id"),
                      F.col(cluster_col).cast("int").alias("__cl"),
                      codes.alias("__codes"))
              .join(F.broadcast(probe_df), "__cl")
              .where(F.col("neighbor_id") != F.col("query_id")))
    dist = None
    for s in range(m):
        term = F.element_at(F.element_at(F.col("__lut"), s + 1),
                            F.element_at(F.col("__codes"), s + 1) + 1)
        dist = term if dist is None else dist + term
    scored = (joined.select("query_id", "neighbor_id",
                            dist.alias("dist"))
              # NULLs sort FIRST under asc — a NULL distance (NULL
              # code element) must never rank
              .where(F.col("dist").isNotNull()))
    return two_phase_topk(scored, ["query_id"], "xxhash64(neighbor_id)",
                          ["dist ASC", "neighbor_id ASC"], k, 32)


def ivf_pq_refine(corpus_codes: DataFrame, queries: DataFrame,
                  centroids: "list[list[float]]", state: dict,
                  id_col: str = "vec_id",
                  codes_col: str = "pq_codes",
                  cluster_col: str = "cluster",
                  vec_col: str = "embedding",
                  k: int = 10, nprobe: int = 4,
                  rerank_k: int = 50,
                  max_queries: int = 128) -> DataFrame:
    """IVFPQ with exact refinement — the FAISS ``IndexRefineFlat``
    recipe: :func:`ivf_pq_topk` generates ``rerank_k`` candidates per
    query by asymmetric PQ distance (coarse pruning × code lookup —
    the cheap, lossy stage), then ONLY those candidates are re-scored
    against the float vectors and the true top-``k`` re-ranked by
    exact squared L2.  The standard quality rung: candidate recall is
    the PQ index's (data-dependent, gate it); final DISTANCES are
    exact, so ranking errors can only come from true neighbors missing
    the candidate set — raise ``rerank_k``/``nprobe`` to buy recall
    without touching the stored codes.

    ``corpus_codes`` must carry the PQ codes, the coarse cluster AND
    the float ``vec_col`` (the refine store — FAISS keeps the same
    triple).  Returns ``(query_id, neighbor_id, dist, rank)``,
    smallest exact L2 first, self-matches excluded, ties by
    neighbor_id.  With ``nprobe = len(centroids)`` and ``rerank_k >=
    |corpus|`` the output IS exact brute-force L2 top-k (every row
    becomes a candidate and the ranking is exact) — the
    deterministic-invariant device the ann_recall_gates oracle row
    uses, mirroring the rproj/ivfd full-coverage gates.

    Scale: the candidate frame is ≤ ``max_queries · rerank_k`` rows —
    broadcast-sized by construction — so the refine join against the
    corpus floats is a broadcast HASH join on ``(neighbor_id)``
    streaming the corpus ONCE, and the exact distance is one
    ``zip_with``/``aggregate`` fold per CANDIDATE (the per-pair HOF
    rule), never per corpus row.
    """
    if rerank_k < k:
        raise ValueError(
            f"ivf_pq_refine: rerank_k={rerank_k} must be >= k={k}")
    if vec_col not in corpus_codes.columns:
        raise ValueError(
            f"ivf_pq_refine: corpus missing float column "
            f"{vec_col!r} (the refine store)")
    cand = ivf_pq_topk(corpus_codes, queries, centroids, state,
                       id_col=id_col, codes_col=codes_col,
                       cluster_col=cluster_col, vec_col=vec_col,
                       k=rerank_k, nprobe=nprobe,
                       max_queries=max_queries) \
        .select("query_id", "neighbor_id")
    qv = (queries.where(F.col(vec_col).isNotNull())
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("__qv")))
    cv = corpus_codes.select(F.col(id_col).alias("neighbor_id"),
                             F.col(vec_col).alias("__cv"))
    # both joins broadcast the SMALL side (candidates ≤ max_queries ·
    # rerank_k rows; queries ≤ max_queries): the corpus float store
    # streams through once, nothing corpus-sized shuffles
    joined = (cv.join(F.broadcast(cand), "neighbor_id")
              .join(F.broadcast(qv), "query_id"))
    dist = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"),
                   lambda a, b: (a.cast("double") - b.cast("double"))
                   * (a.cast("double") - b.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("neighbor_id"))
    return (joined.select("query_id", "neighbor_id",
                          dist.alias("dist"))
            .where(F.col("dist").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   n_clusters: int | None = None,
                   min_cosine: float = 0.95,
                   max_fit_rows: int = 100_000,
                   transitive: bool = True,
                   rows_per_cluster: int = 4096,
                   max_cluster_rows: int | None = None) -> DataFrame:
    """SemDeDup-style embedding dedup: cluster, then prune WITHIN
    clusters.

    The published recipe (Abbas et al. 2023, "SemDeDup"): normalize
    embeddings, K-means them into ``n_clusters`` buckets, and only
    compare pairs INSIDE a cluster — pairwise cost drops from corpus²
    to Σ cluster_i², the quadratic-to-near-linear trick that makes
    semantic dedup feasible on web-scale corpora.  Near-identical
    groups (cosine >= ``min_cosine``, transitively closed by default)
    keep their smallest id.

    Returns ``(id_col, cluster, keep)`` for every input row.

    Cluster sizing: Σ cluster_i² only stays near-linear if clusters stay
    SMALL — a fixed ``n_clusters`` on a growing corpus collapses back
    toward quadratic (n/k rows per cluster squares).  The default
    ``n_clusters=None`` therefore DERIVES k from the corpus:
    ``ceil(count / rows_per_cluster)`` (one cheap count), the same
    target-occupancy rule behind the SemDeDup paper's ~50k clusters on
    LAION-440M (~9k rows/cluster).  Pass an explicit ``n_clusters``
    only for small/known corpora.  ``max_cluster_rows`` additionally
    caps pair volume the way ``minhash_candidates_native`` caps bucket
    size: K-means can still produce a degenerate giant cluster (mode
    collapse on near-constant embeddings), and one such cluster owns
    the whole quadratic blowup — rows in clusters over the cap are
    KEPT un-deduped and reported with a driver-side warning (loud,
    bounded, never a stalled job).

    Scale notes: KMeans fits on a ``max_fit_rows`` sample
    (:func:`ivf_fit_input`) and assigns with one transform;
    normalization first makes Euclidean K-means act on cosine geometry
    (so a scaled copy of a vector lands in ITS cluster, not a distant
    one); the within-cluster pair join is an equi-join on cluster id
    with per-row hoisted norms — no cross-cluster pairs ever form.
    Straddling risk (true near-dups split by a cluster boundary) is the
    documented SemDeDup trade-off; raise ``rows_per_cluster`` resolution
    or run twice with different seeds if the miss rate matters.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    from spark_df_profiling_spark.operators.dedup import _dropped_ids

    if not -1.0 <= min_cosine <= 1.0:
        raise ValueError(f"min_cosine must be in [-1, 1]: {min_cosine}")
    if n_clusters is None:
        if rows_per_cluster < 1:
            raise ValueError(
                f"rows_per_cluster must be >= 1: {rows_per_cluster}")
        n_rows = df.count()
        n_clusters = max(2, -(-n_rows // rows_per_cluster))
    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1: {n_clusters}")
    vec = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__a"),
        array_to_vector(F.transform(F.col(vec_col),
                                    lambda x: x.cast("double")))
        .alias("__v"))
    if n_clusters == 1:
        # exact mode: every pair compared, no quantizer (KMeans itself
        # requires k >= 2).  The oracle-gradable configuration — no
        # clustering nondeterminism — and the right call for corpora
        # small enough that Σ c_i² = n² is affordable.
        assigned = vec.select("id", "__a", F.lit(0).alias("cluster"),
                              l2_norm(F.col("__a")).alias("__n"))
    else:
        norm = Normalizer(inputCol="__v", outputCol="__nv", p=2.0) \
            .transform(vec).select("id", "__a", "__nv")
        km = KMeans(k=n_clusters, seed=42, featuresCol="__nv",
                    predictionCol="cluster")
        model = km.fit(ivf_fit_input(norm, max_fit_rows).select("__nv"))
        assigned = (model.transform(norm)
                    .select("id", "__a", "cluster",
                            l2_norm(F.col("__a")).alias("__n")))

    pairable = assigned
    if max_cluster_rows is not None:
        if max_cluster_rows < 2:
            raise ValueError(
                f"max_cluster_rows must be >= 2: {max_cluster_rows}")
        # O(n_clusters) driver result — state, not data
        sizes = (assigned.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("__sz"))
                 .where(F.col("__sz") > max_cluster_rows).collect())
        if sizes:
            import warnings
            over = {r["cluster"]: r["__sz"] for r in sizes}
            warnings.warn(
                f"semantic_dedup: {len(over)} cluster(s) exceed "
                f"max_cluster_rows={max_cluster_rows} and are EXCLUDED "
                f"from pairing (rows kept un-deduped): {over} — raise "
                f"rows_per_cluster resolution or the cap", stacklevel=2)
            pairable = assigned.where(
                ~F.col("cluster").isin(*[int(c) for c in over]))

    a = pairable.select(F.col("cluster"), F.col("id").alias("id_a"),
                        F.col("__a").alias("__va"),
                        F.col("__n").alias("__na"))
    b = pairable.select(F.col("cluster"), F.col("id").alias("id_b"),
                        F.col("__a").alias("__vb"),
                        F.col("__n").alias("__nb"))
    pairs = (a.join(b, on="cluster")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     safe_cosine(dot(F.col("__va"), F.col("__vb")),
                                 F.col("__na"), F.col("__nb")).alias("cos"))
             .where(F.col("cos") >= min_cosine)
             .select("id_a", "id_b"))

    drops = _dropped_ids(pairs, transitive)
    return (assigned.join(drops.withColumn("__drop", F.lit(True)),
                          "id", "left")
            .select(F.col("id").alias(id_col), "cluster",
                    F.coalesce(~F.col("__drop"), F.lit(True))
                    .alias("keep")))


MMR_SCHEMA = "query_id long, neighbor_id long, mmr_score double, rank int"

# Spark SQL id dtype → pandas dtype, for the Arrow handoff in mmr_rerank.
# (The output schema is derived from the INPUT id column's dtype, so
# string / int ids work — not just the long ids MMR_SCHEMA hardcodes.)
_MMR_ID_PD_DTYPES = {"tinyint": "int8", "smallint": "int16",
                     "int": "int32", "bigint": "int64",
                     "string": "object"}


def mmr_rerank(corpus: DataFrame, queries: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               k: int = 10, pool: int = 50,
               lam: float = 0.7) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: rerank each
    query's candidate pool so results are relevant AND mutually
    dissimilar (the standard fix for near-duplicate-cluttered retrieval
    — a RAG context window of 10 copies of the same paragraph is worth
    one).

    Greedy MMR: repeatedly pick
    ``argmax lam*rel(c) - (1-lam)*max_{s in selected} cos(c, s)``
    (ties by neighbor_id ascending; the first pick is pure relevance).

    Two stages: (1) :func:`knn_bruteforce` harvests the top-``pool``
    candidates per query (all the distributed heavy lifting — corpus
    streams once, queries broadcast); (2) the greedy selection runs per
    query group via ``applyInPandas`` — an Arrow-batched BOUNDED
    computation (``pool`` candidates × vector dim per group), the same
    legitimacy class as the stateful streaming ops.  Inner products in
    stage 2 accumulate LEFT-TO-RIGHT in plain Python floats so the
    arithmetic is bit-identical to a sequential SQL fold (how the
    oracle replays it) — numpy's pairwise/BLAS summation would drift in
    the last ulp.

    Returns ``(query_id, neighbor_id, mmr_score, rank)``; rank 1 is the
    most relevant, ``mmr_score`` is the value that won that round
    (rank 1's score = its raw relevance).
    """
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    if k < 1 or pool < k:
        raise ValueError(f"need pool >= k >= 1: k={k}, pool={pool}")
    id_dt = dict(corpus.dtypes)[id_col]
    if id_dt not in _MMR_ID_PD_DTYPES:
        raise ValueError(
            f"mmr_rerank supports integer/string {id_col!r} ids, "
            f"got {id_dt}")
    out_schema = (f"query_id {id_dt}, neighbor_id {id_dt}, "
                  f"mmr_score double, rank int")
    id_pd = _MMR_ID_PD_DTYPES[id_dt]
    cand = knn_bruteforce(corpus, queries, id_col=id_col,
                          vec_col=vec_col, k=pool)
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("__cv"),
                       l2_norm(F.col(vec_col)).alias("__cn"))
    pool_df = (cand.join(cv, "neighbor_id")
               .select("query_id", "neighbor_id", "sim", "__cv", "__cn"))

    def _py_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    def greedy(pdf):
        import pandas as pd
        recs = sorted(
            zip(pdf["query_id"], pdf["neighbor_id"], pdf["sim"],
                pdf["__cv"], pdf["__cn"]),
            key=lambda r: (-r[2], r[1]))
        vecs = {nid: ([float(x) for x in cv], float(cn))
                for _, nid, _, cv, cn in recs}
        rel = {nid: float(s) for _, nid, s, _, _ in recs}
        qid = recs[0][0] if recs else None
        rows = recs
        selected, out = [], []
        remaining = [nid for _, nid, _, _, _ in rows]
        while remaining and len(out) < k:
            best, best_score = None, None
            for nid in remaining:
                if not selected:
                    score = rel[nid]
                else:
                    va, na = vecs[nid]
                    mx = None
                    for sid in selected:
                        vb, nb = vecs[sid]
                        c = (_py_dot(va, vb) / (na * nb)
                             if na * nb > 0 else None)
                        if c is not None and (mx is None or c > mx):
                            mx = c
                    score = lam * rel[nid] - (1 - lam) * (mx or 0.0)
                if best_score is None or score > best_score \
                        or (score == best_score and nid < best):
                    best, best_score = nid, score
            selected.append(best)
            remaining.remove(best)
            out.append((qid, best, best_score, len(out)))
        frame = pd.DataFrame(out, columns=["query_id", "neighbor_id",
                                           "mmr_score", "rank"])
        # explicit dtypes either way — an empty object-dtype frame
        # would fail Arrow conversion for the declared schema
        return frame.astype({"query_id": id_pd, "neighbor_id": id_pd,
                             "mmr_score": "float64", "rank": "int32"})

    return (pool_df.groupBy("query_id")
            .applyInPandas(greedy, schema=out_schema)
            .withColumn("rank", F.col("rank") + 1))


def embedding_dim_stats(df: DataFrame,
                        vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION statistics across the whole embedding corpus:
    ``(dim, n, mean, std, min_v, max_v, frac_zero)`` — the diagnostic
    that catches dead dimensions (std ≈ 0: the encoder collapsed, or a
    projection bug zeroed a coordinate) and scale-skewed dimensions
    (one feature dominating every distance metric) before they silently
    poison similarity search.

    Plan: one ``posexplode`` scan → groupBy on the dimension index with
    MAP-SIDE partial aggregation, so only ``#dims × #stats`` rows reach
    the shuffle no matter how many vectors the corpus holds.  NULL
    vectors contribute nothing; ragged corpora surface as differing
    ``n`` per dim (itself a defect worth seeing).
    """
    exploded = df.select(F.posexplode(F.col(vec_col))
                         .alias("dim", "__v"))
    v = F.col("__v").cast("double")
    return (exploded.groupBy("dim")
            .agg(F.count(v).alias("n"),
                 F.avg(v).alias("mean"),
                 F.stddev_samp(v).alias("std"),
                 F.min(v).alias("min_v"),
                 F.max(v).alias("max_v"),
                 F.avg(F.when(v == 0, 1.0).otherwise(0.0))
                 .alias("frac_zero"))
            .orderBy("dim"))


def embedding_drift(ref: DataFrame, new: DataFrame,
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift between two corpus snapshots — the vector
    twin of :func:`~spark_df_profiling_spark.operators.drift.
    psi_numeric`: a re-trained encoder, a silent preprocessing change,
    or a shifted content mix moves the embedding distribution even
    when every SCALAR column profiles identically, and similarity
    search / k-means state fit on the old space quietly degrades.  One
    row per dimension: ``(dim, n_ref, n_new, mean_ref, mean_new,
    std_ref, std_new, mean_shift_z, std_ratio)`` —
    ``mean_shift_z = |Δmean| / pooled_std`` (the per-dim effect size;
    NULL when both stds are NULL/0), ``std_ratio = std_new/std_ref``
    (scale drift; NULL at std_ref 0) — plus ``centroid_cosine``
    (cosine between the two mean vectors, the one-number "did the
    space rotate/shift" dial) repeated per row, the
    :func:`~spark_df_profiling_spark.operators.evaluation.
    calibration_report` ece pattern.

    Scale: each snapshot pays ONE posexplode scan into a map-side-
    combined per-dim aggregate (#dims rows reach the shuffle); the
    compare joins two #dims-row frames and the centroid cosine folds
    them once more — nothing row-sized moves after the scans.
    """
    def per_dim(df, suffix):
        v = F.col("__v").cast("double")
        return (df.select(F.posexplode(F.col(vec_col))
                          .alias("dim", "__v"))
                .groupBy("dim")
                .agg(F.count(v).cast("long").alias(f"n_{suffix}"),
                     F.avg(v).alias(f"mean_{suffix}"),
                     F.stddev_samp(v).alias(f"std_{suffix}")))

    for d, name in ((ref, "ref"), (new, "new")):
        if vec_col not in d.columns:
            raise ValueError(f"{name} missing column: {vec_col!r}")
    a = per_dim(ref, "ref")
    b = per_dim(new, "new")
    j = a.join(b, "dim", "full")
    # centroid cosine from the two #dims-row mean vectors
    cen = j.agg(
        F.sum(F.col("mean_ref") * F.col("mean_new")).alias("__dot"),
        F.sqrt(F.sum(F.col("mean_ref") * F.col("mean_ref")))
        .alias("__na"),
        F.sqrt(F.sum(F.col("mean_new") * F.col("mean_new")))
        .alias("__nb"))
    cen = cen.select(
        F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
               F.col("__dot") / (F.col("__na") * F.col("__nb")))
        .alias("centroid_cosine"))
    pooled = F.sqrt((F.coalesce(F.col("std_ref"), F.lit(0.0))
                     * F.coalesce(F.col("std_ref"), F.lit(0.0))
                     + F.coalesce(F.col("std_new"), F.lit(0.0))
                     * F.coalesce(F.col("std_new"), F.lit(0.0)))
                    / 2.0)
    shift = F.when(pooled > 0,
                   F.abs(F.col("mean_new") - F.col("mean_ref"))
                   / pooled)
    ratio = F.when(F.col("std_ref") > 0,
                   F.col("std_new") / F.col("std_ref"))
    return (j.crossJoin(F.broadcast(cen))
            .select("dim", "n_ref", "n_new", "mean_ref", "mean_new",
                    "std_ref", "std_new", shift.alias("mean_shift_z"),
                    ratio.alias("std_ratio"), "centroid_cosine")
            .orderBy("dim"))


# ---------------------------------------------------------------------------
# Embedding quantization (int8) — 4x memory/IO cut for similarity search
# ---------------------------------------------------------------------------
def quantization_ranges(df: DataFrame,
                        vec_col: str = "embedding") -> "list[tuple]":
    """Per-dimension (min, max) of the corpus — the O(#dims) driver
    state that parameterizes :func:`quantize_embeddings`.  Persist it
    next to the quantized corpus: dequantization NEEDS the exact same
    ranges (same contract as frozen ``hist_edges`` / Bloom ``m_bits``).

    One posexplode scan with map-side partial aggregation; #dims rows.
    """
    rows = (df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v"))
            .groupBy("dim")
            .agg(F.min(F.col("__v").cast("double")).alias("mn"),
                 F.max(F.col("__v").cast("double")).alias("mx"))
            .orderBy("dim").collect())
    return [(float(r["mn"]), float(r["mx"])) for r in rows]


def quantize_embeddings(df: DataFrame, ranges: "list[tuple]",
                        vec_col: str = "embedding",
                        out_col: str = "embedding_q8",
                        bits: int = 8) -> DataFrame:
    """Per-dimension linear quantization to ``bits``-bit signed ints:
    ``q = floor((v - mn_d) / (mx_d - mn_d) * (2^bits - 1) + 0.5)
    - 2^(bits-1)`` — at 8 bits an ``array<tinyint>``, 4x smaller than
    float32 on the wire and in memory, which is the difference between
    an embedding corpus that fits executor memory for brute-force
    scoring and one that doesn't.  Constant dimensions quantize to the
    minimum code (their value is fully carried by the range state).

    Rounding is EXPLICIT ``floor(x + 0.5)`` — Spark's round() and
    DuckDB's round() disagree on tie-breaking, and this expression is
    oracle-replayed; floor(+0.5) is the same IEEE arithmetic in both.

    Pure row expression (zip_with against literal range arrays — the
    ranges ride the plan as O(#dims) literals, no join, no shuffle,
    no UDF).  NULL vectors stay NULL; ragged vectors quantize the
    dims they have.
    """
    if bits < 2 or bits > 16:
        raise ValueError(f"bits must be in [2, 16]: {bits}")
    if not ranges:
        raise ValueError("ranges must be non-empty")
    levels = float((1 << bits) - 1)
    offset = 1 << (bits - 1)
    out_t = "tinyint" if bits <= 8 else "smallint"
    mn_arr = F.array(*[F.lit(mn) for mn, _ in ranges])
    sc_arr = F.array(*[
        F.lit(((mx - mn) / levels) if mx > mn else 0.0)
        for mn, mx in ranges])
    v = F.col(vec_col)
    q = F.zip_with(
        F.zip_with(v, mn_arr, lambda x, mn: x.cast("double") - mn),
        sc_arr,
        lambda d, s: F.when(
            s > 0,
            F.least(F.greatest(F.floor(d / s + F.lit(0.5)), F.lit(0)),
                    F.lit(int(levels))))
        .otherwise(F.lit(0)) - F.lit(offset))
    # slice to the range-state length: zip_with NULL-pads the shorter
    # side, so extra dims of a ragged vector would become NULL codes
    return df.withColumn(
        out_col, F.slice(F.transform(q, lambda x: x.cast(out_t)),
                         1, len(ranges)))


def dequantize_embeddings(df: DataFrame, ranges: "list[tuple]",
                          q_col: str = "embedding_q8",
                          out_col: str = "embedding_deq",
                          bits: int = 8) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (up to the quantization
    step): ``v' = mn_d + (q + 2^(bits-1)) * (mx_d - mn_d) / (2^bits -
    1)``.  Reconstruction error is bounded by HALF the per-dim step —
    ``(mx_d - mn_d) / (2 * (2^bits - 1))`` — by construction."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    levels = float((1 << bits) - 1)
    offset = 1 << (bits - 1)
    mn_arr = F.array(*[F.lit(mn) for mn, _ in ranges])
    sc_arr = F.array(*[
        F.lit(((mx - mn) / levels) if mx > mn else 0.0)
        for mn, mx in ranges])
    deq = F.zip_with(
        F.zip_with(F.col(q_col), sc_arr,
                   lambda q, s: (q.cast("double") + F.lit(offset)) * s),
        mn_arr, lambda x, mn: x + mn)
    return df.withColumn(out_col, deq)


def quantization_error_stats(df: DataFrame, ranges: "list[tuple]",
                             vec_col: str = "embedding",
                             bits: int = 8) -> DataFrame:
    """Per-dimension reconstruction audit of the quantize→dequantize
    roundtrip: ``(dim, n, mn, mx, max_abs_err, mean_abs_err)`` — run
    it once before committing a corpus to int8 to see which dims (if
    any) carry outlier ranges that eat the precision budget.

    Same plan as ``embedding_dim_stats``: quantize/dequantize are row
    expressions, one posexplode, map-side-combined groupBy(dim).
    """
    q = quantize_embeddings(df, ranges, vec_col=vec_col,
                            out_col="__q", bits=bits)
    deq = dequantize_embeddings(q, ranges, q_col="__q",
                                out_col="__deq", bits=bits)
    err = deq.select(F.posexplode(
        F.zip_with(F.col(vec_col), F.col("__deq"),
                   lambda a, b: F.abs(a.cast("double") - b)))
        .alias("dim", "__e"))
    stats = (err.groupBy("dim")
             .agg(F.count("__e").alias("n"),
                  F.max("__e").alias("max_abs_err"),
                  F.avg("__e").alias("mean_abs_err")))
    rng = [(d, float(mn), float(mx)) for d, (mn, mx) in enumerate(ranges)]
    rdf = df.sparkSession.createDataFrame(
        rng, "dim int, mn double, mx double")
    return (stats.join(F.broadcast(rdf), "dim")
            .select("dim", "n", "mn", "mx", "max_abs_err",
                    "mean_abs_err").orderBy("dim"))


def knn_bruteforce_quantized(corpus_q8: DataFrame, queries: DataFrame,
                             ranges: "list[tuple]",
                             id_col: str = "vec_id",
                             q_col: str = "embedding_q8",
                             vec_col: str = "embedding",
                             k: int = 10, metric: str = "cosine",
                             sub_partitions: int = 32) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over an int8-quantized corpus:
    FLOAT queries scored against the dequantized-inline corpus codes —
    the standard PQ-style search shape.  The corpus on disk / in cache
    is the 4x-smaller ``array<tinyint>``; dequantization is a pure row
    expression fused into the scoring scan, so the IO and memory
    savings survive end to end (nothing rematerializes float vectors).

    Same contract and two-phase top-k as :func:`knn_bruteforce`; ranks
    can differ from exact float search only where the margin between
    neighbors is below the quantization step — gate with a recall
    check (oracle: ``ann_recall_gates`` method=q8) like any other
    approximate index.
    """
    deq = dequantize_embeddings(corpus_q8, ranges, q_col=q_col,
                                out_col="__deqv")
    c = deq.select(F.col(id_col), F.col("__deqv").alias(vec_col))
    return knn_bruteforce(c, queries, id_col=id_col, vec_col=vec_col,
                          k=k, metric=metric,
                          sub_partitions=sub_partitions)


def label_centroids(df: DataFrame, emb_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean vector — ``(label, n, centroid array<double>)``.
    The class-prototype state for embedding-quality diagnostics and
    nearest-centroid assignment.

    Plan: posexplode → (label, dim) map-side-combined avg (#labels ×
    #dims rows — state, not data) → arrays reassembled with a sorted
    collect_list.  Rows with NULL label or NULL embedding are excluded.

    ``n`` is the PRE-explode labeled-row count, and ragged array
    lengths or NULL elements inside arrays raise at execution time
    (uniform non-NULL lengths required): averaging each dim over its
    own per-dim denominator would silently skew centroids and every
    consumer (:func:`centroid_margin_stats`) downstream.
    """
    base = (df.where(F.col(label_col).isNotNull()
                     & F.col(emb_col).isNotNull())
            .select(F.col(label_col).alias("label"),
                    F.col(emb_col).alias("__e")))
    nrows = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    d = base.select("label", F.posexplode(F.col("__e"))
                    .alias("dim", "v"))
    per_dim = (d.groupBy("label", "dim")
               .agg(F.avg(F.col("v").cast("double")).alias("cv"),
                    F.count(F.lit(1)).alias("__n"),
                    F.count("v").alias("__nv")))
    cent = (per_dim.groupBy("label")
            .agg(F.min("__n").alias("__lo"),
                 F.max("__n").alias("__hi"),
                 F.min("__nv").alias("__lov"),
                 F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("dim", "cv"))),
                     lambda s: s["cv"]).alias("__cent")))
    ok = ((F.col("__lo") == F.col("n")) & (F.col("__hi") == F.col("n"))
          & (F.col("__lov") == F.col("n")))
    return (cent.join(F.broadcast(nrows), "label")
            .select("label", "n",
                    F.when(ok, F.col("__cent"))
                    .otherwise(F.raise_error(F.lit(
                        "label_centroids: ragged array lengths or "
                        "NULL elements in the embedding column "
                        "(uniform non-NULL lengths required)")))
                    .alias("centroid")))


def centroid_margin_stats(df: DataFrame, emb_col: str = "embedding",
                          label_col: str = "label",
                          id_col: str = "vec_id") -> DataFrame:
    """Label-coherence report from nearest-centroid margins: one row
    per label — ``(label, n, avg_own_cos, avg_margin, n_neg_margin)``
    where ``margin`` = cosine to the OWN label centroid minus the best
    cosine to any OTHER centroid.  Negative margins mark points that
    sit closer to another class — mislabeled data, collapsed classes,
    or an embedding model that cannot separate them; ``avg_margin``
    per label ranks which classes are clean.

    Scale contract: #labels is assumed SMALL (the centroid frame
    broadcasts); the per-point work is #labels cosines via one
    zip_with fold each.  The corpus streams once — no self-join.
    """
    cents = label_centroids(df, emb_col, label_col)
    base = (df.where(F.col(label_col).isNotNull()
                     & F.col(emb_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(label_col).alias("__lbl"),
                    F.col(emb_col).alias("__e")))
    c = (cents.select(F.col("label").alias("__clbl"),
                      F.col("centroid").alias("__c")))
    scored = (base.crossJoin(F.broadcast(c))
              .select("__id", "__lbl", "__clbl",
                      safe_cosine(
                          dot(F.col("__e"), F.col("__c")),
                          l2_norm(F.col("__e")),
                          l2_norm(F.col("__c"))).alias("__cos")))
    per_pt = (scored.groupBy("__id", "__lbl")
              .agg(F.max(F.when(F.col("__clbl") == F.col("__lbl"),
                                F.col("__cos"))).alias("__own"),
                   F.max(F.when(F.col("__clbl") != F.col("__lbl"),
                                F.col("__cos"))).alias("__other")))
    margin = F.col("__own") - F.col("__other")
    return (per_pt.groupBy(F.col("__lbl").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.avg("__own").alias("avg_own_cos"),
                 F.avg(margin).alias("avg_margin"),
                 F.sum(F.when(margin < 0, 1).otherwise(0)).cast("long")
                 .alias("n_neg_margin")))


def rrf_fuse(rankings: "Sequence[DataFrame]", id_col: str = "doc_id",
             rank_col: str = "rank", k: float = 60.0,
             weights: "Sequence[float] | None" = None,
             query_col: "str | None" = None,
             top_k: "int | None" = None) -> DataFrame:
    """Reciprocal-rank fusion of N rankings — the standard hybrid-
    retrieval combiner (Cormack/Clarke/Buettcher 2009: score(d) =
    Σ_i w_i / (k + rank_i(d))), used to merge sparse (``bm25_topk``)
    and dense (``knn_bruteforce`` / ``ann_*``) candidate lists without
    score calibration: only RANKS enter, so BM25's unbounded scores
    and cosine's [-1,1] never need to be commensurated.

    Each input frame carries ``(id_col, rank_col)`` (1-based ranks;
    plus ``query_col`` for per-query fusion).  Documents absent from a
    list contribute nothing for it (the standard convention).  Output:
    one row per (query,) document — ``rrf_score``, ``n_lists`` (how
    many lists proposed it), ``best_rank``, and ``fused_rank``
    (dense 1-based, ties broken by id).  ``top_k`` keeps the head.

    Scale: inputs are TOP-K LISTS by construction (bm25_topk / knn
    already bound them), so the union is Σ|lists| rows — bounded
    state, not corpus data.  ONE groupBy on (query, id) fuses; the
    final rank is a window over that bounded frame (per query when
    ``query_col`` is given; a single-partition window otherwise —
    acceptable ONLY because the frame is ≤ Σ k_i rows, which is the
    documented contract; never feed full corpora here).
    """
    from pyspark.sql import Window
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k <= 0:
        raise ValueError(f"k must be > 0: {k}")
    ws = [1.0] * len(rankings) if weights is None else \
        [float(w) for w in weights]
    if len(ws) != len(rankings):
        raise ValueError(f"weights length {len(ws)} != rankings "
                         f"length {len(rankings)}")
    keys = [query_col] if query_col else []
    parts = []
    for rdf, w in zip(rankings, ws):
        r = F.col(rank_col).cast("double")
        parts.append(
            rdf.where(F.col(id_col).isNotNull())
            .select(*keys, F.col(id_col),
                    (F.lit(w) / (F.lit(float(k)) + r))
                    .alias("__contrib"),
                    F.col(rank_col).cast("long").alias("__r")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    g = (u.groupBy(*keys, id_col)
         .agg(F.sum("__contrib").alias("rrf_score"),
              F.count(F.lit(1)).cast("long").alias("n_lists"),
              F.min("__r").alias("best_rank")))
    wspec = (Window.partitionBy(*keys) if keys
             else Window.partitionBy(F.lit(0)))
    wspec = wspec.orderBy(F.desc("rrf_score"), F.asc(id_col))
    out = g.withColumn("fused_rank",
                       F.row_number().over(wspec).cast("long"))
    if top_k is not None:
        if top_k < 1:
            raise ValueError(f"top_k must be >= 1: {top_k}")
        out = out.where(F.col("fused_rank") <= top_k)
    return out


def top_component(df: DataFrame, vec_col: str = "embedding",
                  n_iter: int = 3) -> dict:
    """Dominant principal component of an embedding corpus by POWER
    ITERATION — the anisotropy diagnostic (Ethayarajh 2019: contextual
    embeddings often collapse toward one direction; a high
    ``anisotropy`` ratio means cosine similarities are dominated by
    the common direction, hurting retrieval/dedup discrimination).

    Returns ``{"n", "dim", "component" (unit list), "lambda1",
    "trace", "anisotropy"}`` where ``lambda1`` is the Rayleigh
    estimate vᵀCv of the top covariance eigenvalue, ``trace`` the
    total variance, and ``anisotropy = lambda1 / trace`` ∈ (0, 1]
    (1/dim ≈ isotropic, → 1 = collapsed).

    Plan — the covariance matrix is NEVER materialized (d² sums for
    d=1024 would be a million aggregate expressions): each power step
    computes ``w = Σ_rows (x−μ)·((x−μ)ᵀv)`` as ONE map-side-combined
    aggregate — the per-row projection ``s`` is a single d-fold
    materialized in its own column (referenced d+1 times, so Catalyst
    does not re-inline it — the kmeans_assign lesson), followed by d
    sums of ``s·(x_i−μ_i)``.  Normalization happens driver-side on the
    O(d) state.  Deterministic start ``v0 = 1/√d`` and a FIXED
    ``n_iter`` keep the run replayable (convergence is geometric in
    λ1/λ2 — 3 steps separate a dominant direction; raise for
    near-degenerate spectra).  NULL vectors are excluded; uniform
    dims assumed (embeddings contract).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    base = (df.where(F.col(vec_col).isNotNull())
            .select(F.transform(F.col(vec_col),
                                lambda x: x.cast("double")).alias("__v"))
            .persist())
    try:
        # pass 1: n, per-dim mean and raw second moment (trace)
        first = base.select("__v").first()
        if first is None:
            raise ValueError("top_component: no non-NULL vectors")
        d = len(first["__v"])
        stats = base.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("__v", i + 1)).alias(f"s{i}")
              for i in range(d)],
            *[F.sum(F.element_at("__v", i + 1)
                    * F.element_at("__v", i + 1)).alias(f"q{i}")
              for i in range(d)]).collect()[0]
        n = stats["n"]
        if n < 2:
            raise ValueError(f"top_component: need >= 2 rows, got {n}")
        mu = [stats[f"s{i}"] / n for i in range(d)]
        # sample covariance trace: Σ (q_i − n·μ_i²) / (n−1)
        trace = sum((stats[f"q{i}"] - n * mu[i] * mu[i])
                    for i in range(d)) / (n - 1)
        v = [1.0 / (d ** 0.5)] * d
        lam = None
        for _ in range(n_iter):
            mu_lit = F.array(*[F.lit(m) for m in mu])
            v_lit = F.array(*[F.lit(x) for x in v])
            centered = F.zip_with(F.col("__v"), mu_lit,
                                  lambda a, b: a - b)
            s = F.aggregate(F.zip_with(centered, v_lit,
                                       lambda a, b: a * b),
                            F.lit(0.0), lambda acc, x: acc + x)
            staged = base.select(F.col("__v"), s.alias("__s"))
            w_row = staged.agg(
                F.sum(F.col("__s") * F.col("__s")).alias("ss"),
                *[F.sum(F.col("__s")
                        * (F.element_at("__v", i + 1) - F.lit(mu[i])))
                  .alias(f"w{i}") for i in range(d)]).collect()[0]
            lam = w_row["ss"] / (n - 1)          # Rayleigh vᵀCv
            w = [w_row[f"w{i}"] for i in range(d)]
            norm = sum(x * x for x in w) ** 0.5
            if norm == 0:                        # exactly degenerate
                break
            v = [x / norm for x in w]
        return {"n": int(n), "dim": d, "component": v,
                "lambda1": float(lam), "trace": float(trace),
                "anisotropy": float(lam / trace) if trace > 0
                else None}
    finally:
        base.unpersist()


def standardize_stats(df: DataFrame,
                      vec_col: str = "embedding") -> "list[tuple]":
    """Per-dimension (mean, stddev_samp) of an embedding corpus —
    the FROZEN state :func:`standardize_embeddings` applies (same
    freeze-the-config contract as ``quantization_ranges``: compute
    once on a reference corpus, store, apply to every later batch so
    day-2 data is standardized in the SAME coordinate system).
    O(#dims) driver rows via ``embedding_dim_stats``."""
    rows = embedding_dim_stats(df, vec_col).orderBy("dim").collect()
    return [(float(r["mean"]), float(r["std"]) if r["std"] is not None
             else 0.0) for r in rows]


def standardize_embeddings(df: DataFrame, stats: "list[tuple]",
                           vec_col: str = "embedding",
                           out_col: str = "embedding_std") -> DataFrame:
    """Per-dimension standardization ``(x − μ_i) / σ_i`` under frozen
    ``stats`` — the whitening-lite preprocessing that removes per-dim
    scale skew before L2/cosine search or k-means (a dimension with
    10× the variance otherwise dominates every distance).  Dimensions
    with σ = 0 (constant in the reference corpus) map to 0.0 — they
    carry no signal, and emitting ±inf would poison every downstream
    fold.

    Pure row expression (two zip_with passes fused by codegen-free
    HOF evaluation) — zero shuffles, zero Python; NULL vectors pass
    through as NULL.
    """
    if not stats:
        raise ValueError("stats must be non-empty")
    mu = F.array(*[F.lit(float(m)) for m, _ in stats])
    sd = F.array(*[F.lit(float(s)) for _, s in stats])
    v = F.transform(_cc(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(v, mu, lambda a, b: a - b)
    scaled = F.zip_with(centered, sd,
                        lambda a, s: F.when(s != 0, a / s)
                        .otherwise(F.lit(0.0)))
    return df.withColumn(out_col,
                         F.when(_cc(vec_col).isNotNull(), scaled))


def _cc(col):
    return F.col(col) if isinstance(col, str) else col


def rademacher_signs(in_dim: int, out_dim: int,
                     seed: int = 0) -> "list[list[float]]":
    """The deterministic ±1 projection matrix :func:`random_projection`
    uses, computed driver-side: ``sign[j][i] = +1`` iff the md5 of
    ``"{seed}:{i}:{j}"`` has an even 60-bit hex prefix — the repo's
    engine-portable md5 arithmetic, so DuckDB (or any engine with
    md5) derives the identical matrix from the same formula.
    Returned as out_dim lists of in_dim floats."""
    import hashlib
    out = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
            row.append(1.0 if int(h[:15], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def random_projection(df: DataFrame, in_dim: int, out_dim: int,
                      seed: int = 0, vec_col: str = "embedding",
                      out_col: str = "embedding_rp",
                      validate: bool = True) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map ``in_dim``-d
    embeddings to ``out_dim`` dimensions with a deterministic
    Rademacher (±1/√out_dim) matrix — pairwise distances/cosines are
    preserved within ~ε for out_dim ≈ 8·ln(n)/ε² (Achlioptas 2003,
    database-friendly JL).  The pre-filter that makes 100 TB
    similarity search tractable: run :func:`knn_bruteforce`/
    :func:`ann_ivf` candidate generation in the projected space
    (4–12× less IO and compute), then re-score survivors on the full
    vectors.

    The matrix is :func:`rademacher_signs` — pure md5 arithmetic, so
    the SAME projection comes out on every run, engine, and
    partitioning (a `randn()` matrix would silently differ between
    the index build and the query side).  NULL vectors pass through
    as NULL; a non-NULL vector whose length differs from ``in_dim``
    raises at execution (silent truncation would corrupt distances).

    Scale: out_dim signed element sums per row — indexed-element
    expressions (GetArrayItem chains), ZERO shuffle, no UDF, pure
    whole-stage codegen.  NOT higher-order zip_with/aggregate folds:
    those run interpreted per-element closures — measured 25.4s vs
    4.1s (6×) on 500k×128→16 for the identical arithmetic.  The
    matrix travels as expression signs, never a join.

    ``validate`` (default True) wraps the output in the NULL-vector /
    wrong-length guard (NULL passthrough, raise on mismatch).  The
    guard is a CASE around the projection — measured ~4× slower
    (17s vs 4s warm on 500k×128→16): the CASE inlines the whole
    out_dim×in_dim expression into one branch, which Spark cannot
    split into codegen-able methods, and ``raise_error`` adds its own
    penalty.  ``validate=False`` is the 100 TB path ONCE lengths are
    known-uniform (e.g. after ``embedding_dim_stats``): NULL or
    wrong-length vectors then yield NULL components via ``F.get``
    propagation (shorter arrays → every component NULL; LONGER
    arrays silently project the first ``in_dim`` elements — that is
    the one case only ``validate=True`` catches loudly).
    """
    if in_dim < 1 or out_dim < 1:
        raise ValueError(f"need in_dim/out_dim >= 1: "
                         f"{in_dim}, {out_dim}")
    if vec_col not in df.columns:
        raise ValueError(f"missing column: {vec_col!r}")
    signs = rademacher_signs(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    v = F.col(vec_col)
    # Stage 1: each component its own column — a single CASE wrapping
    # the full out_dim×in_dim expression exceeds the codegen method
    # budget and drops the WHOLE projection to interpreted eval
    # (measured 33.7s vs 4-5s for the same arithmetic split per
    # column).  F.get (not v[i]) so a short array yields NULL terms
    # instead of an ANSI index error racing the stage-2 guard.
    comps = []
    for j in range(out_dim):
        acc = None
        for i in range(in_dim):
            term = (F.get(v, i).cast("double") if signs[j][i] > 0
                    else -F.get(v, i).cast("double"))
            acc = term if acc is None else acc + term
        comps.append((acc * F.lit(scale)).alias(f"__rp{j}"))
    staged = df.select("*", *comps)
    proj = F.array(*[F.col(f"__rp{j}") for j in range(out_dim)])
    if validate:
        out = (F.when(v.isNull(), F.lit(None).cast("array<double>"))
               .when(F.size(v) == in_dim, proj)
               .otherwise(F.raise_error(F.concat(
                   F.lit(f"random_projection: vector length != "
                         f"{in_dim}: "),
                   F.size(v).cast("string"))).cast("array<double>")))
    else:
        out = proj
    return (staged.withColumn(out_col, out)
            .drop(*[f"__rp{j}" for j in range(out_dim)]))


#: hard cap on the PCA input dimension: the d×d covariance Gramian
#: and its eigendecomposition are driver/BLAS-sized state; past 1024
#: dims a JL projection (:func:`random_projection`) first is the
#: intended path (and the frozen-state dict stops being "small").
PCA_MAX_DIM = 1024


def pca_fit(df: DataFrame, k: int = 8,
            vec_col: str = "embedding",
            dim: "int | None" = None) -> dict:
    """Fit a PCA basis over an embedding corpus as DRIVER literals —
    the data-aware counterpart of :func:`random_projection` (JL
    preserves distances obliviously; PCA concentrates the variance,
    so the same out-dim keeps MORE of the corpus structure), and the
    same freeze-the-config contract as ``quantization_ranges`` /
    ``standardize_stats``: fit once on a reference corpus, store,
    apply to every later batch in the SAME coordinate system.

    Returns ``{"n", "dim", "k", "mean": [d], "components": [k][d]
    (orthonormal rows, descending variance, sign-normalized so each
    component's largest-|coordinate| entry is positive — eigenvector
    sign is otherwise arbitrary), "explained_variance": [k],
    "explained_variance_ratio": [k], "total_variance": float}``.

    Scale: a cheap one-pass aggregate (2d + 2 columns: element sums /
    sum-squares for the mean, the per-dim variance trace — both
    accumulated about a pilot point (the first row) so a large common
    offset can't cancel catastrophically — and the loud ragged-vector
    count), then ``pyspark.ml.feature.PCA`` for
    the component basis — the JVM-BLAS Gramian path (per-row ``dspr``
    rank-1 updates tree-aggregated; the ml.stat precedent
    ``correlation_matrix`` already rides for wide inputs).  Measured
    20× faster than the same covariance as a d(d+1)/2-column SQL
    aggregate at 2M×64d (1.6s vs 32.3s warm): past ~100 aggregate
    columns whole-stage codegen falls back while BLAS keeps
    streaming.  Eigenvalues come back as ml's explained-variance
    RATIOS times the sample-variance trace, so the returned
    ``explained_variance`` is in sample (n−1) normalization exactly
    like ``np.cov``.  NULL vectors are excluded; a non-NULL vector
    whose length differs from ``dim`` raises (silent ragged input
    would corrupt every co-moment).
    """
    v = F.col(vec_col)
    first = (df.where(v.isNotNull())
             .select(F.size(v).alias("__d"), v.alias("__p")).first())
    if first is None:
        raise ValueError("pca_fit: no non-NULL vectors")
    if dim is None:
        dim = int(first["__d"])
    if not 1 <= dim <= PCA_MAX_DIM:
        raise ValueError(
            f"pca_fit: dim must be in [1, {PCA_MAX_DIM}] (project "
            f"down with random_projection first): {dim}")
    if not 1 <= k <= dim:
        raise ValueError(f"pca_fit: k must be in [1, dim={dim}]: {k}")
    # one CASE per ROW (not per term — the random_projection guard
    # lesson): wrong-length vectors null out and are counted loudly
    staged = df.where(v.isNotNull()).select(
        F.when(F.size(v) == dim, v).alias("__v"),
        F.when(F.size(v) != dim, 1).otherwise(0).alias("__bad"))
    # Moments are accumulated about a PILOT point (the first row's
    # values, literal-folded) instead of about 0: sum(x²)−(sum x)²/n
    # cancels catastrophically when the common offset dwarfs the
    # spread, while the same formula on pilot-shifted values is
    # numerically benign because the shifted values straddle zero.
    pilot = [float(x) if x is not None else 0.0
             for x in (first["__p"][:dim] if len(first["__p"]) >= dim
                       else list(first["__p"]) + [0.0] * dim)]
    gv = [F.get(F.col("__v"), i).cast("double") - F.lit(pilot[i])
          for i in range(dim)]
    aggs = [F.count("__v").cast("long").alias("__n"),
            F.sum("__bad").cast("long").alias("__nbad")]
    aggs += [F.sum(gv[i]).alias(f"__s{i}") for i in range(dim)]
    aggs += [F.sum(gv[i] * gv[i]).alias(f"__q{i}")
             for i in range(dim)]
    row = staged.agg(*aggs).collect()[0]
    if row["__nbad"]:
        raise ValueError(
            f"pca_fit: {row['__nbad']} vector(s) with length != "
            f"{dim} — ragged input would corrupt the covariance")
    n = row["__n"]
    if n < 2:
        raise ValueError(f"pca_fit: need >= 2 vectors, got {n}")
    mean = [pilot[i] + row[f"__s{i}"] / n for i in range(dim)]
    total = max(sum(
        max(row[f"__q{i}"] - row[f"__s{i}"] * row[f"__s{i}"] / n, 0.0)
        / (n - 1) for i in range(dim)), 0.0)

    from pyspark.ml.feature import PCA as _MLPCA
    from pyspark.ml.functions import array_to_vector
    vdf = (staged.where(F.col("__v").isNotNull())
           .select(array_to_vector(
               F.transform(F.col("__v"),
                           lambda x: x.cast("double")))
               .alias("features")))
    model = _MLPCA(k=k, inputCol="features",
                   outputCol="__pc").fit(vdf)
    import numpy as np
    pc = model.pc.toArray()                     # dim x k columns
    ratios = model.explainedVariance.toArray()  # descending
    comps, evs = [], []
    for j in range(k):
        comp = pc[:, j]
        pivot = int(np.argmax(np.abs(comp)))
        if comp[pivot] < 0:
            comp = -comp
        comps.append([float(x) for x in comp])
        evs.append(max(float(ratios[j]) * total, 0.0))
    return {
        "n": int(n), "dim": dim, "k": k,
        "mean": [float(x) for x in mean],
        "components": comps,
        "explained_variance": evs,
        "explained_variance_ratio": [
            (ev / total if total > 0 else 0.0) for ev in evs],
        "total_variance": total,
    }


def pca_project(df: DataFrame, state: dict,
                vec_col: str = "embedding",
                out_col: str = "embedding_pca",
                validate: bool = True) -> DataFrame:
    """Project embeddings onto a frozen :func:`pca_fit` basis:
    ``out[j] = Σ_i (v[i] − μ[i])·C[j][i]`` — the centering offset
    constant-folds into one scalar per component, so the row cost is
    exactly ``k`` indexed-element dot products (the
    :func:`random_projection` spelling: GetArrayItem chains, pure
    whole-stage codegen, ZERO shuffle, no Python).  NULL vectors pass
    through as NULL; with ``validate`` (default) a wrong-length
    vector raises at execution, without it the components go NULL via
    ``F.get`` propagation (the 100 TB path once lengths are
    known-uniform — same trade as ``random_projection``).
    """
    dim, k = state["dim"], state["k"]
    comps, mu = state["components"], state["mean"]
    offsets = [sum(m * c for m, c in zip(mu, comp))
               for comp in comps]
    v = F.col(vec_col)
    staged = df
    comp_cols = []
    for j in range(k):
        term = None
        for i in range(dim):
            t = F.get(v, i).cast("double") * F.lit(comps[j][i])
            term = t if term is None else term + t
        # each dot product in its OWN projection column (SPARK-36718 /
        # rule 2): the array() below then references attributes
        staged = staged.withColumn(f"__pc{j}",
                                   term - F.lit(offsets[j]))
        comp_cols.append(F.col(f"__pc{j}"))
    arr = F.array(*comp_cols)
    if validate:
        out = (F.when(v.isNull(), F.lit(None).cast("array<double>"))
               .when(F.size(v) == dim, arr)
               .otherwise(F.raise_error(F.concat(
                   F.lit(f"pca_project: vector length != {dim}: "),
                   F.size(v).cast("string"))).cast("array<double>")))
    else:
        out = arr
    return (staged.withColumn(out_col, out)
            .drop(*[f"__pc{j}" for j in range(k)]))


def knn_projected_rerank(corpus: DataFrame, queries: DataFrame,
                         in_dim: int, proj_dim: int,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         k: int = 10, rerank_k: "int | None" = None,
                         seed: int = 0,
                         validate: bool = True) -> DataFrame:
    """Two-stage ANN: generate ``rerank_k`` candidates per query with
    :func:`knn_bruteforce` in the :func:`random_projection`-ed
    ``proj_dim`` space (4–12× less IO/compute on the dominant
    O(corpus × queries × dim) stage), then re-score ONLY the
    candidates with exact full-dimension cosine and keep the top
    ``k``.  Output matches :func:`knn_bruteforce`'s shape
    (query_id, neighbor_id, sim, rank) with ``sim`` the EXACT cosine
    — approximation affects only which candidates were considered.

    ``rerank_k`` defaults to 4·k; raise it to trade compute for
    recall (JL distortion shrinks as proj_dim grows — out_dim ≈
    8·ln(n)/ε²).  The projection matrix is md5-deterministic, so the
    corpus side can be projected once, written, and reused by every
    query batch (``seed`` must match).

    Scale: stage 1 streams the corpus once against broadcast
    projected queries at proj_dim cost; stage 2 touches
    |queries|·rerank_k full vectors via an id-keyed join — never the
    whole corpus at full dimension.

    The projected frames are **materialized** (``localCheckpoint``)
    before entering stage 1: without the barrier, Catalyst's project
    collapse inlines each projected component's in_dim-term sum into
    ``dot``'s per-PAIR evaluation — the k-means-assignment bug shape —
    re-computing the whole projection |corpus|·|queries| times and
    blowing the 64 KB codegen method budget (r11 rehearsal measured
    79.8s vs 4.4s after the barrier on 200k×64d→16d, 100 queries —
    SLOWER than exact brute force until fixed).  Materializing the
    projected corpus once is also the honest 100 TB shape: project →
    write → reuse across every query batch.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    rk = rerank_k if rerank_k is not None else 4 * k
    if rk < k:
        raise ValueError(f"rerank_k must be >= k: {rk} < {k}")
    cp = (random_projection(corpus, in_dim, proj_dim, seed=seed,
                            vec_col=vec_col, out_col="__rp",
                            validate=validate)
          .select(F.col(id_col), F.col("__rp").alias(vec_col))
          .localCheckpoint())
    qp = (random_projection(queries, in_dim, proj_dim, seed=seed,
                            vec_col=vec_col, out_col="__rp",
                            validate=validate)
          .select(F.col(id_col), F.col("__rp").alias(vec_col))
          .localCheckpoint())
    cands = knn_bruteforce(cp, qp, id_col=id_col, vec_col=vec_col,
                           k=rk).select("query_id", "neighbor_id")
    cfull = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("__cv"),
                          l2_norm(F.col(vec_col)).alias("__cn"))
    qfull = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("__qv"),
                           l2_norm(F.col(vec_col)).alias("__qn"))
    scored = (cands.join(cfull, "neighbor_id")
              .join(F.broadcast(qfull), "query_id")
              .select("query_id", "neighbor_id",
                      safe_cosine(dot(F.col("__qv"), F.col("__cv")),
                                  F.col("__qn"), F.col("__cn"))
                      .alias("sim"))
              .where(F.col("sim").isNotNull()))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def diversity_stats(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    sample_k: int = 200, seed: int = 0,
                    hi_threshold: float = 0.9) -> DataFrame:
    """Corpus embedding DIVERSITY in one row: mean/std pairwise cosine
    and the high-similarity share over a deterministic ``sample_k``
    sample — the "is my corpus collapsing toward boilerplate" dial
    (mean cosine drifting up across snapshots = homogenization;
    :func:`top_component`'s anisotropy is the spectral cousin, this
    is the direct pairwise read).  Sampling is md5-rank deterministic
    (:mod:`operators.sampling` contract) so the metric is comparable
    across runs and engines; NULL vectors and zero-norm vectors are
    excluded before ranking.

    Output: ``(n_sampled, n_pairs, mean_cos, std_cos, p_hi)`` — p_hi
    = fraction of pairs with cosine > ``hi_threshold``.  NULL stats
    when fewer than 2 sampleable vectors.

    Scale: the corpus pays ONE scan (norm filter + md5 rank via a
    distributed TakeOrdered limit — no global window); the pair join
    is sample_k² / 2 rows regardless of corpus size.
    """
    if sample_k < 2:
        raise ValueError(f"sample_k must be >= 2: {sample_k}")
    from spark_df_profiling_spark.operators.sampling import hash_bucket
    base = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).alias("__v"))
            .where(F.col("__id").isNotNull() & F.col("__v").isNotNull())
            .withColumn("__n", l2_norm(F.col("__v")))
            .where(F.col("__n") > 0))
    samp = (base.orderBy(hash_bucket(F.col("__id"), seed).asc(),
                         F.col("__id").asc())
            .limit(sample_k)
            .localCheckpoint())  # freeze: both join sides reuse it
    pairs = (samp.alias("a")
             .join(samp.alias("b"),
                   F.col("a.__id") < F.col("b.__id"))
             .select(safe_cosine(
                 dot(F.col("a.__v"), F.col("b.__v")),
                 F.col("a.__n"), F.col("b.__n")).alias("__c")))
    n = samp.count()
    return (pairs.agg(
        F.lit(n).alias("n_sampled"),
        F.count("__c").alias("n_pairs"),
        F.avg("__c").alias("mean_cos"),
        F.stddev_samp("__c").alias("std_cos"),
        F.when(F.count("__c") > 0,
               F.sum(F.when(F.col("__c") > hi_threshold, 1)
                     .otherwise(0)).cast("double") / F.count("__c"))
        .alias("p_hi")))


def knn_classify(corpus: DataFrame, queries: DataFrame,
                 label_col: str = "label", id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 10,
                 metric: str = "cosine",
                 sub_partitions: int = 32) -> DataFrame:
    """Weak labeling by k-nearest-neighbor majority vote: classify each
    query embedding from the labels of its ``k`` nearest corpus rows —
    the standard bootstrap for label-scarce training-data pipelines
    (label 1% by hand / by a judge model, kNN-propagate to the rest,
    then threshold on ``confidence``).  One row per query:
    ``(query_id, label, votes, n_neighbors, confidence, total_sim)``
    with ``confidence = votes / n_neighbors``.  The winner is the
    label with the most votes; ties break to the larger summed
    similarity, then the smaller label (fully deterministic, so DuckDB
    replays the exact election).  Corpus rows with NULL labels are
    excluded BEFORE the search — they can neither vote nor crowd out
    labeled neighbors.  Queries with no valid neighbors (zero-norm /
    NULL vectors) emit no row, same as :func:`knn_bruteforce`.

    Scale: the search IS :func:`knn_bruteforce` (broadcast queries,
    two-phase salted top-k — its cost model and caps apply verbatim);
    the election adds one groupBy over |queries|·k rows.  For corpora
    past brute-force reach, generate candidates with :func:`ann_ivf` /
    :func:`knn_projected_rerank` and vote with a plain groupBy on its
    output joined to labels — this wrapper is the exact-oracle shape.
    """
    if label_col not in corpus.columns:
        raise ValueError(f"corpus missing column: {label_col!r}")
    labeled = corpus.where(F.col(label_col).isNotNull())
    nn = knn_bruteforce(labeled, queries, id_col=id_col,
                        vec_col=vec_col, k=k, metric=metric,
                        sub_partitions=sub_partitions)
    lab = labeled.select(F.col(id_col).alias("neighbor_id"),
                         F.col(label_col).alias("__lab"))
    votes = (nn.join(lab, "neighbor_id")
             .groupBy("query_id", "__lab")
             .agg(F.count(F.lit(1)).alias("votes"),
                  F.sum("sim").alias("total_sim")))
    wq = Window.partitionBy("query_id")
    elected = (votes
               .withColumn("n_neighbors",
                           F.sum("votes").over(wq).cast("long"))
               .withColumn("__r", F.row_number().over(
                   wq.orderBy(F.desc("votes"), F.desc("total_sim"),
                              F.asc("__lab"))))
               .where(F.col("__r") == 1))
    return elected.select(
        "query_id", F.col("__lab").alias(label_col),
        F.col("votes").cast("long").alias("votes"), "n_neighbors",
        (F.col("votes") / F.col("n_neighbors")).alias("confidence"),
        "total_sim")


def label_agreement_stats(corpus: DataFrame, label_col: str = "label",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding", k: int = 10,
                          suspect_below: float = 0.5,
                          metric: str = "cosine",
                          sub_partitions: int = 32,
                          audit_sample_k: "int | None" = None,
                          seed: int = 0) -> DataFrame:
    """Mislabel screening by neighborhood agreement: for every labeled
    row, the fraction of its ``k`` nearest (other) rows sharing its
    label — rows whose neighbors consistently disagree are the
    mislabel / class-overlap candidates every labeled training set
    accretes (the self-supervised twin of :func:`knn_classify`:
    classify the corpus against itself and compare to the claimed
    label).  One row per label: ``n`` rows carrying it,
    ``avg_agreement``, ``n_suspect`` (agreement < ``suspect_below``),
    ``p_suspect`` — a per-class health table; drill into suspects by
    re-running the inner join with a filter.  NULL-label rows are
    excluded entirely (cannot vote, cannot be screened).  Rows whose
    vectors produce no valid neighbors (zero-norm) drop out, so ``n``
    counts SCREENED rows.

    ``audit_sample_k`` is the scale mode (VERDICT r11 #2): screen only
    a DETERMINISTIC md5-rank sample of that many labeled rows (the
    :func:`diversity_stats` precedent — same rows every run and every
    engine) while neighbors still come from the FULL labeled corpus,
    so per-row agreement is unbiased and the per-class table is a
    sample estimate with ``n`` = sampled rows per class.  Cost drops
    from O(n²·d) to O(audit_sample_k·n·d).

    Scale: the search IS :func:`knn_bruteforce` with queries = the
    corpus itself, i.e. O(n²·d) exact scoring — the oracle-exact
    shape, intended for corpora within brute-force reach; past that
    use ``audit_sample_k`` (estimate over a deterministic sample), or
    generate candidates with a banded method (:func:`embedding_near_
    dup`) and vote with the same two joins.  The agreement fold is
    one |screened|·k groupBy + one per-label groupBy.
    """
    if not 0.0 <= suspect_below <= 1.0:
        raise ValueError(
            f"suspect_below must be in [0, 1]: {suspect_below}")
    if label_col not in corpus.columns:
        raise ValueError(f"corpus missing column: {label_col!r}")
    labeled = corpus.where(F.col(label_col).isNotNull())
    screened = labeled
    if audit_sample_k is not None:
        if audit_sample_k < 1:
            raise ValueError(
                f"audit_sample_k must be >= 1: {audit_sample_k}")
        from spark_df_profiling_spark.operators.sampling import (
            hash_bucket)
        # md5-rank deterministic sample (distributed TakeOrdered — no
        # global window); localCheckpoint freezes the row set so the
        # search and the join-backs see the same sample
        screened = (labeled
                    .orderBy(hash_bucket(F.col(id_col), seed).asc(),
                             F.col(id_col).asc())
                    .limit(audit_sample_k)
                    .localCheckpoint())
    nn = knn_bruteforce(labeled, screened, id_col=id_col,
                        vec_col=vec_col, k=k, metric=metric,
                        sub_partitions=sub_partitions)
    lab = labeled.select(F.col(id_col), F.col(label_col).alias("__l"))
    own = lab.select(F.col(id_col).alias("query_id"),
                     F.col("__l").alias("__own"))
    nbr = lab.select(F.col(id_col).alias("neighbor_id"),
                     F.col("__l").alias("__nl"))
    per_row = (nn.join(nbr, "neighbor_id")
               .join(own, "query_id")
               .groupBy("query_id", "__own")
               .agg((F.sum(F.when(F.col("__nl") == F.col("__own"), 1)
                           .otherwise(0))
                     / F.count(F.lit(1))).alias("__agree")))
    return (per_row.groupBy(F.col("__own").alias(label_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.avg("__agree").alias("avg_agreement"),
                 F.sum(F.when(F.col("__agree")
                              < F.lit(float(suspect_below)), 1)
                       .otherwise(0)).cast("long").alias("n_suspect"))
            .withColumn("p_suspect", F.col("n_suspect") / F.col("n")))


def mine_negatives(corpus: DataFrame, queries: DataFrame,
                   gold: DataFrame, k_hard: int = 5,
                   k_random: int = 5, seed: int = 0,
                   random_pool: int = 10_000,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   query_id_col: str = "query_id",
                   gold_doc_col: str = "doc_id") -> DataFrame:
    """Contrastive-training negative mining (the DPR / sentence-
    transformers recipe): per query, ``k_hard`` HARD negatives (the
    most similar corpus items that are NOT gold — the examples that
    actually move a retriever) plus ``k_random`` deterministic random
    negatives (the easy in-batch-style contrast).  One row per mined
    negative: ``(query_id, doc_id, kind, rank, sim)`` — ``sim`` only
    for hard negatives (random ones are never scored; that is the
    point of them being cheap).

    Hard path: :func:`knn_bruteforce` at ``k_hard + max_gold`` (the
    per-query gold maximum, one tiny aggregate) → anti-join gold →
    re-rank.  The standing caveat of hard mining applies and is the
    CALLER's modeling decision, not a bug here: an unlabeled true
    positive ranks as the hardest negative (filter near-duplicates
    first, or drop the top band).

    Random path: a deterministic md5-ranked pool of ``random_pool``
    corpus ids (frozen with ``localCheckpoint`` — rule-7: it sits on
    both sides of later joins) crossed with the BROADCAST query set
    (bounded by the same queries-are-small contract as
    :func:`knn_bruteforce`), gold and hard picks anti-joined away,
    then a per-query md5 priority rank — reproducible across runs,
    retries, and engines.

    Scale: the hard path IS knn_bruteforce (broadcast queries,
    salted two-phase top-k); the random path's widest frame is
    |queries| × random_pool.
    """
    from spark_df_profiling_spark.operators.sampling import (
        hash_bucket)

    if k_hard < 0 or k_random < 0 or k_hard + k_random == 0:
        raise ValueError(
            f"need k_hard >= 0, k_random >= 0, and at least one "
            f"positive: {k_hard}, {k_random}")
    if random_pool < 1:
        raise ValueError(f"random_pool must be >= 1: {random_pool}")
    for c in (query_id_col, gold_doc_col):
        if c not in gold.columns:
            raise ValueError(f"missing gold column: {c!r}")
    g = (gold.select(F.col(query_id_col).alias("__q"),
                     F.col(gold_doc_col).alias("__d"))
         .where(F.col("__q").isNotNull() & F.col("__d").isNotNull())
         .distinct())
    from pyspark.sql import Window
    out_parts = []
    if k_hard > 0:
        # max gold over the MINED queries only (review r12c: a global
        # max over a historical gold table inflates knn's k for no
        # benefit — semi-join first)
        mined_q = queries.select(
            F.col(id_col).alias("__q")).distinct()
        max_gold = (g.join(mined_q, "__q", "left_semi")
                    .groupBy("__q").agg(F.count(F.lit(1)).alias("c"))
                    .agg(F.max("c")).collect()[0][0]) or 0
        knn = knn_bruteforce(corpus, queries, id_col=id_col,
                             vec_col=emb_col, k=k_hard + max_gold)
        hard = (knn.join(
            g, (knn["query_id"] == g["__q"])
            & (knn["neighbor_id"] == g["__d"]), "left_anti"))
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id"))
        hard = (hard.withColumn("__rk", F.row_number().over(wq))
                .where(F.col("__rk") <= k_hard)
                .select(F.col("query_id"),
                        F.col("neighbor_id").alias("doc_id"),
                        F.lit("hard").alias("kind"),
                        F.col("__rk").alias("rank"),
                        F.col("sim")))
        out_parts.append(hard)
    if k_random > 0:
        ids = corpus.select(F.col(id_col).alias("doc_id")) \
            .where(F.col(id_col).isNotNull()).distinct()
        pool = (ids.orderBy(hash_bucket(F.col("doc_id"), seed).asc(),
                            F.col("doc_id").asc())
                .limit(random_pool).localCheckpoint())
        qs = queries.select(F.col(id_col).alias("query_id")) \
            .where(F.col(id_col).isNotNull()).distinct()
        cand = qs.crossJoin(F.broadcast(pool))
        cand = cand.join(
            g, (cand["query_id"] == g["__q"])
            & (cand["doc_id"] == g["__d"]), "left_anti")
        if k_hard > 0:
            hsel = out_parts[0].select("query_id", "doc_id")
            cand = cand.join(hsel, ["query_id", "doc_id"],
                             "left_anti")
        prio = hash_bucket(
            F.concat(F.col("query_id").cast("string"), F.lit("#"),
                     F.col("doc_id").cast("string")), seed)
        wr = Window.partitionBy("query_id").orderBy(
            prio.asc(), F.col("doc_id").asc())
        rand = (cand.withColumn("__rk", F.row_number().over(wr))
                .where(F.col("__rk") <= k_random)
                .select("query_id", "doc_id",
                        F.lit("random").alias("kind"),
                        F.col("__rk").alias("rank"),
                        F.lit(None).cast("double").alias("sim")))
        out_parts.append(rand)
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out

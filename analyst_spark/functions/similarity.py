"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force cosine top-k of a (small) query set
  against the corpus. The query side is broadcast, so the corpus is
  scanned once with no shuffle; per-row work is a 64-wide fused
  HigherOrderFunction (zip_with + aggregate) in the JVM — no Python.
  This is the exact baseline ANN evaluators compare against.
* ``lsh_bucket_topk`` — random-hyperplane (sign-LSH) bucketed
  variant: corpus and queries hash to sign-bit buckets; only matching
  buckets are compared. The scale path: at 100 TB the bucket join
  replaces the full scan per query batch.

All arithmetic in double precision, sequential over the vector — so
an oracle engine computing the same dot product sequentially matches
bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import persist
from analyst_spark.tables import spread


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


MAX_EXACT_QUERIES = 1024



def drop_null_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """NULL embedding rows cannot participate in any similarity
    computation — numpy batches see ``None`` (crash), Catalyst dots go
    NULL and can leak NULL-ranked rows. Every vector-consuming entry
    point drops them at the edge (the vector analog of the sink-side
    DROP_NULLS); found by the r7 null-corpus sweep, which crashed five
    operators on a corpus with NULL vectors."""
    return df.filter(F.col(vec_col).isNotNull())


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_queries: int | None = MAX_EXACT_QUERIES,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, vec_id, rank, cosine_sim), self-matches
    excluded, ties broken by corpus id ascending (deterministic).

    This is the EXACT baseline: a broadcast nested-loop scan of the
    whole corpus per query — cost is |queries| x |corpus| by
    definition. To stop a large query set from silently launching a
    quadratic job, the broadcast side is counted first and the call
    fails fast above ``max_queries`` (pass None to bypass once you
    know the cost is intended). The scale path for big query sets is
    ``lsh_bucket_topk`` / ``ivf_topk``.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    if max_queries is not None:
        n_q = queries.count()  # broadcast side: counting it is cheap
        if n_q > max_queries:
            raise ValueError(
                f"cosine_topk is the exact full-scan baseline: "
                f"{n_q} query vectors would each scan the entire "
                f"corpus (quadratic). Use ann_lsh_topk/ann_ivf_topk "
                f"for large query sets, or pass max_queries=None to "
                f"force the exact scan."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = spread(corpus, id_col).select(F.col(id_col), F.col(vec_col).alias("__cv"))
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), round_digits)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim")
    )


def hyperplane_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i) >= 0.

    Plane literals are built as one F.expr string per plane (a single
    py4j call) — building 64 F.lit columns per plane costs ~2s of
    driver time per query otherwise."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.expr("array(" + ",".join(f"{float(x)}D" for x in plane) + ")")
        d = F.aggregate(
            F.zip_with(vec, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(2 ** i).cast("long")).otherwise(0)
    return bucket


def _pseudo_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG dependency):
    a simple LCG keyed by (plane, coord), values in [-1, 1)."""
    planes = []
    state = 88172645463325252
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append((state % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def _apply_probe_filter(
    ranked: DataFrame,
    n_probe: int,
    probe_scale: float | None,
    n_cap: int,
) -> DataFrame:
    """Keep each query's probed centroids from a ranked
    (``__id``, ``__csim``, ``__crn``) frame.

    ``probe_scale=None`` → the classic fixed cut ``__crn <= n_probe``.
    Otherwise CONFIDENCE-SCALED probing (VERDICT r12 #1): the r12
    floor sweep measured recall@10 of 0.46–1.00 across disjoint query
    sets at fixed n_probe, and the failing queries are exactly the
    low-routing-confidence ones — best-centroid cosine ~0.2–0.35
    (far from every centroid, true neighbors scattered over up to 15
    of 16 lists) vs ~0.65+ for well-routed queries. So the effective
    probe count grows as confidence shrinks::

        n_eff = clip(ceil(probe_scale / best_csim), n_probe, n_cap)
        (best_csim <= 0  →  probe all n_cap lists)

    measured at probe_scale=3.0: sweep minimum 0.56/0.46 → 0.84/0.92
    at the two gate decades for ~1.7× the candidate rows (SCALE.md
    "r13: adaptive probing"). The rule is one extra window max over
    the SAME partition as the probe row_number — no new shuffle — and
    it is integer-exact (micro-units + integer ceil-division), so a
    DuckDB oracle reproduces it bit-for-bit (ann_ivf_adaptive).

    At 100 TB the cost model is unchanged: per-query work is still
    ~n_eff/n_centroids of the corpus; only the rare low-confidence
    queries pay a deeper probe, which is precisely the IVF serving
    policy (probe more when routing is ambiguous) every production
    deployment implements.
    """
    if probe_scale is None:
        return ranked.filter(F.col("__crn") <= n_probe)
    scale_micro = int(round(probe_scale * 1_000_000))
    best = F.max(
        F.expr("CAST(round(__csim * 1000000) AS BIGINT)")
    ).over(Window.partitionBy("__id"))
    # NULL best-cosine (zero-norm query: csim NULL against every
    # centroid) means zero routing confidence — probe all lists, like
    # __bm <= 0; without this the CASE is NULL and the query VANISHES
    # where fixed probing still kept n_probe rows (r13 advice)
    return ranked.withColumn("__bm", best).filter(
        F.expr(
            f"__crn <= (CASE WHEN __bm IS NULL OR __bm <= 0 THEN {n_cap} "
            f"ELSE least({n_cap}, greatest({n_probe}, "
            f"({scale_micro} + __bm - 1) DIV __bm)) END)"
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    probe_scale: float | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest
    centroid (inverted lists); each query probes only its ``n_probe``
    nearest lists instead of the full corpus.

    Default centroids are the ``n_centroids`` lowest-id corpus
    vectors — deterministic, so the whole plan is SQL-expressible and
    hash-checkable. Pass ``centroids`` (e.g. from ``kmeans_train``)
    to swap in trained lists — assignment, probe, and rescore stay
    identical; only the tiny broadcast side changes. Similarities are
    rounded to 6dp BEFORE ranking on both engines so float noise
    can't flip list order.

    At 100 TB the assignment is one broadcast pass over the corpus and
    candidate scoring touches ~n_probe/n_centroids of the data — the
    full-scan-per-query cost model brute force can't escape.

    ``probe_scale`` turns on per-query confidence-scaled probing
    (see :func:`_apply_probe_filter`): low-routing-confidence queries
    probe more lists, fixing the fixed-n_probe recall tail the r12
    floor sweep measured. Default ``None`` keeps the classic fixed
    probe (existing gate hashes unchanged).
    """
    if centroids is not None:
        cents = corpus.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            schema="centroid_id long, __cent array<double>",
        )
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("__cent"),
            )
        )
    sim_to_cent = F.round(cosine(F.col("__v"), F.col("__cent")), 6)

    def nearest(
        df: DataFrame, n: int, keep_vec: bool,
        scale: float | None = None,
    ) -> DataFrame:
        ranked = df.crossJoin(F.broadcast(cents)).withColumn(
            "__csim", sim_to_cent
        ).withColumn(
            "__crn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("__csim").desc(), F.col("centroid_id").asc()
                )
            ),
        )
        ranked = _apply_probe_filter(ranked, n, scale, n_centroids)
        cols = ["__id", "centroid_id"] + (["__v"] if keep_vec else [])
        return ranked.select(*cols)

    c = spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    q = queries.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    inv_lists = nearest(c, 1, keep_vec=True).select(
        F.col("__id").alias(id_col), "centroid_id", F.col("__v").alias("__cv")
    )
    probes = nearest(q, n_probe, keep_vec=True, scale=probe_scale).select(
        F.col("__id").alias("query_id"), "centroid_id", F.col("__v").alias("__qv")
    )
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    scored = (
        inv_lists.join(F.broadcast(probes), ["centroid_id"])
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-LSH
    bucket (2^num_planes buckets). Recall < 1 by design; the 100 TB
    path where a full scan per query is unaffordable."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    planes = _pseudo_planes(num_planes, dim)
    cb = spread(corpus, id_col).withColumn("__bucket", hyperplane_bits(F.col(vec_col), planes))
    qb = queries.withColumn("__bucket", hyperplane_bits(F.col(vec_col), planes))
    q = qb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "__bucket"
    )
    c = cb.select(F.col(id_col), F.col(vec_col).alias("__cv"), "__bucket")
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    scored = (
        c.join(F.broadcast(q), ["__bucket"])
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim")
    )


def band_signature_udf(bands: int, bits_per_band: int, dim: int):
    """Arrow-batched signature computation: all ``bands`` sign-LSH
    bucket ids for a vector in ONE vectorized pass.

    The pure-Catalyst formulation (``hyperplane_bits`` × 128 planes)
    builds an expression tree of 128 interpreted higher-order-function
    dot products per row — at 16 bands × 8 bits the plan *compiles*
    for tens of seconds before touching data. Here numpy does the
    same arithmetic per Arrow batch; per-row cost is a (dim × planes)
    fused multiply-add, embarrassingly parallel, no shuffle.

    Determinism contract: the accumulation loops over coordinates in
    index order, so each dot product is the exact left-to-right
    sequential FP sum the Catalyst/oracle ``aggregate`` expression
    computes. A colinear twin (all coordinates scaled by 2.0 — an
    exact FP exponent shift) therefore has bit-identical partial sums
    scaled by 2 and provably identical sign bits, independent of
    Arrow batch boundaries or BLAS kernel scheduling.

    Returns a pandas UDF: array<float> column -> array<long> of
    ``bands`` bucket ids (band i at position i).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.asarray(
        _pseudo_planes(bands * bits_per_band, dim), dtype=np.float64
    )  # (bands*r, dim)
    r = bits_per_band
    weights = 1 << np.arange(r, dtype=np.int64)  # bit i -> 2**i, as hyperplane_bits

    @pandas_udf(ArrayType(LongType()))
    def sig(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(x, dtype=np.float64) for x in col])
        acc = np.zeros((mat.shape[0], planes.shape[0]), dtype=np.float64)
        for k in range(mat.shape[1]):  # fixed coordinate order — see contract above
            acc += mat[:, k : k + 1] * planes[:, k]
        bits = (acc >= 0.0).reshape(mat.shape[0], bands, r)
        buckets = (bits.astype(np.int64) * weights).sum(axis=2)
        return pd.Series(list(buckets))

    return sig


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 32,
    bits_per_band: int = 12,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) without an
    all-pairs join: sign-LSH banding for candidate generation, exact
    cosine verify within candidates only.

    Each vector gets ``bands`` bucket ids (one per band of
    ``bits_per_band`` sign bits); two vectors become a candidate pair
    iff they share a bucket in at least one band. The self-join keys
    on (band, bucket), so the pair space is sum-of-squares of bucket
    sizes — ~n/2^bits_per_band expected collisions per vector for
    unclustered data, never O(n²). Exact cosine then filters
    candidates, so precision is 1.0; recall is the banding OR:
    P(found) = 1-(1-p^r)^b with p = 1-angle/pi. At the defaults
    (b=32, r=12) recall is 0.996 at cosine exactly 0.9 and rises
    toward 1 above it; colinear duplicates (cosine 1.0) have
    identical sign bits and are found with probability exactly 1.
    r=12 keeps expected bucket occupancy n/4096 so the candidate set
    stays ~b·n²/2^r(+2) — thin buckets are what holds at 100 TB;
    raise ``bits_per_band`` further before raising ``bands``.

    Each vector's norm is computed once (O(n·dim)) and joined to the
    candidate pairs; only the dot product (O(candidates·dim)) runs
    per pair. The quotient dot/(norm_a·norm_b) performs the same FP
    operations in the same order as the single-expression cosine, so
    oracle parity is preserved.

    At 100 TB: two shuffles (bucket join, verify join-back on id);
    hot buckets are AQE skew-split.

    Output: (id_a, id_b, cosine_sim), id_a < id_b.
    """
    from pyspark import StorageLevel

    df = drop_null_vectors(df, vec_col)
    v = spread(df, id_col).select(F.col(id_col), F.col(vec_col).alias("__v"))
    sig = band_signature_udf(bands, bits_per_band, dim)
    # materialize the signatures: both sides of the candidate
    # self-join need them, and without an explicit persist the static
    # plan runs the Arrow signature UDF once PER SIDE (AQE may reuse
    # the exchange at runtime, but that is a runtime maybe, not a plan
    # guarantee). Persist the COMPACT form — n rows of (id,
    # array<long> of bands entries) — and explode AFTER the cache
    # read: same longs, 1/bands the row overhead, so materialization
    # costs ~25% less wall than caching the exploded (id, band,
    # bucket) table (measured at sf0.1: 1.16s vs 1.56s cold).
    # MEMORY_AND_DISK so a 100 TB corpus spills instead of recomputing
    # signatures.
    sigs = persist(
        v.select(F.col(id_col), sig(F.col("__v")).alias("__sig")),
        fill=False,
        level=StorageLevel.MEMORY_AND_DISK,
    )
    buckets = sigs.select(
        F.col(id_col), F.posexplode("__sig").alias("band", "bucket")
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vn = v.select(F.col(id_col), F.col("__v"), _norm(F.col("__v")).alias("__n"))
    ea = vn.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na")
    )
    eb = vn.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")
    )
    sim = F.round(
        _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        round_digits,
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def kmeans_train(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Distributed Lloyd k-means over an embedding column — the
    centroid-selection step ivf_topk's docstring promises is pluggable
    (its deterministic lowest-id centroids keep the oracle; these
    trained centroids are the quality path).

    Per iteration: assignment is one Arrow-batched numpy pass per
    partition against the broadcast (k × dim) centroid matrix —
    embarrassingly parallel, no shuffle; the update is an element-wise
    mean via posexplode + (cluster, position) hash-agg, whose shuffle
    carries k·dim rows (centroid-sized, not corpus-sized). Centroids
    round-trip through the driver between iterations, which is the
    standard structure at any scale — they are tiny by construction.
    Init is the k lowest-id vectors (deterministic, like ivf_topk).

    Returns (centroids, assignments(id, cluster)).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    df = drop_null_vectors(df, vec_col)
    v = spread(df, id_col).select(F.col(id_col), F.col(vec_col).alias("__v"))
    v = v.persist()
    cents = [
        list(r[0])
        for r in v.orderBy(id_col).limit(k).select("__v").collect()
    ]
    # a corpus smaller than k seeds fewer centroids; clamp so the
    # empty-cluster carry-forward can't index past the init list
    # (r7 null-sweep: 2 usable vectors with k=16 -> IndexError)
    k = len(cents)
    if k == 0:
        v.unpersist()
        empty = df.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster long"
        )
        return [], empty
    assigned = None
    for _ in range(iters):
        cmat = np.asarray(cents, dtype=np.float64)  # (k, dim)

        @pandas_udf(LongType())
        def nearest(col: pd.Series) -> pd.Series:
            if len(col) == 0:
                return pd.Series([], dtype="int64")
            # single C-level stack (same matrix bit-for-bit as the
            # per-row asarray loop it replaces)
            mat = np.vstack(col.to_numpy()).astype(np.float64, copy=False)
            # squared L2 via the expansion; argmin is tie-stable
            d = (
                (mat * mat).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ cmat.T)
                + (cmat * cmat).sum(axis=1)
            )
            return pd.Series(d.argmin(axis=1).astype("int64"))

        assigned = v.withColumn("cluster", nearest(F.col("__v")))
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "m"))
                    ),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        by_cluster = {r.cluster: list(r.centroid) for r in means}
        # empty clusters keep their previous centroid (standard Lloyd)
        cents = [by_cluster.get(i, cents[i]) for i in range(k)]
    out = assigned.select(F.col(id_col), "cluster")
    v.unpersist()
    return cents, out


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    mark within-cluster near-duplicates — a vector is a duplicate when
    some LOWER-id member of its cluster has cosine >= threshold.

    **ORACLE CONTROL, NOT THE PRODUCTION OPERATOR.** This constant-k
    form exists to keep the SemDeDup semantics SQL-expressible for the
    DuckDB hash gate; with k fixed, mean cluster size grows with the
    corpus and the within-cluster pair cost is super-linear — measured
    decaying 15.95× at 10× data (SCALE.md, embeddings family). Use
    :func:`semantic_dedup_trained` for real workloads: identical dedup
    semantics over kmeans clusters with k ∝ n/target_cluster_size,
    measured holding 1.73× at 10× on the same input.

    The clustering confines the quadratic pair search to cluster
    granularity: pair cost is sum of squared cluster sizes, never
    O(n^2) over the corpus. Centroids here are the ``n_centroids``
    lowest-id vectors (deterministic, SQL-expressible — the same
    device as ivf_topk's default lists); swap in kmeans_train output
    for production clustering, the dedup stages are unchanged.

    Returns (id, cluster_id, dup_of, is_dup): dup_of = the smallest
    qualifying lower id (the retained representative), null for
    keepers. Cosines round to 6dp before thresholding on both engines.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cent"))
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    assigned = persist(  # self-joined below: halve the assignment compute
        c.crossJoin(F.broadcast(cents))
        .withColumn("__csim", F.round(cosine(F.col("__v"), F.col("__cent")), 6))
        .withColumn(
            "__crn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("__csim").desc(), F.col("centroid_id").asc()
                )
            ),
        )
        .filter(F.col("__crn") == 1)
        .select("__id", "centroid_id", "__v"),
        fill=True,
    )
    return _dup_within_clusters(assigned, threshold, id_col)


def _dup_within_clusters(
    assigned: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Shared SemDeDup pair stage: ``assigned`` is a PERSISTED
    (__id, centroid_id, __v) frame; marks each vector whose cluster
    contains a lower-id member with cosine >= threshold. Pair cost is
    sum of squared cluster sizes — the clustering upstream decides
    whether that is linear (k grows with n) or merely divided by a
    constant (fixed k)."""
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = F.round(cosine(F.col("a.__v"), F.col("b.__v")), 6)
    dup = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(sim >= F.lit(threshold))
        .groupBy(F.col("b.__id").alias("__id"))
        .agg(F.min(F.col("a.__id")).alias("dup_of"))
    )
    return (
        assigned.select("__id", "centroid_id")
        .join(dup, "__id", "left")
        .select(
            F.col("__id").cast("long").alias(id_col),
            F.col("centroid_id").cast("long").alias("cluster_id"),
            F.col("dup_of").cast("long").alias("dup_of"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def semantic_dedup_trained(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 256,
    iters: int = 3,
    k: int | None = None,
) -> DataFrame:
    """Scale-honest SemDeDup: the cluster count GROWS with the corpus
    instead of dividing the quadratic by a constant.

    ``k = clamp(ceil(n / target_cluster_size), 16, n)`` by default,
    so expected cluster occupancy stays ~``target_cluster_size`` as n
    grows and the within-cluster pair cost is Σ|cluster|² ≈
    n · target_cluster_size — LINEAR in n. This is the regime the
    SemDeDup recipe (Abbas et al. 2023) actually runs (k in the tens
    of thousands at corpus scale); :func:`semantic_dedup`'s fixed
    ``n_centroids`` is the oracle-expressible teaching form and is
    O(n²/k) — fine at test SF, wrong at 100 TB.

    Clustering is :func:`kmeans_train` (iterative; driver round-trips
    are centroid-sized only), so there is no SQL oracle — the catalog
    entry is rows-only at the driver and pinned by the pytest twin
    (tests/test_similarity.py), the same contract as
    ``ann_ivf_trained``. The dedup pair stage is byte-identical to
    :func:`semantic_dedup`'s (shared helper), which IS hash-gated.
    """
    import math

    corpus = drop_null_vectors(corpus, vec_col)
    n = corpus.count()  # metadata-level count; sizes k before training
    if n == 0:
        # day-one empty corpus: schema-stable empty result, no train
        return corpus.sparkSession.createDataFrame(
            [],
            f"{id_col} long, cluster_id long, dup_of long, is_dup boolean",
        )
    if k is None:
        k = int(min(max(16, math.ceil(n / target_cluster_size)), max(n, 1)))
    v = spread(corpus, id_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    # cluster on the UNIT SPHERE: k-means assignment is L2, and raw
    # magnitudes would scatter colinear near-duplicates (cosine 1.0)
    # across clusters — SemDeDup clusters normalized embeddings for
    # exactly this reason. The verify cosine below still runs on the
    # original vectors (cosine is scale-invariant; parity with
    # semantic_dedup's math).
    normed = v.select(
        F.col("__id").alias(id_col),
        F.transform(
            "__v", lambda x: x / _norm(F.col("__v"))
        ).alias(vec_col),
    )
    _, asg = kmeans_train(normed, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = persist(  # self-joined in the pair stage
        v.join(
            asg.select(F.col(id_col).alias("__id"), "cluster"), "__id"
        ).select("__id", F.col("cluster").alias("centroid_id"), "__v"),
        fill=True,
    )
    return _dup_within_clusters(assigned, threshold, id_col)


def pca_train(
    df: DataFrame,
    n_components: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]], list[float]]:
    """Distributed PCA over an embedding column — the standard
    dimensionality-reduction / whitening step run before ANN indexing
    or clustering at corpus scale (e.g. IVF-PQ pipelines reduce 768d
    to 64-128d first).

    Structure is the classic treeAggregate shape (the same
    "reduce to a dim-bounded invariant, round-trip only that" pattern
    as kmeans_train's centroid updates): each partition computes ONE
    (dim+1, dim) partial — the coordinate sums stacked on the
    unnormalized scatter matrix Σx·xᵀ — via an Arrow-batched
    mapInPandas; the driver sums the per-partition partials (sorted
    by partition id for deterministic FP accumulation), forms the
    covariance, and eigendecomposes it with numpy. Everything that
    crosses the driver boundary is O(dim²), independent of n. Sign
    convention: each eigenvector is flipped so its
    largest-|coordinate| entry is positive (eigh's sign is otherwise
    arbitrary — this pins run-to-run determinism).

    Returns (mean, components[n_components][dim], explained_variance).
    """
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    v = spread(drop_null_vectors(df, vec_col), id_col).select(
        F.col(vec_col).alias("__v")
    )

    part_schema = StructType([
        StructField("pid", LongType()),
        StructField("n", LongType()),
        StructField("flat", ArrayType(DoubleType())),
    ])

    def partials(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # one C-level stack of the batch, not a per-row asarray
            # loop — same matrix bit-for-bit, so identical partials
            mat = np.vstack(pdf["__v"].to_numpy()).astype(
                np.float64, copy=False
            )
            n += mat.shape[0]
            part = np.vstack([mat.sum(axis=0), mat.T @ mat])
            acc = part if acc is None else acc + part
        if acc is not None:
            yield pd.DataFrame(
                {"pid": [pid], "n": [n], "flat": [acc.ravel().tolist()]}
            )

    rows = v.mapInPandas(partials, schema=part_schema).collect()
    if not rows:
        raise ValueError("pca_train: empty corpus")
    rows.sort(key=lambda r: r.pid)  # deterministic accumulation order
    # flat holds (dim+1)*dim entries; recover dim from the quadratic
    L = len(rows[0].flat)
    dim = int((-1 + np.sqrt(1 + 4 * L)) // 2)
    total = np.zeros((dim + 1, dim))
    n = 0
    for r in rows:
        total += np.array(r.flat, dtype=np.float64).reshape(dim + 1, dim)
        n += r.n
    mean = total[0] / n
    cov = total[1:] / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:n_components]
    comps = []
    expl = []
    for i in order:
        vec = eigvec[:, i]
        j = int(np.argmax(np.abs(vec)))
        if vec[j] < 0:
            vec = -vec
        comps.append(vec.tolist())
        expl.append(float(eigval[i]))
    return mean.tolist(), comps, expl


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Project vectors onto trained components: k dot products per
    row, pure Catalyst (each component is a literal array; the dot is
    the same sequential zip_with/aggregate as ``cosine``) — no Python
    in the data path, map-only, no shuffle. Output:
    (id, projection array<double>).

    Shape notes (r15, guide §4.2 — VERDICT r14 #3): the k sequential
    interpreted-Catalyst fold dot products per row were the dominant
    kernel CPU of the PCA family (12.9 task-sec noop-save at sf0.1,
    ~10x the arithmetic's cost); they now run in one Arrow-batched
    numpy pass. The FP OP ORDER IS PRESERVED BIT-FOR-BIT: centering
    is the same elementwise ``x - m``, and each dot product
    accumulates ``acc = acc + c_i * w_i`` left-to-right over the
    vector exactly like the old ``aggregate(zip_with(...))`` fold —
    numpy vectorizes ACROSS ROWS, never reassociates within a row.
    The 6-digit rounding stays in Catalyst (same engine, same
    HALF_UP decimal-string semantics), so projections are identical
    to the r14 output. Rows whose vector length differs from the
    trained dim project to NULL components (the zip_with null
    semantics those rows had before; no such rows exist in any
    corpus — drop_null_vectors removes the NULL-vector case)."""
    mean_l = [float(m) for m in mean]
    comps_l = [[float(c) for c in comp] for comp in components]
    k = len(comps_l)
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        import numpy as np
        import pandas as pd

        M = np.asarray(mean_l, dtype=np.float64)
        W = [np.asarray(c, dtype=np.float64) for c in comps_l]
        dim = len(M)
        def dots(X):
            C = X - M  # zip_with(x, mean, x - m), same elementwise op
            outs = []
            for w in W:
                acc = np.zeros(len(C), dtype=np.float64)
                for i in range(dim):
                    # left-to-right fold, identical per-row op order
                    # to aggregate(zip_with(c, w, c*w), 0.0, acc + x)
                    acc = acc + C[:, i] * w[i]
                outs.append(acc)
            return outs

        for pdf in batches:
            nrow = len(pdf)
            if nrow == 0:
                continue
            vals = pdf["__v"].to_numpy()
            lens = np.fromiter(
                (len(v) for v in vals), dtype=np.int64, count=nrow
            )
            out = {id_col: pdf[id_col]}
            if (lens == dim).all():
                X = np.vstack(vals).astype(np.float64, copy=False)
                for j, acc in enumerate(dots(X)):
                    out[f"__p{j}"] = acc
            else:
                # ragged rows (never produced by any corpus): NULL
                # components, the old zip_with null semantics
                cols = [[None] * nrow for _ in range(k)]
                sel = np.nonzero(lens == dim)[0]
                if len(sel):
                    X = np.vstack([vals[i] for i in sel]).astype(
                        np.float64, copy=False
                    )
                    for j, acc in enumerate(dots(X)):
                        for p, v in zip(sel, acc):
                            cols[j][int(p)] = float(v)
                for j in range(k):
                    out[f"__p{j}"] = pd.Series(cols[j], dtype="object")
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{id_col} {id_type}"] + [f"__p{j} double" for j in range(k)]
    )
    proj = F.array(
        *[F.round(F.col(f"__p{j}"), round_digits) for j in range(k)]
    )
    return (
        spread(drop_null_vectors(df, vec_col), id_col)
        .select(F.col(id_col), F.col(vec_col).alias("__v"))
        .mapInPandas(run, schema=schema)
        .select(F.col(id_col), proj.alias("projection"))
    )


def pca_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 8,
    n_centroids: int = 16,
    n_probe: int = 4,
    probe_scale: float | None = None,
) -> DataFrame:
    """The production ANN chain: PCA-reduce → IVF coarse quantization
    in the REDUCED space → exact-cosine re-rank in the ORIGINAL space
    (the IVF-PQ-style pipeline every billion-vector deployment runs:
    cheap geometry for routing, full precision only for candidates).

    Candidate generation pays n_components-wide arithmetic
    (centroid assignment + probe routing on the 8d projections, ~8x
    cheaper than raw 64d at these defaults and far more at
    768d → 64d production shapes); only the ~n_probe/n_centroids
    candidate slice ever touches the original vectors. Training ships
    O(dim²) to the driver (pca_train); everything else is
    joins/windows Catalyst plans like ivf_topk. Eigendecomposition =>
    rows-only; recall vs exact top-k pinned in tests/test_pca.py.
    """
    mean, comps, _ = pca_train(corpus, n_components, id_col, vec_col)
    cp = pca_project(corpus, mean, comps, id_col, vec_col)
    qp = pca_project(queries, mean, comps, id_col, vec_col)
    cents = (
        cp.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col("projection").alias("__cent"),
        )
    )
    sim_to_cent = F.round(cosine(F.col("__p"), F.col("__cent")), 6)

    def nearest(
        df: DataFrame, n: int, scale: float | None = None
    ) -> DataFrame:
        ranked = (
            df.select(F.col(id_col).alias("__id"), F.col("projection").alias("__p"))
            .crossJoin(F.broadcast(cents))
            .withColumn("__csim", sim_to_cent)
            .withColumn(
                "__crn",
                F.row_number().over(
                    Window.partitionBy("__id").orderBy(
                        F.col("__csim").desc(), F.col("centroid_id").asc()
                    )
                ),
            )
        )
        # confidence-scaled probing routes on the PROJECTED-space
        # cosine — the same geometry the probe ranking uses
        return _apply_probe_filter(ranked, n, scale, n_centroids).select(
            "__id", "centroid_id"
        )

    inv_lists = nearest(cp, 1).select(F.col("__id").alias(id_col), "centroid_id")
    probes = nearest(qp, n_probe, scale=probe_scale).select(
        F.col("__id").alias("query_id"), "centroid_id"
    )
    cand = inv_lists.join(F.broadcast(probes), "centroid_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    scored = (
        cand.join(cv, id_col)
        .join(F.broadcast(qv), "query_id")
        .select("query_id", id_col, sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim")
    )


def incremental_embedding_pairs(
    hist: DataFrame,
    batch: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 32,
    bits_per_band: int = 12,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-dups of a NEW ingest batch against the
    HISTORICAL corpus — the semantic member of the incremental
    family (r11; text: incremental_neardup_pairs, perceptual:
    incremental_hamming_pairs): which of today's vectors duplicate
    something already ingested?

    Same sign-LSH banding + exact-cosine verify as
    :func:`lsh_neardup_pairs`, but the candidate join is
    batch-bands × HISTORY-bands (cross, never self): the history
    side participates through its maintained SIGNATURE table
    (bands × 12 sign bits per vector — at scale a stored,
    bucket-partitioned artifact appended per ingest, like the
    minhash index) plus vector lookups for the CANDIDATES only.
    Candidate mass is batch × collision rate; history is never
    all-paired, and batch-internal pairs are the self-join entry's
    job. Colinear duplicates share every sign bit → recall exactly
    1 on them (the plantable contract).

    Output (id_batch, id_hist, cosine_sim), cosine >= threshold.
    """
    from pyspark import StorageLevel

    sig = band_signature_udf(bands, bits_per_band, dim)

    def prep(df, alias):
        d = drop_null_vectors(df, vec_col)
        v = spread(d, id_col).select(
            F.col(id_col), F.col(vec_col).alias("__v")
        )
        # filled for real stats; at scale the history side is a
        # stored signature table, not a recomputation
        sigs = persist(
            v.select(F.col(id_col), sig(F.col("__v")).alias("__sig")),
            fill=True,
            level=StorageLevel.MEMORY_AND_DISK,
        )
        buckets = sigs.select(
            F.col(id_col).alias(alias),
            F.posexplode("__sig").alias("band", "bucket"),
        )
        return v, sigs, buckets

    hv, hsigs, hb = prep(hist, "id_hist")
    bv, bsigs, bb = prep(batch, "id_batch")
    cand = (
        bb.join(hb, ["band", "bucket"])
        .select("id_batch", "id_hist")
        .distinct()
    )
    ea = bv.select(
        F.col(id_col).alias("id_batch"),
        F.col("__v").alias("__va"),
        _norm(F.col("__v")).alias("__na"),
    )
    eb = hv.select(
        F.col(id_col).alias("id_hist"),
        F.col("__v").alias("__vb"),
        _norm(F.col("__v")).alias("__nb"),
    )
    sim = F.round(
        _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        round_digits,
    )
    return (
        cand.join(ea, "id_batch")
        .join(eb, "id_hist")
        .select("id_batch", "id_hist", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 32,
    bits_per_band: int = 12,
    dim: int = 64,
) -> DataFrame:
    """The maintained STATE of the incremental embedding lifecycle:
    (id, __v, __sig) — the vector plus its sign-LSH band signature
    array, one row per ingested vector. At scale this is the stored,
    id-partitioned table appended per ingest (the embedding analogue
    of the minhash/dHash signature indexes); it carries the vector
    itself because the verify step of a future probe looks exact
    cosine up for CANDIDATES only, and shipping those lookups to a
    separate vector store would add a join without removing any work.
    Null/absent vectors are dropped (they cannot be signed)."""
    sig = band_signature_udf(bands, bits_per_band, dim)
    d = drop_null_vectors(df, vec_col)
    v = spread(d, id_col).select(F.col(id_col), F.col(vec_col).alias("__v"))
    return v.select(id_col, "__v", sig(F.col("__v")).alias("__sig"))


def _band_cross_pairs(
    hidx: DataFrame,
    bidx: DataFrame,
    threshold: float,
    id_col: str,
    round_digits: int,
) -> DataFrame:
    """Batch-vs-history candidate probe over two embedding_index
    frames: (band, bucket) equi-join of the sign-LSH signatures,
    exact-cosine verify via the vectors carried on the index rows.
    Candidate mass = batch buckets x collision rate; history is
    never all-paired."""
    hb = hidx.select(
        F.col(id_col).alias("id_hist"),
        F.posexplode("__sig").alias("band", "bucket"),
    )
    bb = bidx.select(
        F.col(id_col).alias("id_batch"),
        F.posexplode("__sig").alias("band", "bucket"),
    )
    cand = (
        bb.join(hb, ["band", "bucket"])
        .select("id_batch", "id_hist")
        .distinct()
    )
    ea = bidx.select(
        F.col(id_col).alias("id_batch"),
        F.col("__v").alias("__va"),
        _norm(F.col("__v")).alias("__na"),
    )
    eb = hidx.select(
        F.col(id_col).alias("id_hist"),
        F.col("__v").alias("__vb"),
        _norm(F.col("__v")).alias("__nb"),
    )
    sim = F.round(
        _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        round_digits,
    )
    return (
        cand.join(ea, "id_batch")
        .join(eb, "id_hist")
        .select("id_batch", "id_hist", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def incremental_embedding_ingest(
    index: DataFrame,
    batch: DataFrame,
    threshold: float,
    reported: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 32,
    bits_per_band: int = 12,
    dim: int = 64,
    round_digits: int = 6,
    include_intra_batch: bool = True,
    presigned: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE DAY of the incremental EMBEDDING lifecycle (VERDICT r11
    #3) — the semantic member of the family (text:
    incremental_neardup_ingest, perceptual:
    incremental_hamming_ingest): sign the new vector batch once,
    probe it against the maintained :func:`embedding_index` state,
    append the batch's index rows, extend the already-reported
    ledger. Returns ``(pairs, new_index, new_reported)`` with pairs =
    (id_batch, id_hist, cosine_sim >= threshold); with
    ``include_intra_batch`` same-day pairs are found by the bucket
    self-join over the batch index (earlier id plays the history
    role). Colinear duplicates share every sign bit, so recall on
    them is exactly 1 across both the cross and the intra path.

    Lifecycle plumbing (self-pair suppression, unordered-pair-key
    ledger anti-join, replay-safe append, save_state/load_state
    storage backing) is the shared
    :mod:`analyst_spark.functions.incremental` implementation.

    ``presigned=True`` means ``batch`` is ALREADY an
    :func:`embedding_index` frame (id, __v, __sig) — the multiday
    entries sign their whole corpus in one Arrow pass and slice per
    day, so re-signing here would be a second pass over the same
    vectors (r13 profiling, VERDICT r12 #7).
    """
    from pyspark import StorageLevel

    from analyst_spark.functions.incremental import lifecycle_day

    # a fresh batch is signed in one Arrow pass shared by every
    # consumer and filled now; a presigned batch is a filter over an
    # already-cached signature table — its cache fills on first use,
    # no eager job needed
    bidx = persist(
        batch
        if presigned
        else embedding_index(batch, id_col, vec_col, bands, bits_per_band, dim),
        fill=not presigned,
        level=StorageLevel.MEMORY_AND_DISK,
    )

    def fused(idx: DataFrame, bi: DataFrame) -> DataFrame:
        # ONE band probe for cross + intra (r14, guide §2.4 — two
        # operations keyed the same way share one exchange): the
        # history side of the (band, bucket) equi-join is index ∪
        # batch with a provenance flag; batch-side collisions
        # additionally require id_hist < id_batch (the family's intra
        # orientation). Candidates stay distinct per (pair,
        # provenance) and the verify lookup resolves vectors on
        # (id_hist, provenance), so the emitted multiset is exactly
        # cross ∪ intra even when batch ids already sit in the index
        # (replay). Halves the per-day join pipelines.
        hb = (
            idx.select(
                F.col(id_col).alias("id_hist"),
                F.lit(True).alias("__hist"),
                F.posexplode("__sig").alias("band", "bucket"),
            )
        ).unionByName(
            bi.select(
                F.col(id_col).alias("id_hist"),
                F.lit(False).alias("__hist"),
                F.posexplode("__sig").alias("band", "bucket"),
            )
        )
        bb = bi.select(
            F.col(id_col).alias("id_batch"),
            F.posexplode("__sig").alias("band", "bucket"),
        )
        cand = (
            bb.join(hb, ["band", "bucket"])
            .filter(F.col("__hist") | (F.col("id_hist") < F.col("id_batch")))
            .select("id_batch", "id_hist", "__hist")
            .distinct()
        )
        ea = bi.select(
            F.col(id_col).alias("id_batch"),
            F.col("__v").alias("__va"),
            _norm(F.col("__v")).alias("__na"),
        )
        eb = (
            idx.withColumn("__hist", F.lit(True))
            .unionByName(bi.withColumn("__hist", F.lit(False)))
            .select(
                F.col(id_col).alias("id_hist"),
                "__hist",
                F.col("__v").alias("__vb"),
                _norm(F.col("__v")).alias("__nb"),
            )
        )
        sim = F.round(
            _dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
            round_digits,
        )
        return (
            cand.join(ea, "id_batch")
            .join(eb, ["id_hist", "__hist"])
            .select("id_batch", "id_hist", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )

    pairs, new_index, new_reported = lifecycle_day(
        index,
        bidx,
        cross_fn=fused if include_intra_batch else (
            lambda idx, bi: _band_cross_pairs(
                idx, bi, threshold, id_col, round_digits
            )
        ),
        intra_fn=None,
        reported=reported,
        id_col=id_col,
    )
    return pairs, new_index, new_reported


def ivf_assign(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid — ONE
    inverted-list row (id, centroid_id, __cv) per vector, under the
    exact tie rule the whole ANN family uses (cosine rounded to 6
    desc, centroid_id asc). ``cents`` is a (centroid_id, __cent)
    frame (broadcast — centroid tables are KB-sized by construction).

    The maintained-serving-index contract (r12): assignment depends
    ONLY on the centroid table, so the inverted-list frame is
    APPEND-ONLY state — ``ivf_assign(batch) ∪ lists`` is
    row-identical to ``ivf_assign(history ∪ batch)``, which is what
    lets a daily ingest extend the ANN index without touching
    history vectors (pinned in tests/test_similarity.py)."""
    sim_to_cent = F.round(cosine(F.col("__v"), F.col("__cent")), 6)
    c = spread(corpus, id_col).select(
        F.col(id_col), F.col(vec_col).alias("__v")
    )
    return (
        c.crossJoin(F.broadcast(cents))
        .withColumn("__csim", sim_to_cent)
        .withColumn(
            "__crn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("__csim").desc(), F.col("centroid_id").asc()
                )
            ),
        )
        .filter(F.col("__crn") == 1)
        .select(id_col, "centroid_id", F.col("__v").alias("__cv"))
    )


def ivf_topk_from_lists(
    inv_lists: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_scale: float | None = None,
    n_centroids: int = 1 << 30,
) -> DataFrame:
    """IVF top-k over a MAINTAINED inverted-list frame (the output of
    :func:`ivf_assign`, possibly grown across many ingests): each
    query probes its ``n_probe`` nearest lists and exact-reranks the
    candidates — identical scoring/tie rules to :func:`ivf_topk`,
    which builds the lists inline; this form consumes them as state.
    At scale ``inv_lists`` is a centroid_id-partitioned stored table,
    so the probe join prunes to the probed lists' partitions.

    ``probe_scale`` enables confidence-scaled probing (see
    :func:`_apply_probe_filter`); ``n_centroids`` caps the adaptive
    depth — the default (effectively "all lists") is safe because a
    query's ``__crn`` never exceeds the real centroid count, but pass
    the true count when the serving config knows it so the rule
    matches :func:`ivf_topk` exactly (parity pinned in
    tests/test_similarity.py)."""
    sim_to_cent = F.round(cosine(F.col("__v"), F.col("__cent")), 6)
    q = queries.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    ranked = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__csim", sim_to_cent)
        .withColumn(
            "__crn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("__csim").desc(), F.col("centroid_id").asc()
                )
            ),
        )
    )
    probes = (
        _apply_probe_filter(ranked, n_probe, probe_scale, n_centroids)
        .select(
            F.col("__id").alias("query_id"),
            "centroid_id",
            F.col("__v").alias("__qv"),
        )
    )
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
    scored = (
        inv_lists.join(F.broadcast(probes), ["centroid_id"])
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim")
    )


def assignment_quality(
    lists: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
) -> float:
    """Mean cosine between each indexed vector and its assigned
    centroid — the routing-quality statistic the drift monitor
    tracks. One broadcast join + one aggregation over the inverted
    lists (the stored artifact, not the raw corpus); at ingest time
    compute it per APPEND BATCH instead, where the assignment join
    already ran and the mean is a free aggregate.
    """
    sim = F.round(cosine(F.col("__cv"), F.col("__cent")), 6)
    row = (
        lists.join(F.broadcast(cents), "centroid_id")
        .select(sim.alias("__s"))
        .agg(F.avg("__s"))
        .first()
    )
    return float(row[0]) if row[0] is not None else float("nan")


def ivf_rebuild(
    inv_lists: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, float]:
    """Rebuild-and-swap for a maintained IVF serving index — what a
    deployment executes when :func:`needs_rebuild` fires (VERDICT r13
    #4 closed the loop: the trigger was a pinned pure function,
    nothing exercised the swap).

    Consumes ONLY the maintained inverted-list state: the lists carry
    their vectors as ``__cv`` (the :func:`ivf_assign` contract), so a
    rebuild never rescans the raw corpus — retrain centroids over the
    indexed vectors, re-assign them all, recompute the trained
    baseline quality. Because :func:`kmeans_train` is deterministic
    (lowest-id init, fixed iteration count), the swapped-in index is
    ROW-IDENTICAL to one built from scratch over the same vectors —
    pinned in tests/test_ivf_rebuild.py, which drives the full
    lifecycle: drifted appends trip the trigger, the rebuild restores
    the batch quality ratio and the adaptive routing depth that drift
    degraded (cost, not recall — the r13 drift-probe finding).

    At 100 TB the shape holds: k-means is Arrow-batched map work plus
    a centroid-sized shuffle per iteration; re-assignment is one
    broadcast join over the stored lists, written back partitioned by
    ``centroid_id`` like any other index build.

    Returns ``(cents, lists, trained_quality)`` — the maintained
    state triple the serving config swaps in atomically.
    """
    spark = inv_lists.sparkSession
    vecs = inv_lists.select(F.col(id_col), F.col("__cv").alias("embedding"))
    cent_rows, _ = kmeans_train(vecs, k=k, iters=iters, id_col=id_col)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent_rows)],
        "centroid_id long, __cent array<double>",
    )
    lists = ivf_assign(vecs, cents, id_col=id_col)
    return cents, lists, assignment_quality(lists, cents, id_col=id_col)


def routing_depth(
    queries: DataFrame,
    cents: DataFrame,
    n_probe: int,
    probe_scale: float | None,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean ADAPTIVE probe depth over a query set — the serving-cost
    statistic the r13 drift probe showed is what distribution drift
    actually degrades (recall holds ≥0.94 because the adaptive rule
    probes deeper; the index silently degenerates toward
    brute-force). One broadcast grid + one window, centroid-sized per
    query; a monitor samples queries, it never scans the corpus."""
    sim_to_cent = F.round(cosine(F.col("__v"), F.col("__cent")), 6)
    q = queries.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    nq = q.count()
    if nq == 0:
        return float("nan")
    ranked = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__csim", sim_to_cent)
        .withColumn(
            "__crn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("__csim").desc(), F.col("centroid_id").asc()
                )
            ),
        )
    )
    kept = _apply_probe_filter(ranked, n_probe, probe_scale, n_centroids).count()
    return kept / nq


def needs_rebuild(
    trained_quality: float,
    batch_quality: float,
    appended_fraction: float,
    quality_ratio_floor: float = 0.85,
    appended_fraction_ceiling: float = 1.0,
) -> bool:
    """Rebuild trigger for a maintained IVF index that appends
    against FROZEN centroids (VERDICT r12 #6). Two independent
    signals, both free at ingest time.

    What the r13 drift probe actually measured
    (tools/ivf_drift_probe.py, SCALE.md "r13: IVF serving-index
    drift"): walking a progressive mean-shift drift to 2× the trained
    corpus, frozen-centroid recall@10 does NOT decay — it stays
    ≥ 0.94 in both the no-drift control and the shift regime, because
    the confidence-scaled probing shipped this round compensates bad
    routing by probing deeper. What drift degrades is COST: the shift
    regime's batch assignment quality falls to ~0.80 of the trained
    baseline by 0.75× appended, at which point the adaptive rule
    probes ceil(3.0/0.21) ≈ 15 of 16 lists for drifted queries — the
    serving index has silently degenerated to near-brute-force for
    the drifted mass. A rebuild restores shallow routing (and its
    recall matches, so the trigger costs no accuracy).

    * ``batch_quality / trained_quality`` < 0.85 — the measured
      separator: the no-drift control never dips below 0.95 across
      eight append steps while the shift regime crosses 0.87 by 0.5×
      appended and 0.83 by 0.75×.
    * ``appended_fraction`` ≥ 1.0 — once appends exceed the trained
      mass the centroids describe a minority of the index; retrain at
      parity as cheap insurance (the control holds recall through 2×,
      so this is a freshness policy, not a measured cliff).

    Pure function of maintained statistics — the caller persists
    ``trained_quality`` (train time) and folds ``batch_quality`` /
    row counts per ingest (the assignment join already runs there),
    so the trigger costs no extra scan.
    """
    if trained_quality <= 0:
        return True
    if appended_fraction >= appended_fraction_ceiling:
        return True
    return batch_quality / trained_quality < quality_ratio_floor


# ------------------------------------------------ int8 quantized serving


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
    round_digits: int = 6,
    max_queries: int | None = MAX_EXACT_QUERIES,
) -> DataFrame:
    """Int8-quantized candidate scan + full-precision rerank — the
    memory-bandwidth lever a billion-vector serving tier pulls: the
    hot scan touches 1-byte codes (4× less bandwidth than float32,
    16× less than float64), floats only for ``candidates`` rows per
    query.

    Two-stage, each deterministic:

    1. **Candidate stage (pure integers).** Per-dimension [lo, hi]
       ranges from ONE min/max aggregation over the corpus (min/max
       are summation-order-free, so an oracle matches bit-for-bit —
       the ``embeddings_quantize_int8`` discipline); codes
       ``floor((x-lo)/(hi-lo)*levels + 0.5)`` clamped to [0, levels].
       Query codes use the SAME frozen ranges (serving reality: the
       ranges ship with the index; queries must not see their own
       statistics). Candidate score is the centered integer dot
       ``sum((2q-levels) * (2c-levels))`` — bounded by
       dim * levels², exact in int64, so the top-``candidates`` cut
       is reproducible on any engine, no float ties.
    2. **Rerank stage (floats on a bounded set).** The surviving
       ``candidates`` ids per query — a |queries| * candidates-row
       frame — broadcast-join back to the corpus for full-precision
       vectors (the "fetch raw vectors for finalists" pattern; the
       scoring scan never carries the wide float column through the
       window shuffle). Exact cosine, rounded, ties by corpus id.

    Output: (query_id, vec_id, rank, cosine_sim, q_score) — q_score
    pins the integer stage in the gate hash, cosine_sim/rank pin the
    rerank.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    if max_queries is not None:
        n_q = queries.count()  # broadcast side: counting it is cheap
        if n_q > max_queries:
            raise ValueError(
                f"quantized_rerank_topk scans the full code table per "
                f"query ({n_q} queries): batch large query sets "
                f"through ivf_topk, or pass max_queries=None."
            )
    spark = corpus.sparkSession
    # bounded driver round-trip: one row per vector dimension
    stats = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i")
        .collect()
    )
    if not stats:
        return spark.createDataFrame(
            [],
            "query_id long, vec_id long, rank long, cosine_sim double, "
            "q_score long",
        )
    lo_arr = F.array(*[F.lit(float(r.lo)) for r in stats])
    sc_arr = F.array(*[F.lit(float(r.hi - r.lo)) for r in stats])

    def codes(col: Column) -> Column:
        d = F.zip_with(col.cast("array<double>"), lo_arr, lambda x, l: x - l)
        return F.zip_with(
            d,
            sc_arr,
            lambda x, s: F.greatest(
                F.least(
                    F.when(s > 0, F.floor(x / s * levels + 0.5))
                    .otherwise(F.lit(0))
                    .cast("long"),
                    F.lit(levels).cast("long"),
                ),
                F.lit(0).cast("long"),
            ),
        )

    c = spread(corpus, id_col).select(
        F.col(id_col), codes(F.col(vec_col)).alias("__cq")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        codes(F.col(vec_col)).alias("__qq"),
    )
    lv = F.lit(levels).cast("long")
    iscore = F.aggregate(
        F.zip_with(
            F.col("__qq"), F.col("__cq"), lambda a, b: (a * 2 - lv) * (b * 2 - lv)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col(id_col)).select(
        "query_id", id_col, iscore.alias("q_score")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("q_score").desc(), F.col(id_col).asc()
    )
    cand = (
        scored.withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= candidates)
        .drop("__cr")
    )
    # rerank: fetch full-precision vectors for the bounded finalist set
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), round_digits)
    rer = (
        cv.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qv), "query_id")
        .select("query_id", id_col, "q_score", sim.alias("cosine_sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "cosine_sim", "q_score")
    )

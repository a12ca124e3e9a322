"""Relevance ranking over a document corpus — BM25 in an exact
integer form.

BM25 (Robertson/Sparck Jones; the Okapi formulation as published in
TREC-3) scores a document d for a query q as

    sum over t in q of  idf(t) * tf * (k1+1)
                        / (tf + k1 * (1 - b + b * len(d)/avglen))

with idf(t) = ln((N + 1) / (df(t) + 0.5)). With the standard
parameters as exact rationals (k1 = 6/5, b = 3/4) and avglen = T/N
(T total tokens, N docs), each term contribution equals

    idf_micro * tf * 22 * T  /  (10*T*tf + 3*T + 9*len*N)

where idf_micro = round(ln((2N+2)/(2df+1)) * 1e6) — every quantity
an integer, so two engines that agree on ln() agree on the whole
ranking bit-for-bit (the docs_lm_score micro-log device applied to
retrieval).

LN-PARITY ASSUMPTION (r8 advice): idf_micro is the ONE place a
double is rounded, so the bit-exact gate rests on JVM Math.log and
DuckDB's libm log agreeing to within the distance of
ln((2N+2)/(2df+1))*1e6 from its nearest half-integer. libm
disagreements are ~1 ulp (~1e-9 absolute at this magnitude); the
gate only flakes if some (df, N) pair lands within that of a .5
boundary. tests/test_bm25.py has a boundary-distance guard that
scans every (df, N) pair arising from the benchmark query at all
three SFs and asserts a >=1e-6 margin, so the assumption is checked
against the actual corpora rather than trusted.

The per-term numerator reaches ~2*22*idf_micro*tf*T ≈ 1e19+ on
large corpora, past int64: the half-away-from-zero division runs on
DECIMAL(28,0) intermediates here and HUGEINT in SQL oracles (28
digits covers idf_micro(2e7)*tf(1e4)*22*T(1e13) ≈ 5e25 with room).
Each per-term quotient c_micro is back in micro-units
(≤ ~2.2*idf_micro ≈ 1e8), so the final per-doc accumulation is a
plain BIGINT sum — |query| terms cannot overflow it.

Scale shape: one tokenize pass over the corpus (persisted — callers
release via ``release_cached``), postings filtered to the query's
terms BEFORE any shuffle (|query| × df rows), document frequencies
and the 1-row corpus scalars ride broadcasts, and the only
corpus-sized shuffle is the per-doc length aggregation. Top-k is
TakeOrderedAndProject — no global sort.

No analog in the reference — its AGGREGATE grammar has no ranking
primitives (docs/aggregate.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import persist


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by BM25 for ``query_terms`` (whitespace
    tokenization, matching the engine's text family). Returns
    ``(id_col, score_micro bigint, score double)``, ordered by
    score desc / id asc with a deterministic cut. Documents with no
    tokens (or NULL text) are excluded from N and never score.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = persist(
        docs.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
        ).filter(F.col("w") != ""),
        fill=False,
    )
    lens = persist(
        toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("len")), fill=False
    )
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").cast("long").alias("t_tokens"),
    )
    posting = (
        toks.filter(F.col("w").isin(*query_terms))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfs = posting.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        posting.join(lens, id_col)
        .join(F.broadcast(dfs), "w")
        # 1-row corpus scalars: broadcast nested-loop by construction
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_micro",
            F.round(
                F.log((2 * F.col("n_docs") + 2) / (2.0 * F.col("df") + 1))
                * F.lit(1000000.0)
            ).cast("long"),
        )
        .withColumn(
            "c_micro",
            F.expr(
                "CAST((2*(CAST(idf_micro AS DECIMAL(28,0))*tf*22*t_tokens)"
                "      + (10*CAST(t_tokens AS DECIMAL(28,0))*tf"
                "         + 3*t_tokens + 9*len*n_docs))"
                "     DIV"
                "     (2*(10*CAST(t_tokens AS DECIMAL(28,0))*tf"
                "         + 3*t_tokens + 9*len*n_docs)) AS BIGINT)"
            ),
        )
    )
    out = (
        scored.groupBy(id_col)
        .agg(F.sum("c_micro").cast("long").alias("score_micro"))
        .select(
            id_col,
            "score_micro",
            (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
        )
        .orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return out


def bm25_topk_multi(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Top-``k`` documents per query for a query TABLE
    (``query_id``, ``term`` rows; duplicate terms within a query are
    deduped — query-set semantics, matching :func:`bm25_topk`'s
    ``isin``). Query-driven curation runs THOUSANDS of queries
    (VERDICT r9 #6); this is the one-pass generalization:

    * postings are filtered by a broadcast semi-join against the
      DISTINCT term set of ALL queries — the corpus is tokenized and
      scored ONCE regardless of query count, and a term shared by
      many queries is scored once per (doc, term), not once per
      query;
    * per-(doc, term) integer contributions (the same exact
      DECIMAL(28,0) device as :func:`bm25_topk` — idf depends only
      on corpus df, never on the query) fan out to queries via a
      broadcast join on the term;
    * the per-query cut is a rank window PARTITIONED BY query_id
      (score desc, id asc), so no global sort and the window state
      is one query's candidates.

    Shuffle fusion (VERDICT r10 #6): Spark's ClusteredDistribution
    is satisfied by hash-partitioning on a SUBSET of the clustering
    keys, so ONE repartition of the token stream by ``id_col``
    serves the doc-length aggregate, the (doc, term) tf aggregate,
    AND their join exchange-free, and one repartition of the scored
    fan-out by query_id serves both the per-query sum and the rank
    window — 6 exchanges become 2 (plan audit in
    tests/test_retrieval_fusion.py), values untouched.

    Cost ~ queries × per-query candidate mass (Σ df over its terms)
    after one corpus scan — the decade probe's claim. Output:
    (query_id, id_col, score_micro, score, rank), rank 1-based,
    rank <= k.
    """
    from pyspark.sql import Window

    q = persist(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(term_col).alias("w"),
        ).distinct(),
        fill=False,
    )
    qterms = q.select("w").distinct()
    toks = persist(
        docs.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        # doc-partitioned ONCE: every downstream doc-keyed aggregate
        # and the postings-lens join inherit this partitioning
        .repartition(F.col(id_col)),
        fill=False,
    )
    lens = persist(
        toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("len")), fill=False
    )
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").cast("long").alias("t_tokens"),
    )
    # bounded query-term set: broadcast-hinted semi-join replaces the
    # single-query literal IN; postings shrink BEFORE any shuffle.
    # persisted: BOTH dfs and the scoring join consume it — without
    # the persist the semi-join + tf aggregate plan TWICE (r11 plan
    # audit found the duplicated chain; exchange reuse across the
    # two consumers is an AQE runtime maybe, the persist is a
    # certainty)
    posting = persist(
        toks.join(F.broadcast(qterms), "w", "leftsemi")
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        fill=False,
    )
    dfs = posting.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        posting.join(lens, id_col)
        .join(F.broadcast(dfs), "w")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_micro",
            F.round(
                F.log((2 * F.col("n_docs") + 2) / (2.0 * F.col("df") + 1))
                * F.lit(1000000.0)
            ).cast("long"),
        )
        .withColumn(
            "c_micro",
            F.expr(
                "CAST((2*(CAST(idf_micro AS DECIMAL(28,0))*tf*22*t_tokens)"
                "      + (10*CAST(t_tokens AS DECIMAL(28,0))*tf"
                "         + 3*t_tokens + 9*len*n_docs))"
                "     DIV"
                "     (2*(10*CAST(t_tokens AS DECIMAL(28,0))*tf"
                "         + 3*t_tokens + 9*len*n_docs)) AS BIGINT)"
            ),
        )
        .select(id_col, "w", "c_micro")
    )
    per_query = (
        scored.join(F.broadcast(q), "w")
        # query-partitioned ONCE: the (query, doc) aggregate's
        # map-side combine still runs pre-shuffle, and the rank
        # window below inherits the partitioning exchange-free
        .repartition(F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("c_micro").cast("long").alias("score_micro"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    out = (
        per_query.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            "score_micro",
            (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
    return out


def rrf_fuse_multi(
    rankings: Sequence[tuple[str, DataFrame]],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    query_col: str = "query_id",
) -> DataFrame:
    """Per-query Reciprocal Rank Fusion over a QUERY TABLE — the
    multi-query generalization of :func:`rrf_fuse` (same SIGIR'09
    combiner, same integer-nano exactness device; see that docstring
    for both). Each input df carries ``(query_col, id_col, rank)``
    with rank 1-based per query and each query's list already cut to
    its candidate depth.

    The fusion join is keyed on (query, id) and moves
    O(queries × sources × depth) rows — bounded by retriever depth
    per query, never corpus size; the final cut is a rank window
    PARTITIONED BY the query (state = one query's fused candidates).
    Output: (query_col, id_col, <name>_rank..., rrf_nano, rrf_score),
    rank window cut to ``k`` per query.
    """
    from pyspark.sql import Window

    if len(rankings) < 2:
        raise ValueError("rrf_fuse_multi needs at least two rankings")
    fused = None
    for name, df in rankings:
        # join on query_col AS-IS (like single-query rrf_fuse): a cast
        # to int would silently NULL string query ids and collapse
        # every query into one window partition (ADVICE r10)
        d = df.select(
            F.col(query_col),
            F.col(id_col),
            F.col("rank").alias(f"{name}_rank"),
        )
        fused = (
            d
            if fused is None
            else fused.join(d, [query_col, id_col], "full_outer")
        )
    score = None
    for name, _ in rankings:
        term = F.coalesce(
            F.expr(
                f"CAST(1000000000 DIV ({rrf_k} + {name}_rank) AS BIGINT)"
            ),
            F.lit(0).cast("long"),
        )
        score = term if score is None else score + term
    win = Window.partitionBy(query_col).orderBy(
        F.col("rrf_nano").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rrf_nano", score)
        .withColumn("rrf_score", F.col("rrf_nano") / F.lit(1000000000.0))
        .withColumn("__rr", F.row_number().over(win))
        .filter(F.col("__rr") <= k)
        .drop("__rr")
    )


def rrf_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of two or more candidate rankings — the standard hybrid-retrieval
    combiner (lexical BM25 + semantic ANN) that needs no score
    calibration because it consumes only RANKS.

    Each input is ``(name, df)`` where ``df`` has ``(id_col, rank)``
    with rank 1-based and the list already cut to its candidate
    depth. Output: ``(id_col, <name>_rank ... , rrf_nano, rrf_score)``
    ordered by fused score desc / id asc, cut to ``k``.

    Exactness device: the reciprocal 1/(rrf_k + rank) is truncated to
    integer NANO-units (``1e9 DIV (rrf_k + rank)``) before summation,
    so the fused score is a sum of integers both engines reproduce
    bit-for-bit — no float summation order in the gate. At rrf_k=60
    and candidate depth <= 1000 each term is >= 9.4e5 nanos while the
    truncation error is < 1 nano per term, so the induced ordering
    differs from float RRF only where float scores tie within ~2e-9 —
    exactly the ties RRF breaks arbitrarily anyway. ``rrf_score`` is
    derived FROM the exact integer at the end.

    Scale shape: candidate lists are bounded by their retrievers'
    depth (k per source) regardless of corpus size, so the full-outer
    fusion join moves O(sources * depth) rows — never corpus-scale.
    (Full outer joins cannot broadcast in Spark; on bounded inputs
    the shuffle is a few KB and irrelevant.)
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    fused = None
    for name, df in rankings:
        d = df.select(F.col(id_col), F.col("rank").alias(f"{name}_rank"))
        fused = d if fused is None else fused.join(d, id_col, "full_outer")
    score = None
    for name, _ in rankings:
        term = F.coalesce(
            F.expr(
                f"CAST(1000000000 DIV ({rrf_k} + {name}_rank) AS BIGINT)"
            ),
            F.lit(0).cast("long"),
        )
        score = term if score is None else score + term
    return (
        fused.withColumn("rrf_nano", score)
        .withColumn("rrf_score", F.col("rrf_nano") / F.lit(1000000000.0))
        .orderBy(F.col("rrf_nano").desc(), F.col(id_col).asc())
        .limit(k)
    )

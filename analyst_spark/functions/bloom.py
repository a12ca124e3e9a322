"""Blocked Bloom filter as a DataFrame word table — shuffle pruning
for selective semi-joins.

The 100 TB problem this solves: a fact⋈dim semi-join whose dim side
is too large to broadcast as an exact set still forces a full
shuffle of the fact table on the join key. A Bloom filter over the
dim keys is a FIXED-SIZE, MERGEABLE summary (like the HLL/CMS/KLL
sketches elsewhere in this package): build it with one map-side-
combined aggregation over the dim keys, broadcast the (at most
``n_bits/64``-row) word table, and pre-filter the fact side with
two broadcast hash joins **before** the exact join — only candidate
rows (true matches + an ``(1-e^(-kn/m))^k`` false-positive sliver)
ever reach the shuffle. Because the exact join still runs on the
surviving candidates, the END RESULT is exactly the plain semi-join
for any filter parameters — false positives cost only wasted
candidate rows, and false negatives are impossible by construction
(the probe reads the same ``xxhash64(key, seed) mod n_bits``
positions the build set). That is also why the whole pipeline stays
hash-gateable against a plain-SQL oracle.

This is the manual, engine-portable form of what Spark's runtime
bloom-filter join injection (``spark.sql.optimizer.runtime.
bloomFilter.enabled``) does inside Catalyst: we build it explicitly
so the pruning applies to any plan shape (including multi-stage
pipelines where the dim side is itself a computed frame) and so the
filter's size/precision trade is a declared parameter rather than a
planner heuristic. Size ``n_bits`` proportionally to the expected
key count — ~16 bits/key with k=2 probes gives ~1% false positives;
the word table is ``n_bits/64`` longs (64 KiB per 2^19 bits), flat
regardless of fact-side row count.

Representation: positions pack into 64-bit words —
``word_idx = pos >> 6``, ``mask = 1 << (pos & 63)`` — and the build
is ``groupBy(word_idx).agg(bit_or(mask))``, i.e. the aggregation
buffer IS the filter and partial merge is bitwise OR (commutative,
associative, partition-order-free). Only words with at least one
set bit are materialized, so a sparse filter is smaller still.

No analog in the reference (its LOOKUP caches the entire build side
in a process-local map, transforms/lookup.go:50 — the strategy this
module exists to outgrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import persist


def bloom_build(
    keys: DataFrame, key_col: str, n_bits: int, n_hashes: int = 2
) -> DataFrame:
    """Aggregate distinct ``key_col`` values into a Bloom word table
    ``(word_idx long, bits long)``.

    NULL keys are dropped (SQL join semantics: NULL matches nothing,
    so it needs no bits). ``n_bits`` must be a positive multiple of
    64; positions come from ``pmod(xxhash64(key, seed), n_bits)``
    with seeds ``0..n_hashes-1``.
    """
    if n_bits <= 0 or n_bits % 64 != 0:
        raise ValueError(f"n_bits must be a positive multiple of 64, got {n_bits}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    k = F.col(key_col)
    pos = (
        keys.filter(k.isNotNull())
        .select(
            F.explode(
                F.array(*[
                    F.pmod(F.xxhash64(k, F.lit(i)), F.lit(n_bits))
                    for i in range(n_hashes)
                ])
            ).alias("pos")
        )
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("word_idx"),
            # shiftleft's bit count must be column-valued here; the
            # PySpark wrapper only takes a literal int, so spell it
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prune(
    fact: DataFrame,
    key_col: str,
    words: DataFrame,
    n_bits: int,
    n_hashes: int = 2,
) -> DataFrame:
    """Keep only fact rows whose ``key_col`` MIGHT be in the filter.

    One broadcast left join per hash against the word table; a row
    survives iff every probed word exists and has the probed bit set.
    Never drops a true match (same hash/seed/position arithmetic as
    :func:`bloom_build`); NULL keys are dropped, matching semi-join
    semantics. Columns of ``fact`` pass through unchanged.
    """
    out = fact.filter(F.col(key_col).isNotNull())
    for i in range(n_hashes):
        p = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        w = F.broadcast(
            words.select(
                F.col("word_idx").alias(f"_bf_w{i}"),
                F.col("bits").alias(f"_bf_b{i}"),
            )
        )
        out = (
            out.withColumn(f"_bf_p{i}", p)
            .join(w, F.shiftright(f"_bf_p{i}", 6) == F.col(f"_bf_w{i}"), "left")
            .filter(
                F.col(f"_bf_b{i}").isNotNull()
                & (
                    F.col(f"_bf_b{i}").bitwiseAND(
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT),"
                            f" CAST(_bf_p{i} % 64 AS INT))"
                        )
                    )
                    != 0
                )
            )
            .drop(f"_bf_p{i}", f"_bf_w{i}", f"_bf_b{i}")
        )
    return out


# Ceiling on auto-sizing: 2^26 bits = 8 MiB of words — the same cap
# Spark's runtime bloom-filter injection uses (sql/catalyst
# InjectRuntimeFilter, spark.sql.optimizer.runtime.bloomFilter.
# maxNumBits default 67108864). Past ~4M keys the FP rate rises as
# keys/capacity instead of the table growing: the filter must stay
# collect/broadcast-cheap or its probes cost more than the shuffle
# they save. Callers with billions of keys should expect partial
# pruning and size bits_per_key DOWN consciously via explicit n_bits.
MAX_AUTO_BITS = 1 << 26


def sized_bits(n_keys: int, bits_per_key: int = 16) -> int:
    """Power-of-two filter size at ~``bits_per_key`` (k=2 probes at
    16 bits/key ⇒ ~1% false positives), floored at 2^16 (8 KiB) so
    tiny dims don't degenerate to a handful of words and capped at
    :data:`MAX_AUTO_BITS` so huge dims keep the word table
    broadcastable (the FP rate then degrades gracefully instead of
    the plan blowing up)."""
    n = max(1 << 16, min(n_keys * bits_per_key, MAX_AUTO_BITS))
    return 1 << (n - 1).bit_length()


def bloom_semi_join(
    fact: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    n_bits: int | None = None,
    n_hashes: int = 2,
) -> DataFrame:
    """Exact left-semi join of ``fact`` against ``dim_keys``, with a
    Bloom pre-filter pruning the fact side before the join shuffle.

    Result is EXACTLY ``fact.join(dim, key, "left_semi")`` for ANY
    ``n_bits`` — the Bloom stage only narrows what the exact join
    has to shuffle.

    ``n_bits=None`` (the production default) sizes the filter from a
    count of the dim keys at ~16 bits/key: a FIXED size saturates as
    the key set grows — tools/bloom_probe.py measures 2^19 bits
    decaying from 1.1% to 47% false positives across one decade of
    keys, while per-key sizing holds <1% at a still-broadcastable
    word table (1 MiB per ~300k keys). The count is one cheap
    dim-side job; callers that already know the cardinality (or need
    a fully-lazy plan) pass ``n_bits`` explicitly.

    The word table is materialized ONCE. Small tables (≤ 2^22 bits,
    64 KiB per 2^19) collect to the driver and re-broadcast as a
    local relation — the historical device that stops each of the
    ``n_hashes`` probe joins from re-running the dim-side aggregation
    (per-probe projections defeat canonicalized-plan exchange reuse).
    LARGE tables (per-key sizing at tens of millions of keys → 2^28+
    bits = millions of words) must NOT round-trip through the driver:
    the r13 bloom-regime probe measured the py4j collect dominating
    the whole bloom path at 2^28 — those persist executor-side and
    the probes broadcast the cached frame directly (same recompute
    protection, no driver copy; at 100 TB a 2^30 table is a 128 MiB
    executor broadcast, never a driver round-trip).
    """
    spark = fact.sparkSession
    if n_bits is None:
        n_bits = sized_bits(
            dim_keys.filter(F.col(dim_key).isNotNull()).count()
        )
    built = bloom_build(dim_keys, dim_key, n_bits, n_hashes)
    if n_bits <= (1 << 22):
        rows = built.collect()
        words = spark.createDataFrame(rows, "word_idx long, bits long")
    else:
        words = persist(built, fill=True)
    candidates = bloom_prune(fact, fact_key, words, n_bits, n_hashes)
    dim = dim_keys.select(F.col(dim_key).alias(fact_key)).filter(
        F.col(fact_key).isNotNull()
    )
    return candidates.join(dim, on=fact_key, how="left_semi")

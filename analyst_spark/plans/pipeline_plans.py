"""Training-data curation plans beyond the reference surface:
benchmark contamination, PII scan/scrub, intra-document repetition,
and vocabulary building. Companions to text_plans.py — same oracle
conventions (parameters shared between the Spark plan and the
generated DuckDB SQL so they cannot drift).

The synthetic documents are clean word-salad, so the PII entry plants
deterministic PII (emails/phones keyed off doc_id) on BOTH sides —
the detector must recover exactly the planted set, the same
plant-and-recover pattern dedup_embedding uses for its twins.

Scale notes per function; common to all: one pass over documents,
tokenization and n-gram construction are built-in column expressions
(split/slice/transform — JVM-side, no Python), aggregations get
map-side partial combine.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import persist
from analyst_spark.tables import load_tables, spread

# ------------------------------------------------- shared expressions

_NGRAM_N = 8          # contamination shingle width
_BENCH_MOD = 97       # doc_id % _BENCH_MOD == 0 → benchmark member
_REP_N = 3            # repetition shingle width
_TOP_K = 5            # vocabulary depth per language

# Quantifiers are BOUNDED (RFC 5321 caps: local part <= 64, domain
# label <= 63): unbounded `[a-z0-9]+@` makes Java's backtracking
# engine O(run²) on long alphanumeric runs — a single 100k-char
# base64-ish token cost ~120 s/doc in the r7 pathological-text sweep,
# and 100 TB corpora DO contain such runs. Bounded quantifiers cap
# the backtrack depth at 64, restoring O(run·64); matches on
# RFC-valid PII are identical (both gates re-verified).
_EMAIL_RE = r"[a-z0-9]{1,64}@[a-z0-9]{1,63}\.[a-z]{1,24}"
_PHONE_RE = r"555-[0-9]{4}"
_PII_RE = f"({_EMAIL_RE}|{_PHONE_RE})"


def _ngrams(toks: Column, n: int) -> Column:
    """All word n-grams of a token array as space-joined strings;
    empty when the document is shorter than n tokens.

    ``toks`` MUST be a materialized column reference (select the
    split into a column first), never an inline ``F.split(...)``
    expression: the transform lambda references ``toks`` per element,
    and Catalyst re-evaluates a captured outer expression for EVERY
    element — an inline split turns O(tokens) into O(tokens²)
    (measured 223s vs 0.6s on one 60k-token document; found by the
    r7 pathological-text sweep). Enforced: any composite expression
    (anything with a '(' in its string form) is rejected here, after
    the same trap shipped three times (r7, r12, r13)."""
    if "(" in str(toks):
        raise ValueError(
            "_ngrams requires a materialized column reference; got "
            f"expression {toks} — select the split into a column "
            "first (inline expressions are re-evaluated per element: "
            "O(tokens²) on long documents; see docstring)"
        )
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _duck_ngrams(n: int) -> str:
    """DuckDB twin of _ngrams: 1-based inclusive list slicing,
    range(1, len-n+2) = positions 1..len-n+1."""
    return (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_transform(range(1, len(t) - {n - 2}), "
        f"i -> array_to_string(t[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


# ------------------------------------------- benchmark contamination

def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag documents whose 8-gram
    overlap with a benchmark set is >= 50% of their own 8-grams.

    The benchmark is the documents with doc_id % 97 == 0 (standing in
    for an eval set like GSM8K/MMLU prompts); every other document is
    scored by how many of its 8-gram occurrences appear in the
    benchmark's distinct 8-gram set. Benchmark members self-flag at
    ratio 1.0; documents sharing long phrase runs with a benchmark
    member (the synthetic corpus plants such near-copies) flag when
    they cross the threshold — both engines compute the same exact
    integer counts, so the oracle comparison is exact.

    At 100 TB: benchmark n-grams are small by definition (an eval
    suite, not the corpus) → broadcast; the corpus side is one scan +
    explode (factor ≈ tokens/doc) + one hash aggregation keyed on
    doc_id. No corpus-sized shuffle joins.
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    # n-grams carry only a 64-bit xxhash into the join: membership is
    # set-intersection, so the string itself never needs to shuffle or
    # broadcast (~8x less volume). A hash collision could only inflate
    # a count by claiming a non-benchmark 8-gram; at p ~ n²/2⁶⁴ that
    # is beyond negligible, and the oracle run would surface it.
    # Consumed twice (benchmark side + corpus side) and the benchmark
    # side materializes eagerly as a broadcast subquery — unpersisted,
    # the whole scan→shingle→hash pipeline ran once per consumer
    # (measured 5s → 0.85s at sf0.1). At cluster scale: exchange/cache
    # reuse of the shingled table, the same device lsh_neardup_pairs
    # uses.
    toks = persist(
        docs.select("doc_id", F.split(F.col("text"), " ").alias("t")).select(
            "doc_id",
            F.transform(
                _ngrams(F.col("t"), _NGRAM_N), lambda g: F.xxhash64(g)
            ).alias("gs"),
        ),
        fill=True,
    )

    bench = (
        toks.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    exploded = toks.select("doc_id", F.size("gs").alias("n_ngrams"),
                           F.explode("gs").alias("g"))
    scored = (
        exploded.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        scored.withColumn(
            "overlap_ratio",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6),
        )
        .filter(F.col("overlap_ratio") >= 0.5)
        .select("doc_id", F.col("n_ngrams").cast("long").alias("n_ngrams"),
                F.col("n_matched").cast("long").alias("n_matched"),
                "overlap_ratio")
    )


CONTAMINATION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ng AS (
    SELECT doc_id, {_duck_ngrams(_NGRAM_N)} AS gs FROM toks
), bench AS (
    SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % {_BENCH_MOD} = 0
), exploded AS (
    SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g FROM ng
), scored AS (
    SELECT e.doc_id, e.n_ngrams, count(*) AS n_matched
    FROM exploded e JOIN bench b ON e.g = b.g
    GROUP BY e.doc_id, e.n_ngrams
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_matched AS BIGINT) AS n_matched,
       round(n_matched / CAST(n_ngrams AS DOUBLE), 6) AS overlap_ratio
FROM scored
WHERE round(n_matched / CAST(n_ngrams AS DOUBLE), 6) >= 0.5
"""


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination check for the regime where the benchmark
    n-gram set is too LARGE to broadcast as an exact hash set: a
    Bloom word table (functions/bloom.py) over the benchmark's
    distinct 8-gram hashes prunes the corpus postings map-side, and
    only the survivors (true matches + the bounded false-positive
    sliver) reach the exact membership join. False negatives are
    impossible by construction (probe = build arithmetic), so the
    END RESULT is bit-identical to contamination_ngram — this entry
    registers with the SAME oracle, making "the bloom path changes
    nothing but the plan" a hash-checked claim.

    Why it matters at 100 TB: contamination_ngram broadcasts the
    benchmark's distinct n-grams, which works while the eval suite is
    eval-suite-sized. Decontaminating against a large held-out corpus
    (or the union of many benchmarks) breaks the broadcast; the exact
    join must shuffle — and shuffling EVERY posting of a 100 TB
    corpus on a 64-bit key is the dominant cost of the whole check.
    The Bloom table stays flat (n_bits/64 longs regardless of corpus
    size), prunes postings before they shuffle, and the surviving
    exact join moves only ~answer-sized data. Same discipline as
    lineitem_bloom_semijoin, applied to the curation pipeline.
    """
    from analyst_spark.functions.bloom import bloom_semi_join

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    toks = persist(
        docs.select("doc_id", F.split(F.col("text"), " ").alias("t")).select(
            "doc_id",
            F.transform(
                _ngrams(F.col("t"), _NGRAM_N), lambda g: F.xxhash64(g)
            ).alias("gs"),
        ),
        fill=True,
    )

    # bench is consumed three times inside bloom_semi_join (sizing
    # count, filter build, exact verify): persist so the distinct runs
    # once. It is benchmark-sized, not corpus-sized.
    bench = persist(
        toks.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct(),
        fill=False,
    )
    exploded = toks.select(
        "doc_id", F.size("gs").alias("n_ngrams"), F.explode("gs").alias("g")
    )
    # bloom_semi_join = word-table prune (auto-sized from the measured
    # bench key count at ~16 bits/key — a fixed size saturates one
    # decade up; n_bits never changes the answer) + exact verify on
    # the survivors only. Because bench grams are DISTINCT, the exact
    # semi-join is row-for-row the inner join the broadcast entry
    # runs, so each surviving posting counts exactly once. The verify
    # join is deliberately NOT broadcast-hinted: this entry models the
    # bench-too-big-to-broadcast regime (AQE broadcasts at gate scale,
    # shuffles at 100 TB — over the pruned survivors either way).
    semi = bloom_semi_join(exploded, "g", bench, "g")
    scored = (
        semi
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        scored.withColumn(
            "overlap_ratio",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6),
        )
        .filter(F.col("overlap_ratio") >= 0.5)
        .select("doc_id", F.col("n_ngrams").cast("long").alias("n_ngrams"),
                F.col("n_matched").cast("long").alias("n_matched"),
                "overlap_ratio")
    )




# v2 of the benchmark suite adds the doc_id % _BENCH_MOD2 members; the
# DELTA entry probes only the grams the update introduced
_BENCH_MOD2 = 89


def contamination_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL decontamination for a benchmark-suite UPDATE: when
    the eval suite grows (v2 = v1 ∪ the doc_id % _BENCH_MOD2 members),
    re-running the full check rescans the corpus against the whole v2
    gram set for answers the v1 run already produced. This entry
    probes the corpus against ONLY the DELTA grams (v2-only docs'
    distinct 8-grams minus v1's), returning the NEWLY contaminated
    training docs — the review queue the suite update actually
    creates. Already-benchmark docs (either version) are excluded
    from the scored side.

    At 100 TB this is the eval-suite-lifecycle shape of
    contamination_ngram: the maintained state is the v1 gram set (an
    eval-suite-sized table), the delta is smaller still → broadcast;
    the corpus is scanned once per suite update instead of once per
    suite VERSION-SIZE, exactly the incremental-lifecycle discipline
    the dedup families follow. Oracle: the identical arithmetic in
    DuckDB (shared _NGRAM_N / xxhash64 / ≥0.5 threshold), exact.
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    toks = persist(
        docs.select("doc_id", F.split(F.col("text"), " ").alias("t")).select(
            "doc_id",
            F.transform(
                _ngrams(F.col("t"), _NGRAM_N), lambda g: F.xxhash64(g)
            ).alias("gs"),
        ),
        fill=False,
    )
    # shared by v1 grams, delta grams, and the scan; the cache fills
    # inside the delta-gram broadcast build (r14: the dedicated count
    # job did the same transform pass one job earlier, buying nothing)

    is_v1 = F.col("doc_id") % _BENCH_MOD == 0
    is_new = (F.col("doc_id") % _BENCH_MOD2 == 0) & ~is_v1
    old_grams = (
        toks.filter(is_v1).select(F.explode("gs").alias("g")).distinct()
    )
    # NOT persisted (r14): the ONLY consumer is the forced-broadcast
    # join below — the broadcast exchange materializes this subtree
    # exactly once, and F.broadcast ignores statistics, so the former
    # persist+count pair was a full extra pass over the delta grams.
    delta_grams = (
        toks.filter(is_new)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .join(old_grams, "g", "left_anti")
    )
    exploded = toks.filter(~is_v1 & ~is_new).select(
        "doc_id", F.size("gs").alias("n_ngrams"), F.explode("gs").alias("g")
    )
    scored = (
        exploded.join(F.broadcast(delta_grams), "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        scored.withColumn(
            "overlap_ratio",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6),
        )
        .filter(F.col("overlap_ratio") >= 0.5)
        .select("doc_id", F.col("n_ngrams").cast("long").alias("n_ngrams"),
                F.col("n_matched").cast("long").alias("n_matched"),
                "overlap_ratio")
    )


CONTAMINATION_DELTA_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ng AS (
    SELECT doc_id, {_duck_ngrams(_NGRAM_N)} AS gs FROM toks
), old_grams AS (
    SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % {_BENCH_MOD} = 0
), delta_grams AS (
    SELECT DISTINCT unnest(gs) AS g FROM ng
    WHERE doc_id % {_BENCH_MOD2} = 0 AND doc_id % {_BENCH_MOD} <> 0
    EXCEPT SELECT g FROM old_grams
), exploded AS (
    SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g FROM ng
    WHERE doc_id % {_BENCH_MOD} <> 0 AND doc_id % {_BENCH_MOD2} <> 0
), scored AS (
    SELECT e.doc_id, e.n_ngrams, count(*) AS n_matched
    FROM exploded e JOIN delta_grams d ON e.g = d.g
    GROUP BY e.doc_id, e.n_ngrams
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_matched AS BIGINT) AS n_matched,
       round(n_matched / CAST(n_ngrams AS DOUBLE), 6) AS overlap_ratio
FROM scored
WHERE round(n_matched / CAST(n_ngrams AS DOUBLE), 6) >= 0.5
"""


def _bench_gram_hashes(docs: DataFrame, member: Column) -> DataFrame:
    """Distinct 8-gram xxhash64 values of the ``member`` benchmark
    docs as a one-column frame ``g`` — the SINGLE-select
    explode(transform(_ngrams, hash)) shape, which the r14 probe
    measured LINEAR (0.4 s at 60k tokens) where the two-step
    Project-then-consume form is O(tokens²) unless persisted."""
    return (
        docs.filter(member)
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .select(
            F.explode(
                F.transform(
                    _ngrams(F.col("t"), _NGRAM_N), lambda g: F.xxhash64(g)
                )
            ).alias("g")
        )
        .distinct()
    )


def build_v1_gram_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> None:
    """The PRIOR run of the eval-suite lifecycle: materialize the v1
    benchmark gram set (distinct 8-gram hashes of the v1 suite docs)
    to ``{state_dir}/v1_grams`` — the maintained state the docstring
    of :func:`contamination_delta` promises a deployment keeps. The
    scan is pushed down to the v1 members only; the written table is
    eval-suite-sized (never corpus-sized), the same storage-backed
    discipline as ``functions/incremental.save_state``."""
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id").select(
        "doc_id", "text"
    )
    _bench_gram_hashes(docs, F.col("doc_id") % _BENCH_MOD == 0).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, "v1_grams"))


def delta_update_from_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> DataFrame:
    """The SUITE-UPDATE run: consume the STORED v1 gram table instead
    of recomputing it from the corpus (the recompute is exactly the
    36×-per-1000× superlinear share the r13 ×1000 probe measured in
    :func:`contamination_delta`). The anti-join right side is now a
    state-sized parquet read; only the v2-only docs' grams and the
    training-corpus scan remain corpus work.

    The delta is eagerly materialized (bounded: eval-suite-DELTA-
    sized by the entry's premise) so the returned plan does not pin
    ``state_dir`` — callers may remove the state directory as soon as
    this function returns (the write_shards manifest device)."""
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    is_v1 = F.col("doc_id") % _BENCH_MOD == 0
    is_new = (F.col("doc_id") % _BENCH_MOD2 == 0) & ~is_v1
    stored = spark.read.parquet(os.path.join(state_dir, "v1_grams"))
    delta = _bench_gram_hashes(docs.select("doc_id", "text"), is_new).join(
        stored, "g", "left_anti"
    )
    delta_grams = persist(  # broadcast side; real stats for the join
        spark.createDataFrame([(r.g,) for r in delta.collect()], "g bigint"),
        fill=True,
    )

    # corpus scan side: identical to contamination_delta's tail —
    # persisted toks (the two-step hashed-gram shape is linear ONLY
    # through a persist barrier; r14 measured 228 s vs 2 s unpersisted
    # at 60k tokens)
    toks = persist(
        docs.filter(~is_v1 & ~is_new)
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .select(
            "doc_id",
            F.transform(
                _ngrams(F.col("t"), _NGRAM_N), lambda g: F.xxhash64(g)
            ).alias("gs"),
        ),
        fill=True,
    )
    exploded = toks.select(
        "doc_id", F.size("gs").alias("n_ngrams"), F.explode("gs").alias("g")
    )
    scored = (
        exploded.join(F.broadcast(delta_grams), "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        scored.withColumn(
            "overlap_ratio",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6),
        )
        .filter(F.col("overlap_ratio") >= 0.5)
        .select("doc_id", F.col("n_ngrams").cast("long").alias("n_ngrams"),
                F.col("n_matched").cast("long").alias("n_matched"),
                "overlap_ratio")
    )


def contamination_delta_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`contamination_delta` as the MAINTAINED-STATE lifecycle
    it documents (VERDICT r13 #2): the v1 gram set is built once by
    the prior run (:func:`build_v1_gram_state`, storage-backed) and
    the suite update (:func:`delta_update_from_state`) consumes the
    stored table — the corpus is never rescanned for v1 grams. The
    gate entry runs both phases back-to-back so it is standalone and
    deterministic; the ×1000 probe times the update phase alone
    against prebuilt state, which is what a deployment pays per suite
    update. Row-identical to ``contamination_delta`` (same DuckDB
    oracle, same hash)."""
    import shutil
    import tempfile

    state_dir = tempfile.mkdtemp(prefix="asp_delta_state_")
    try:
        build_v1_gram_state(spark, sf_dir, state_dir)
        return delta_update_from_state(spark, sf_dir, state_dir)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# ------------------------------------------ deterministic global shuffle

_SHUFFLE_SEED = "epoch0"  # training-order seed: new epoch = new seed
# per-shard row budget for the AUTO-SIZED seeded shuffle (r13,
# VERDICT r12 #5): n_shards = ceil(corpus / _ROWS_PER_SHARD), derived
# identically in the entry (functions/shuffle.py shard_count_for) and
# the oracle SQL (scalar count subquery) so both engines compute the
# same permutation. 256 keeps BOTH gate decades multi-shard (sf0.01:
# 500 docs -> 2 shards, sf0.1: 5000 -> 20) and bounds the ×1000
# probe's per-shard sort at 256 rows; production uses
# shuffle.DEFAULT_ROWS_PER_SHARD (4M rows ≈ one task's spill budget).
_ROWS_PER_SHARD = 256


def _hex8_horner(col: str) -> str:
    """DuckDB twin of Spark's conv(substring(x,1,8), 16, 10) — the
    shared device in plans/oracle_sql.py."""
    from analyst_spark.plans.oracle_sql import hex_prefix_horner

    return hex_prefix_horner(col, 8)


def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle for training order:
    shuffle_key = md5(seed ':' doc_id), shard = first 32 key bits mod
    N_SHARDS, pos = rank within the shard by key. Re-running with the
    same seed reproduces the exact order (resumable training,
    auditable data order); a new epoch is just a new seed string.

    At 100 TB this is how you randomize training order WITHOUT a
    global sort: the md5 key decorrelates doc_id locality, the shard
    assignment is a single hash-partitioned exchange, and each
    position window sorts one shard independently (size corpus/N —
    pick N so a shard fits a task's spill budget). No total order is
    ever materialized; the training loader reads shards in shard_id
    order and rows in pos order, which IS the seeded permutation.
    Both engines compute identical md5 strings and identical 32-bit
    prefixes, so the gate checks the permutation itself.
    """
    from analyst_spark.functions.shuffle import seeded_shuffle

    # No spread() here: seeded_shuffle's window exchange is the ONLY
    # shuffle this plan needs (verified in the formatted plan: scan →
    # project → single Exchange → Window; the projection below prunes
    # the text payload out of the scan).
    docs = load_tables(spark, sf_dir)["documents"]
    return seeded_shuffle(
        docs, "doc_id", seed=_SHUFFLE_SEED,
        rows_per_shard=_ROWS_PER_SHARD,
    ).select("doc_id", "shuffle_key", "shard_id", "pos")


DOCS_GLOBAL_SHUFFLE_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR)))
               AS shuffle_key
    FROM documents
), sharded AS (
    SELECT doc_id, shuffle_key,
           CAST(({_hex8_horner('shuffle_key')})
                % (SELECT greatest(1, (count(*) + 255) // 256) FROM documents) AS BIGINT)
               AS shard_id
    FROM keyed
)
SELECT doc_id, shuffle_key, shard_id,
       CAST(row_number() OVER (
           PARTITION BY shard_id ORDER BY shuffle_key, doc_id
       ) AS BIGINT) AS pos
FROM sharded
"""


_N_EPOCHS = 3


def docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training order in ONE pass: every epoch of a
    training run needs a DIFFERENT reproducible permutation, and a
    pipeline that re-runs docs_global_shuffle per epoch re-scans the
    corpus E times. Here the doc-id manifest is scanned once, each
    row explodes into E epoch rows, the per-epoch seed is
    ``{seed}-e{epoch}`` (same md5-key device as seeded_shuffle —
    functions/shuffle.py), and shard/pos come from ONE
    (epoch, shard_id) hash exchange — epochs are just more partitions
    of the same window, so wall-clock is one shuffle of E× manifest
    rows (manifest = ids + keys, NOT payload; the loader joins
    payload per shard at read time, which is why text is pruned from
    the scan here).

    Shard count derives from the CORPUS count (not E× rows): each
    epoch's shards must individually match docs_global_shuffle's
    layout so a resumable loader can treat every epoch identically.
    Cross-epoch decorrelation is pinned in tests/test_epoch_shuffle.py.
    """
    from analyst_spark.functions.shuffle import shard_count_for

    docs = load_tables(spark, sf_dir)["documents"]
    # bounded driver round-trip: one count (parquet metadata at scale)
    n_shards = shard_count_for(docs.count(), _ROWS_PER_SHARD)
    keyed = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(_N_EPOCHS)])
        ).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit(f"{_SHUFFLE_SEED}-e"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("shuffle_key"),
    )
    sharded = keyed.withColumn(
        "shard_id",
        (
            F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long")
            % n_shards
        ),
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy(
        "shuffle_key", "doc_id"
    )
    return sharded.select(
        "epoch",
        "doc_id",
        "shuffle_key",
        "shard_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


DOCS_EPOCH_SHUFFLE_ORACLE = f"""
WITH keyed AS (
    SELECT e.epoch, doc_id,
           md5(concat('{_SHUFFLE_SEED}-e', CAST(e.epoch AS VARCHAR),
                      ':', CAST(doc_id AS VARCHAR))) AS shuffle_key
    FROM documents
    CROSS JOIN (SELECT unnest(range({_N_EPOCHS})) AS epoch) e
), sharded AS (
    SELECT epoch, doc_id, shuffle_key,
           CAST(({_hex8_horner('shuffle_key')})
                % (SELECT greatest(1, (count(*) + {_ROWS_PER_SHARD - 1}) // {_ROWS_PER_SHARD}) FROM documents) AS BIGINT)
               AS shard_id
    FROM keyed
)
SELECT epoch, doc_id, shuffle_key, shard_id,
       CAST(row_number() OVER (
           PARTITION BY epoch, shard_id ORDER BY shuffle_key, doc_id
       ) AS BIGINT) AS pos
FROM sharded
"""




# --------------------------------------------------- PII scan / scrub

def _planted_text() -> Column:
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.format_string(" contact user%d@example.com", F.col("doc_id")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        ).otherwise(""),
    )


_DUCK_PLANTED = """text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
            ELSE '' END"""


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + scrub accounting, rolled up per source: how many
    documents carry emails / phone numbers, total occurrences, and
    how many characters scrubbing removes.

    Detection is regex column expressions (regexp_count /
    regexp_replace — JVM, codegen'd); patterns are shared string
    constants with the oracle. At 100 TB this is a pure map + one
    small aggregation by source: no joins, no Python, scales with
    scan bandwidth. A real deployment swaps the planted-PII column
    for the raw text and adds patterns; the plan shape is unchanged.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    per_doc = docs.select(
        "source",
        F.regexp_count(_planted_text(), F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count(_planted_text(), F.lit(_PHONE_RE)).alias("n_phone"),
        (
            F.length(_planted_text())
            - F.length(F.regexp_replace(_planted_text(), _PII_RE, ""))
        ).alias("removed_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_email") > 0).cast("long")).alias("docs_with_email"),
        F.sum("n_email").cast("long").alias("total_emails"),
        F.sum((F.col("n_phone") > 0).cast("long")).alias("docs_with_phone"),
        F.sum("n_phone").cast("long").alias("total_phones"),
        F.sum("removed_chars").cast("long").alias("total_removed_chars"),
    )


TEXT_PII_ORACLE = f"""
WITH planted AS (
    SELECT source, {_DUCK_PLANTED} AS p FROM documents
), per_doc AS (
    SELECT source,
           len(regexp_extract_all(p, '{_EMAIL_RE}')) AS n_email,
           len(regexp_extract_all(p, '{_PHONE_RE}')) AS n_phone,
           length(p) - length(regexp_replace(p, '{_PII_RE}', '', 'g')) AS removed_chars
    FROM planted
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(n_email) AS BIGINT) AS total_emails,
       CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(sum(n_phone) AS BIGINT) AS total_phones,
       CAST(sum(removed_chars) AS BIGINT) AS total_removed_chars
FROM per_doc
GROUP BY source
"""


# ------------------------------------------------- repetition stats

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of word 3-gram occurrences that are repeats of an
    earlier 3-gram in the same document, plus 2-gram counterparts.

    Everything is per-row array arithmetic (size vs array_distinct
    size — exact integers, so the derived ratio is bit-identical
    across engines). At 100 TB: map-only over the corpus scan, no
    shuffle at all; the downstream filter (drop documents above a
    repetition threshold) composes as a predicate on this output.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # split into a COLUMN first — _ngrams' lambda would re-evaluate
    # an inline split per element (O(tokens²) on long docs)
    base = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__t")
    )
    t = F.col("__t")
    g3, g2 = _ngrams(t, _REP_N), _ngrams(t, 2)
    return base.select(
        "doc_id",
        F.size(g3).cast("long").alias("n_gram3"),
        (F.size(g3) - F.size(F.array_distinct(g3))).cast("long").alias("n_dup3"),
        F.round(
            (F.size(g3) - F.size(F.array_distinct(g3)))
            / F.greatest(F.size(g3), F.lit(1)),
            6,
        ).alias("dup3_ratio"),
        (F.size(g2) - F.size(F.array_distinct(g2))).cast("long").alias("n_dup2"),
    )


TEXT_REPETITION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ng AS (
    SELECT doc_id,
           {_duck_ngrams(_REP_N)} AS g3,
           {_duck_ngrams(2)} AS g2
    FROM toks
)
SELECT doc_id,
       CAST(len(g3) AS BIGINT) AS n_gram3,
       CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS n_dup3,
       round((len(g3) - len(list_distinct(g3)))
             / CAST(greatest(len(g3), 1) AS DOUBLE), 6) AS dup3_ratio,
       CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) AS n_dup2
FROM ng
"""


# -------------------------------------------------- vocabulary build

def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-5 tokens per language by occurrence
    count, ties broken by token ascending (deterministic).

    At 100 TB: explode + hash-aggregate on (lang, token) gets
    map-side partial combine, so the shuffle carries one row per
    distinct (lang, token) — vocabulary-sized, not corpus-sized; the
    rank window then runs per language over vocabulary-sized groups.
    The classic first step of tokenizer training.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    counts = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TOP_K)
        .select("lang", "token", "cnt", "rnk")
    )


_PMI_MIN_COUNT = 5   # support floor: rare pairs have unstable PMI
_PMI_TOP_K = 50


def docs_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (phrase induction): the top-K adjacent token
    pairs by pointwise mutual information — the classic signal for
    pre-merging multiword units ("new york") before tokenizer
    training (Church & Hanks 1990).

    Exactness device: PMI = log p(ab)/(p(a)p(b)) needs no log to
    RANK — log is monotone, so the entry reports the exact integer
    association LIFT in micro-units instead:

        lift_micro = (c_ab * N1^2 * 1e6) DIV (N2 * c_a * c_b)

    (PMI = log2(lift_micro/1e6)). All factors are counts, the product
    rides DECIMAL(28,0) intermediates (HUGEINT in the oracle) exactly
    as the BM25 scorer does, and no ln()-parity assumption enters the
    gate. Bound: the numerator fits 38 digits through ~1e11 corpus
    tokens; past that, pre-scale N1 into the support floor.

    Scale shape: both count tables are VOCABULARY-bounded (unigrams,
    distinct bigrams) after map-side-combined aggregation — the
    corpus-sized explode never shuffles raw tokens, only (pair,count)
    rows. The two count joins are aggregate-derived (AQE broadcasts
    them at runtime); the corpus scalars ride one 1-row broadcast.
    Top-K is a TakeOrderedAndProject with the deterministic
    (lift desc, w1, w2) order.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tok = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
    )
    uni_src = tok.select(F.explode("t").alias("w")).filter(F.col("w") != "")
    uni = uni_src.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    bi = (
        tok.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    corpus = uni.agg(F.sum("c1").alias("n1")).crossJoin(
        bi.agg(F.sum("c2").alias("n2"))
    )
    ca = uni.select(F.col("w").alias("w1"), F.col("c1").alias("ca"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c1").alias("cb"))
    return (
        bi.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        # 1-row corpus scalars: broadcast nested-loop by construction
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "lift_micro",
            F.expr(
                "CAST(CAST(c2 AS DECIMAL(28,0)) * n1 * n1 * 1000000"
                "     DIV (CAST(n2 AS DECIMAL(28,0)) * ca * cb) AS BIGINT)"
            ),
        )
        .select("w1", "w2", F.col("c2").alias("pair_count"), "lift_micro")
        .orderBy(F.col("lift_micro").desc(), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


DOCS_COLLOCATIONS_ORACLE = rf"""
WITH toks AS (
    SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents WHERE text IS NOT NULL
), uni AS (
    SELECT unnest(t) AS w FROM toks
), c1 AS (
    SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY 1
), n1t AS (
    SELECT CAST(sum(c) AS HUGEINT) AS n1 FROM c1
), bi AS (
    SELECT unnest(CASE WHEN len(t) >= 2
        THEN [struct_pack(w1 := t[i], w2 := t[i+1])
              for i in range(1, len(t))]
        ELSE [] END) AS g
    FROM toks
), c2 AS (
    SELECT g.w1 AS w1, g.w2 AS w2, count(*) AS c FROM bi GROUP BY 1, 2
), n2t AS (
    SELECT CAST(sum(c) AS HUGEINT) AS n2 FROM c2
)
SELECT c2.w1, c2.w2, CAST(c2.c AS BIGINT) AS pair_count,
       CAST(CAST(c2.c AS HUGEINT) * n1 * n1 * 1000000
            // (n2 * ca.c * cb.c) AS BIGINT) AS lift_micro
FROM c2, n1t, n2t
JOIN c1 ca ON ca.w = c2.w1
JOIN c1 cb ON cb.w = c2.w2
WHERE c2.c >= {_PMI_MIN_COUNT}
ORDER BY lift_micro DESC, c2.w1, c2.w2
LIMIT {_PMI_TOP_K}
"""


_CMS_EPS = 1e-4     # width = 2/eps = 20000 counters/row
_CMS_CONF = 0.99    # depth = ceil(-ln .01 / ln 2) = 7 rows
_CMS_SEED = 42
_HH_TOP_K = 25


HH_SCHEMA = "rnk long, token string, cnt long, est_cms long"


def hh_head_frame(spark: SparkSession, head, blob_fn) -> DataFrame:
    """Shared tail of the batch/streaming heavy-hitters twins:
    assemble (rnk, token, cnt, est_cms) from the exact head rows and
    a lazily-built CMS blob (``blob_fn`` only runs when the head is
    non-empty, so an empty corpus skips the sketch job). One
    definition keeps the schema and rank assignment from drifting
    between the twins verify_local gates under one contract."""
    from analyst_spark.functions.cms import cms_estimate, cms_parse

    if not head:
        return spark.createDataFrame([], HH_SCHEMA)
    cms = cms_parse(bytes(blob_fn()))
    rows = [
        (i + 1, r.token, r.cnt, cms_estimate(cms, r.token))
        for i, r in enumerate(head)
    ]
    return spark.createDataFrame(rows, HH_SCHEMA)


def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a Count-Min Sketch frequency check — the
    third sketch in the family (HLL distinct, KLL quantile, CMS
    frequency). Two passes over the token stream: the exact
    vocabulary count (hash-aggregate with map-side combine — the
    oracle-able side) picks the global top-25, and one
    `count_min_sketch` aggregation builds a FIXED-SIZE (depth 7 ×
    width 20k ≈ 1.1 MB) frequency table that
    functions/cms.py probes driver-side, straight off Spark's public
    sketch serialization — no JVM round-trip per query.

    At 100 TB the exact count is only viable because token
    vocabulary is bounded; for unbounded key domains (URLs, user
    ids, n-grams) the CMS path is the product: the aggregation
    buffer IS the ~MB table, merge is element-wise addition
    (commutative — estimates are deterministic for a dataset
    regardless of partitioning, pinned in tests/test_cms.py), the
    shuffle carries one table per partition instead of one row per
    distinct key, and the driver holds one blob serving any number
    of point queries at eps·N accuracy.

    Correctness: rows-only for the driver (est_cms is not
    SQL-expressible); tools/verify_local.py re-derives the exact
    top-25 in DuckDB and asserts token/cnt/rnk equality plus the CMS
    guarantee cnt <= est <= cnt + eps·N per row; tests/test_cms.py
    proves the Python bucket math bit-identical to the JVM's.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # both jobs (exact head + sketch) consume the same exploded token
    # stream — persist it so the corpus is read and split ONCE (the
    # _funnel_token_base lesson applied at birth)
    toks = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .persist()
    )
    try:
        head = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("token").asc())
            .limit(_HH_TOP_K)
            .collect()  # bounded: _HH_TOP_K rows
        )
        return hh_head_frame(
            spark,
            head,
            lambda: toks.agg(
                F.count_min_sketch(
                    "token", F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED)
                ).alias("cms")
            ).collect()[0].cms,  # bounded: one ~1.1 MB sketch
        )
    finally:
        toks.unpersist()


TEXT_TOP_TOKENS_ORACLE = f"""
WITH counts AS (
    SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY lang, token
)
SELECT lang, token, cnt,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS BIGINT) AS rnk
FROM counts
QUALIFY rnk <= {_TOP_K}
"""


# ---------------------------------------------- sequence packing

_SEQ_LEN = 2048
_PACK_BUCKET = 64  # docs per prefix-sum bucket


def place_into_sequences(
    toks: DataFrame,
    seq_len: int,
    bucket_col: str | None = None,
    order_col: str = "doc_id",
) -> DataFrame:
    """Input columns + ``seq_id``: sequence assignment via the
    distributed two-phase prefix sum in (bucket, order) order. With
    the defaults, buckets are doc_id RANGES (doc_id DIV size) —
    bucket order IS global doc_id order; a modulo bucket would
    interleave ids and corrupt the prefix. ``bucket_col``/
    ``order_col`` generalize the device to any pre-bucketed order —
    docs_shuffled_pack passes (shard_id, pos) so the prefix runs in
    the seeded-shuffle order over the shuffle's own exchange (r12
    review: the pack had re-implemented this device inline). Shared
    by the whitespace packer and the BPE tokenize+pack composite."""
    cols = list(toks.columns)
    if bucket_col is None:
        toks = toks.withColumn(
            "__bucket", (F.col("doc_id") / _PACK_BUCKET).cast("long")
        )
        bucket_col = "__bucket"
    w_in = (
        Window.partitionBy(bucket_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = toks.withColumn(
        "__local_off", F.coalesce(F.sum("n_tok").over(w_in), F.lit(0))
    )
    bucket_totals = toks.groupBy(bucket_col).agg(
        F.sum("n_tok").alias("__btot")
    )
    w_b = (
        Window.orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # one row per bucket — tiny by construction, safe to order globally
    bases = bucket_totals.withColumn(
        "__base", F.coalesce(F.sum("__btot").over(w_b), F.lit(0))
    ).select(bucket_col, "__base")
    return within.join(bases, bucket_col).select(
        *cols,
        ((F.col("__base") + F.col("__local_off")) / seq_len)
        .cast("long").alias("seq_id"),
    )


def _pack_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, seq_id): whitespace-token sequence assignment
    (see docs_pack_sequences docstring)."""
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    return place_into_sequences(toks, _SEQ_LEN)


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into fixed-length training
    sequences of _SEQ_LEN tokens: each document's global token offset
    is a prefix sum, and its sequence id is offset DIV _SEQ_LEN — the
    standard LLM pre-training packing step (greedy concatenation, a
    document may straddle two sequences; output accounts it to the
    sequence where it starts).

    The prefix sum is DISTRIBUTED, not a single-partition global
    window: documents hash into doc_id-range buckets, each bucket
    computes its internal running sum under a per-bucket window, and
    the tiny per-bucket totals (one row per bucket) cumulate into
    bucket base offsets that broadcast-join back. No stage ever
    orders the full corpus in one partition — the classic two-phase
    scan pattern, and the reason this survives 100 TB while
    ``Window.orderBy(doc_id)`` alone would not.

    Output per sequence: n_docs, n_tokens (== _SEQ_LEN except the
    tail), first/last doc ids. Integer-exact both engines.
    """
    return _pack_placement(spark, sf_dir).groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


PACK_SEQUENCES_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), placed AS (
    SELECT doc_id, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {_SEQ_LEN} AS BIGINT) AS seq_id
    FROM toks
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY seq_id
"""

def docs_shuffled_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle THEN pack — the composed training-prep path: documents
    take their seeded-permutation order (functions/shuffle.py), then
    pack greedily into fixed _SEQ_LEN-token sequences in THAT order.
    docs_pack_sequences packs in storage (doc_id) order, which
    preserves crawl locality inside every sequence; real pre-training
    packs the epoch's shuffled order so each sequence mixes the
    corpus — this entry is that composition, end to end.

    The distributed prefix sum runs in shuffled order with the SHARDS
    as the buckets (the place_into_sequences two-phase device, one
    level up): each shard cumulates token counts under its own
    (pos-ordered) window — the same exchange the shuffle already
    made, so no extra corpus shuffle — and the 16 per-shard totals
    cumulate into shard base offsets that broadcast-join back.
    seq_id = global offset DIV _SEQ_LEN; sequences legitimately span
    shard boundaries (the global shuffled order is what's packed).
    first/last docs are taken by min_by/max_by over the slot integer
    shard·2⁴⁰+pos (unique by construction), so the gate pins the
    ORDER inside every sequence, not just the sizes.
    """
    from analyst_spark.functions.shuffle import seeded_shuffle

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    # Consumed by BOTH the within-shard window and the shard-totals
    # aggregation: persist, or the corpus scan + tokenize + md5 key
    # pass runs once per consumer (the contamination_ngram lesson;
    # r12 review caught this entry re-deriving it).
    order = persist(
        seeded_shuffle(
            toks, "doc_id", seed=_SHUFFLE_SEED,
            rows_per_shard=_ROWS_PER_SHARD,
        ),
        fill=False,
    )
    placed = place_into_sequences(
        order, _SEQ_LEN, bucket_col="shard_id", order_col="pos"
    ).select(
        "doc_id",
        "n_tok",
        "seq_id",
        (F.col("shard_id") * F.lit(1 << 40) + F.col("pos")).alias("slot"),
    )
    return (
        placed.groupBy("seq_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min_by("doc_id", "slot").alias("first_doc"),
            F.max_by("doc_id", "slot").alias("last_doc"),
        )
    )


DOCS_SHUFFLED_PACK_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))) AS k
    FROM documents
), sharded AS (
    SELECT doc_id, n_tok, k,
           CAST(({_hex8_horner('k')})
                % (SELECT greatest(1, (count(*) + 255) // 256) FROM documents) AS BIGINT) AS shard_id
    FROM keyed
), placed AS (
    SELECT doc_id, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (
                    ORDER BY shard_id, k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {_SEQ_LEN} AS BIGINT) AS seq_id,
           shard_id * {1 << 40}
               + row_number() OVER (
                     PARTITION BY shard_id ORDER BY k, doc_id
                 ) AS slot
    FROM sharded
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       arg_min(doc_id, slot) AS first_doc,
       arg_max(doc_id, slot) AS last_doc
FROM placed
GROUP BY seq_id
"""


# ------------------------------------------- domain-mixture budget

# per-language token budgets — the "domain weights" of a pre-training
# mixture spec (e.g. 60% en / 10% each other lang of a 20k-token run)
_MIX_BUDGETS = {"en": 12000, "de": 2000, "es": 2000, "fr": 2000, "zh": 2000}
_MIX_BUCKET = 64  # docs per prefix-sum bucket


def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling under per-language token budgets — the
    step that turns a raw corpus into a weighted pre-training mix.

    Selection is the deterministic greedy prefix per language: docs
    considered in doc_id order, kept while the language's running
    token total stays within its budget (first overflow closes the
    prefix). Deterministic ⇒ fully oracle-checkable, unlike a random
    sampler.

    The per-language running total reuses the two-phase distributed
    prefix sum from ``docs_pack_sequences``: per-(lang, bucket) local
    window sums + bucket base offsets cumulated over the tiny
    (langs × buckets) table and broadcast back. No stage orders one
    language's whole corpus in a single partition, which is what a
    plain ``Window.partitionBy(lang).orderBy(doc_id)`` would do —
    with a handful of languages over 100 TB that would collapse
    parallelism to #langs tasks.

    Output per language: docs/tokens selected, the budget, and the
    exact-integer utilization per mille (integer-exact both engines).
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    budget = F.create_map(
        *[F.lit(x) for kv in _MIX_BUDGETS.items() for x in kv]
    )
    toks = docs.select(
        "doc_id", "lang",
        (F.col("doc_id") / _MIX_BUCKET).cast("long").alias("bucket"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    ).filter(budget[F.col("lang")].isNotNull())
    w_in = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = toks.withColumn("local_cum", F.sum("n_tok").over(w_in))
    # bucket totals fall out of the windowed result (max running sum
    # per bucket == the bucket's total), and `within` is already
    # hash-partitioned on (lang, bucket) from the window — Catalyst
    # sees the partitioning is satisfied and plans NO extra exchange,
    # where aggregating `toks` directly would re-scan and re-shuffle
    # the whole corpus.
    bucket_totals = within.groupBy("lang", "bucket").agg(
        F.max("local_cum").alias("btot")
    )
    w_b = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # rows = langs x buckets — tiny by construction
    bases = bucket_totals.withColumn(
        "base", F.coalesce(F.sum("btot").over(w_b), F.lit(0))
    ).select("lang", "bucket", "base")
    selected = (
        within.join(bases, ["lang", "bucket"])
        .withColumn("cum", F.col("base") + F.col("local_cum"))
        .filter(F.col("cum") <= budget[F.col("lang")])
    )
    return selected.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.max(budget[F.col("lang")]).cast("long").alias("budget_tokens"),
        (F.sum("n_tok") * 1000 / F.max(budget[F.col("lang")]))
        .cast("long").alias("utilization_pm"),
    )


_MIX_BUDGET_SQL = " UNION ALL ".join(
    f"SELECT '{k}' AS lang, {v} AS budget" for k, v in _MIX_BUDGETS.items()
)

TOKEN_BUDGET_MIX_ORACLE = f"""
WITH budgets AS ({_MIX_BUDGET_SQL}),
toks AS (
    SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
    FROM documents WHERE lang IN (SELECT lang FROM budgets)
), cums AS (
    SELECT t.lang, n_tok, b.budget,
           sum(n_tok) OVER (PARTITION BY t.lang ORDER BY doc_id) AS cum
    FROM toks t JOIN budgets b ON t.lang = b.lang
)
SELECT lang,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tok) AS BIGINT)    AS n_tokens,
       CAST(max(budget) AS BIGINT)   AS budget_tokens,
       CAST(sum(n_tok) * 1000 // max(budget) AS BIGINT) AS utilization_pm
FROM cums
WHERE cum <= budget
GROUP BY lang
"""


# ------------------------------------------------- shard landing

_SHARD_SEQS = 8  # training sequences per output shard


def docs_write_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land packed training data as a sharded lake layout and prove
    the round trip: documents → sequence placement (distributed
    prefix sum) → shard assignment (seq_id DIV seqs-per-shard) →
    parquet write partitioned by shard → read BACK → per-shard
    manifest. The returned manifest is computed from the files on
    disk, so the gate checks the whole write/read path, not just the
    plan arithmetic.

    At 100 TB this is the final pipeline stage: partitionBy(shard_id)
    after a repartition on shard_id gives one writer task per shard
    (no small-file cross product — sinks/files.py), shards are
    contiguous doc_id ranges by construction (sequential reads at
    training time), and the manifest is the training loader's index.
    """
    import shutil
    import tempfile

    from analyst_spark.sinks.files import write_partitioned

    placed = _pack_placement(spark, sf_dir).withColumn(
        "shard_id", (F.col("seq_id") / _SHARD_SEQS).cast("long")
    )
    out = tempfile.mkdtemp(prefix="asp_shards_")
    try:
        write_partitioned(placed, out, partition_by=["shard_id"])
        back = spark.read.parquet(out)
        manifest = back.groupBy("shard_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.countDistinct("seq_id").cast("long").alias("n_seqs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        # Materialize eagerly so the shard directory can be removed:
        # a lazily-read manifest would pin the temp dir forever and
        # every gate/bench invocation would leak a corpus copy.
        rows = manifest.collect()
        schema = manifest.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


WRITE_SHARDS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), placed AS (
    SELECT doc_id, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {_SEQ_LEN} AS BIGINT) AS seq_id
    FROM toks
)
SELECT CAST(seq_id // {_SHARD_SEQS} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1
"""


# ------------------------------------------------- winnowing

_WIN_K = 5   # k-gram width (tokens)
_WIN_W = 4   # winnowing window (k-grams per window)


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k-gram, slide a w-wide window,
    keep each window's minimum hash. Guarantees any shared run of
    w+k-1 tokens between two documents shares at least one selected
    fingerprint, while storing ~2/(w+1) of all k-gram hashes — the
    index-size/recall dial for copy detection at corpus scale.

    Pure Catalyst: tokenize → md5 per k-gram → per-window array_min
    over a transform(sequence) — no explode until the final
    per-document aggregate, no Python. The hash is md5 hex and the
    window min is lexicographic, identical in DuckDB, so selection is
    bit-exact both engines. Output per doc: selected/distinct
    fingerprint counts and the extremes of the selected set.
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    return winnow_stats(docs)


def winnow_stats(docs: DataFrame) -> DataFrame:
    """Core of doc_winnow_fingerprints over any (doc_id, text) frame
    — separated so unit tests can drive the short-document edges
    (0 k-grams → empty selection; fewer k-grams than the window →
    single global minimum) that the synthetic corpus never hits."""
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    grams = toks.select(
        "doc_id",
        F.transform(
            _ngrams(F.col("t"), _WIN_K), lambda g: F.md5(g)
        ).alias("gs"),
    )
    wins = grams.select(
        "doc_id",
        F.size("gs").alias("n_kgrams"),
        F.when(
            F.size("gs") >= _WIN_W,
            F.transform(
                F.sequence(F.lit(1), F.size("gs") - _WIN_W + 1),
                lambda i: F.array_min(F.slice(F.col("gs"), i, _WIN_W)),
            ),
        ).otherwise(F.array_compact(F.array(F.array_min("gs"))))
        .alias("fps"),
    )
    return wins.select(
        "doc_id",
        F.col("n_kgrams").cast("long").alias("n_kgrams"),
        F.size("fps").cast("long").alias("n_selected"),
        F.size(F.array_distinct("fps")).cast("long").alias("n_distinct"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


WINNOW_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
    SELECT doc_id,
           list_transform({_duck_ngrams(_WIN_K)}, g -> md5(g)) AS gs
    FROM toks
), wins AS (
    SELECT doc_id, len(gs) AS n_kgrams,
           CASE WHEN len(gs) >= {_WIN_W}
                THEN list_transform(range(1, len(gs) - {_WIN_W} + 2),
                                    i -> list_min(gs[i:i+{_WIN_W - 1}]))
                WHEN len(gs) > 0 THEN [list_min(gs)]
                ELSE [] END AS fps
    FROM grams
)
SELECT doc_id,
       CAST(n_kgrams AS BIGINT) AS n_kgrams,
       CAST(len(fps) AS BIGINT) AS n_selected,
       CAST(len(list_distinct(fps)) AS BIGINT) AS n_distinct,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM wins
"""


# ------------------------------------------------- BPE training

_BPE_MERGES = 8
_BPE_BATCHED_MERGES = 32
_BPE_BATCH = 8


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training over the documents corpus
    (functions/bpe.py): the learned merge table in merge order.

    Deterministic (integer pair counts, lexicographic tie-break) but
    inherently iterative — each merge depends on the table produced by
    all previous merges — so there is no single-statement SQL twin;
    this entry takes the rows-only gate and the merge-sequence parity
    is pinned against a pure-Python reference implementation in
    tests/test_bpe.py.
    """
    from analyst_spark.functions.bpe import bpe_train

    docs = load_tables(spark, sf_dir)["documents"]
    merges = bpe_train(docs, num_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank long, left string, right string, pair_count long",
    )


def bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (functions/bpe.py, ``batch > 1``): up to M
    mutually non-interacting merges are selected and applied per Spark
    iteration, collapsing an N-merge train from N driver round-trips
    to ~N/M — the scale path for real (32k-merge) vocabularies, where
    one job per merge would mean hours of pure scheduler overhead.

    Rows-only gate for the same reason as ``bpe_train_merges``
    (iterative, no single-statement SQL twin); the merge sequence is
    parity-pinned against the pure-Python twin running the identical
    selection rule in tests/test_bpe.py.
    """
    from analyst_spark.functions.bpe import bpe_train

    docs = load_tables(spark, sf_dir)["documents"]
    merges = bpe_train(docs, num_merges=_BPE_BATCHED_MERGES, batch=_BPE_BATCH)
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank long, left string, right string, pair_count long",
    )


# ------------------------------------------------- n-gram LM scoring

_LM_K = 0.5  # add-k smoothing constant


def _avg_micro6(s_col: str, n_col: str):
    """``round((s/1e6)/n, 6)`` computed EXACTLY: because s and n are
    integers, the 6-decimal rounding of s/(n·1e6) has an exact
    integer form — half-away-from-zero division
    sign(s)·((2|s|+n) div (2n)) — followed by ONE IEEE division by
    1e6. ``round()`` on an already-divided double differs between
    engines when the true quotient sits on the decimal half-boundary
    (the r7 sf0.1 full gate caught exactly one such doc in each LM
    entry); this form cannot differ — both engines divide the same
    integers. :func:`_avg_micro6_sql` is the DuckDB twin.

    Domain (r7 advice): 2·s is computed in int64, so a group sum
    |s| > ~4.6e18/2 would wrap on Spark while DuckDB promotes to
    HUGEINT. Here s is a per-document sum of micro-log-probs (|micro|
    ≤ ~3e7 per gram), so wrapping needs ~1.5e11 grams in ONE document
    — beyond any real document by orders of magnitude, and the
    pathological-text suite bounds documents far below it. Callers
    aggregating across documents (not per-doc) must re-check the
    bound or accumulate in decimal(38,0) (see
    events_hourly_rollup)."""
    return (
        F.expr(
            f"CASE WHEN {s_col} >= 0 THEN (2*{s_col} + {n_col}) DIV (2*{n_col}) "
            f"ELSE -((-2*{s_col} + {n_col}) DIV (2*{n_col})) END"
        )
        / F.lit(1000000.0)
    )


def _avg_micro6_sql(s: str, n: str) -> str:
    """DuckDB twin of :func:`_avg_micro6` (``//`` floor-div equals
    trunc-div here because both operands are arranged positive)."""
    return (
        f"(CASE WHEN {s} >= 0 THEN (2*({s}) + ({n})) // (2*({n})) "
        f"ELSE -((-2*({s}) + ({n})) // (2*({n}))) END) / 1000000.0"
    )


def docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-k
    bigram LM on the corpus (one pass), score every document by its
    average bigram log-probability and perplexity.

    Scale: the unigram/bigram count tables are vocab-bounded — far
    smaller than the corpus — so training is one map-side-combined
    aggregation, and scoring joins the corpus bigram postings against
    those bounded tables (hash-partitioned on the bigram key; AQE
    broadcasts them when small, unhinted because vocab still grows
    with data). The vocab-size scalar rides a 1-row broadcast cross
    join, never a driver collect. Zero Python in the data path.

    Hash-determinism: per-bigram log-probs are snapped to integer
    micro-logs (round(ln(p)*1e6) as BIGINT) before the per-document
    sum, so the aggregation is integer-exact and immune to float
    summation-order differences between Spark and DuckDB; the final
    avg/perplexity derive from that exact integer by single
    deterministic IEEE ops.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = spread(docs).select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    return lm_score_from_tokens(
        toks, _lm_postings_storage(docs, _corpus_count(spark, sf_dir))
    )


# Above this many documents the bigram-postings cache outgrows any
# sane executor memory share: MEMORY_AND_DISK blocks compete with the
# count-table hash aggregation for unified memory and the aggregation
# starves (AGGREGATE_OUT_OF_MEMORY at the x1000 decade, 1.5B postings
# vs a 32 GB heap; found by the r14 SCALE_PROBE run). Above the
# threshold the postings are NOT materialized at all — recomputing
# the explode for its two consumers is two linear JVM passes and
# measured 237s vs DISK_ONLY's 411s at the ×1000 decade (the
# materialization write+read costs more than the recompute); below
# it, the in-memory cache keeps the r13 gate-scale plan unchanged.
_LM_POSTINGS_MEM_DOCS = 1_000_000

# The thresholded storage policies consult the documents row count
# once per entry; a bench pass over the catalog re-ran the same
# count job ~8 times (lm family, funnels, perplexity buckets).
# Inputs are immutable per-directory parquet, so cache by path for
# the session.
_CORPUS_COUNT_CACHE: dict[str, int] = {}


def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    c = _CORPUS_COUNT_CACHE.get(sf_dir)
    if c is None:
        c = load_tables(spark, sf_dir)["documents"].count()
        _CORPUS_COUNT_CACHE[sf_dir] = c
    return c


def _lm_postings_storage(
    docs: DataFrame, count: int | None = None
) -> StorageLevel | str:
    """One parquet-metadata count decides the postings medium
    ("NONE" = recompute, no materialization). Pass ``count`` when the
    caller already holds the cached corpus count."""
    n = docs.count() if count is None else count
    return (
        "NONE"
        if n > _LM_POSTINGS_MEM_DOCS
        else StorageLevel.MEMORY_AND_DISK_DESER
    )


def lm_score_from_tokens(
    toks: DataFrame, postings_storage: StorageLevel | None = None
) -> DataFrame:
    """:func:`docs_lm_score` over an already-tokenized (doc_id, t)
    frame — the shared-tokenization form the fused curation funnel
    consumes (VERDICT r7 #1). Identical expressions, so the hash gate
    is unaffected by which entry builds the tokens.

    ``postings_storage`` picks where the twice-consumed bigram
    postings materialize: in-memory below _LM_POSTINGS_MEM_DOCS docs
    (callers pass the corpus count's verdict via
    _lm_postings_storage), or NOT AT ALL above it (pass the string
    "NONE" — the explode recomputes per consumer, which beats paying
    storage for corpus-scale postings). Values are identical either
    way, so the gate hash cannot move. Default (no argument) keeps
    the in-memory cache."""
    if postings_storage is None:
        postings_storage = StorageLevel.MEMORY_AND_DISK_DESER
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
    )
    if postings_storage != "NONE":
        # consumed twice; see docstring
        bg = persist(bg, fill=True, level=postings_storage)
    uni = persist(  # consumed by the vocab scalar AND the scoring join
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1")),
        fill=True,
    )
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    micro = F.round(
        F.log((F.col("c2") + F.lit(_LM_K)) / (F.col("c1") + F.lit(_LM_K) * F.col("v")))
        * F.lit(1000000.0)
    ).cast("long")
    # Score each DISTINCT bigram once on the vocab-bounded table (the
    # expensive log computation runs at vocab scale), then join the
    # postings DIRECTLY against it: bigram multiplicities are mostly
    # 1, so a per-(doc, bigram) pre-aggregation shrinks nothing and
    # costs a full postings-scale shuffle — dropping it measured
    # 2.18s → 1.77s cold at sf0.1. Σ micro over occurrences ≡
    # Σ m·micro over distinct pairs, so the oracle SQL is unchanged.
    pair_scores = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))  # 1-row scalar: semantically bounded
        .select("w1", "w2", micro.alias("micro"))
    )
    scored = bg.join(pair_scores, ["w1", "w2"]).select("doc_id", "micro")
    n = F.count(F.lit(1))
    s = F.sum(F.col("micro"))
    return (
        scored.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_bigrams"),
            s.cast("long").alias("sum_micro_logprob"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_micro_logprob",
            (-_avg_micro6("sum_micro_logprob", "n_bigrams")).alias(
                "neg_avg_logprob"
            ),
            F.round(
                F.exp(
                    -(F.col("sum_micro_logprob") / F.lit(1000000.0))
                    / F.col("n_bigrams")
                ),
                4,
            ).alias("ppl"),
        )
    )


DOCS_LM_SCORE_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
), bg AS (
    SELECT doc_id, s.w1 AS w1, s.w2 AS w2
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
        FROM toks WHERE len(t) >= 2
    )
), uni AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS c1
    FROM (SELECT unnest(t) AS w1 FROM toks)
    GROUP BY w1
), big AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
), vocab AS (
    SELECT CAST(count(*) AS BIGINT) AS v FROM uni
), scored AS (
    SELECT g.doc_id,
           CAST(round(ln((b.c2 + {_LM_K}) / (u.c1 + {_LM_K} * vocab.v)) * 1000000.0)
                AS BIGINT) AS micro
    FROM bg g
    JOIN big b ON g.w1 = b.w1 AND g.w2 = b.w2
    JOIN uni u ON g.w1 = u.w1
    CROSS JOIN vocab
)
SELECT doc_id, n_bigrams, sum_micro_logprob,
       -({_avg_micro6_sql("sum_micro_logprob", "n_bigrams")}) AS neg_avg_logprob,
       round(exp(-(sum_micro_logprob / 1000000.0) / n_bigrams), 4) AS ppl
FROM (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(micro) AS BIGINT) AS sum_micro_logprob
    FROM scored
    GROUP BY doc_id
)
"""


# ------------------------------------------------- Gopher quality rules

# Gopher's stop list plus the article "a": the paper's rule demands
# >= 2 distinct function words; the synthetic corpus draws from a
# tech vocabulary where "the" and "a" are the only function words, so
# without "a" the rule would zero every document instead of
# discriminating (non-English docs still fail, as the English-centric
# battery intends).
_GOPHER_STOPS = ["the", "a", "be", "to", "of", "and", "that", "have", "with"]
_GOPHER_MIN_WORDS = 10       # Gopher uses 50; synthetic docs are short
_GOPHER_MAX_WORDS = 100000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MIN_ALPHA = 0.8
_GOPHER_MAX_SYMBOL = 0.1
_GOPHER_MIN_STOPS = 2


def gopher_features(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document Gopher rule features + keep flag over any frame
    with (doc_id, text) — stateless Catalyst expressions, so the same
    function runs in batch plans AND per micro-batch on a stream
    (streaming_quality_filter). ``extra_cols`` pass through untouched
    (e.g. lang for downstream grouping)."""
    t = F.split(F.trim(F.lower("text")), r"\s+")
    return gopher_features_from_tokens(
        docs.select("doc_id", *extra_cols, t.alias("t")), extra_cols
    )


def gopher_features_from_tokens(
    toks: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher battery over an ALREADY-tokenized frame (doc_id, t
    array<string> = split(trim(lower(text)), '\\s+')). Split out so
    the fused curation funnel can share one tokenization pass across
    all of its stages (VERDICT r7 #1) while :func:`gopher_features`
    keeps the (doc_id, text) contract for streams and the standalone
    entry."""
    base = toks.select(
        "doc_id",
        *extra_cols,
        "t",
        F.size("t").cast("long").alias("n_words"),
    )
    mwl = F.round(
        F.aggregate(
            F.transform("t", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        / F.col("n_words"),
        6,
    )
    alpha_ratio = F.round(
        F.size(F.filter("t", lambda w: w.rlike("[a-z]"))) / F.col("n_words"), 6
    )
    symbol_ratio = F.round(
        F.size(F.filter("t", lambda w: w.rlike(r"#|\.\.\."))) / F.col("n_words"), 6
    )
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    n_stops = F.size(F.array_intersect(F.array_distinct("t"), stop_arr)).cast("long")
    feat = base.select(
        "doc_id",
        *extra_cols,
        "n_words",
        mwl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        symbol_ratio.alias("symbol_word_ratio"),
        n_stops.alias("n_stopwords"),
    )
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
        & (F.col("alpha_word_ratio") >= _GOPHER_MIN_ALPHA)
        & (F.col("symbol_word_ratio") <= _GOPHER_MAX_SYMBOL)
        & (F.col("n_stopwords") >= _GOPHER_MIN_STOPS)
    )
    return feat.withColumn("keep", keep)


def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard Gopher quality-rule battery (Rae et al. 2021,
    table A1) per document: word-count bounds, mean-word-length
    bounds, alphabetic-word ratio, symbol-to-word ratio ('#'/'...'),
    distinct-stopword floor — plus the conjunctive keep flag.

    One pass, pure Catalyst array expressions; every ratio is a
    single int/int division (deterministic across engines). The rule
    thresholds are module constants shared with the oracle SQL so the
    two sides cannot drift.
    """
    return gopher_features(spread(load_tables(spark, sf_dir)["documents"]))


_GOPHER_STOP_LIST = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)

DOCS_GOPHER_ORACLE = rf"""
WITH base AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
), feat AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           round(CAST(list_sum([length(x) for x in t]) AS BIGINT)
                 / CAST(len(t) AS BIGINT), 6) AS mean_word_len,
           round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                 / CAST(len(t) AS BIGINT), 6) AS alpha_word_ratio,
           round(len(list_filter(t, x -> regexp_matches(x, '#|\.\.\.')))
                 / CAST(len(t) AS BIGINT), 6) AS symbol_word_ratio,
           CAST(len(list_intersect(list_distinct(t),
                                   [{_GOPHER_STOP_LIST}])) AS BIGINT) AS n_stopwords
    FROM base
)
SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, symbol_word_ratio,
       n_stopwords,
       (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
        AND alpha_word_ratio >= {_GOPHER_MIN_ALPHA}
        AND symbol_word_ratio <= {_GOPHER_MAX_SYMBOL}
        AND n_stopwords >= {_GOPHER_MIN_STOPS}) AS keep
FROM feat
"""


def _gopher_tier() -> Column:
    """Curriculum tier = count of Gopher rules passed (0..5) over a
    gopher_features frame. ``F.when(..., 1).otherwise(0)``: a NULL
    feature row (null text) must count as rule-failed on BOTH
    engines, not poison the sum. Shared by docs_curriculum_order and
    docs_curriculum_pack so the two entries' tiers cannot drift."""
    rules = [
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS),
        F.col("mean_word_len").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL),
        F.col("alpha_word_ratio") >= _GOPHER_MIN_ALPHA,
        F.col("symbol_word_ratio") <= _GOPHER_MAX_SYMBOL,
        F.col("n_stopwords") >= _GOPHER_MIN_STOPS,
    ]
    return sum(
        (F.when(r, F.lit(1)).otherwise(F.lit(0)) for r in rules),
        F.lit(0),
    ).cast("long")


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM training order: documents grouped into quality
    TIERS (the count of Gopher rules passed, 0..5 — an ordinal,
    integer-exact quality signal from the already-gated rule battery),
    randomized WITHIN each tier by the seeded md5 permutation. A
    curriculum loader consumes tiers descending (cleanest text first)
    and, inside a tier, shards in shard_id order and rows in pos
    order — deterministic, reproducible, auditable, exactly like
    docs_global_shuffle but with the tier as the leading sort key.

    Plan shape: the Gopher features are map-side Catalyst
    expressions, so the ONLY shuffle is the position window's hash
    exchange on (tier, shard_id) — the same single-exchange contract
    as the global shuffle (shards auto-sized from the corpus count,
    functions/shuffle.py shard_count_for). No total order is ever
    materialized: within-tier order is per-shard rank, and tiers are
    a 6-value leading key the loader iterates. Oracle: DuckDB
    recomputes the identical tier arithmetic (shared thresholds),
    md5 keys, shard assignment, and per-(tier, shard) ranks.
    """
    from analyst_spark.functions.shuffle import shard_count_for

    docs = load_tables(spark, sf_dir)["documents"]
    # no spread(): the position window's (tier, shard_id) exchange is
    # the ONLY shuffle this plan needs (the docs_global_shuffle rule)
    feats = gopher_features(docs)
    n_shards = shard_count_for(docs.count(), _ROWS_PER_SHARD)
    keyed = feats.select(
        "doc_id",
        _gopher_tier().alias("tier"),
        F.md5(
            F.concat(
                F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
            )
        ).alias("shuffle_key"),
    ).withColumn(
        "shard_id",
        (F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long")
         % n_shards),
    )
    w = Window.partitionBy("tier", "shard_id").orderBy(
        "shuffle_key", "doc_id"
    )
    return keyed.select(
        "doc_id", "tier", "shard_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


DOCS_CURRICULUM_ORACLE = rf"""
WITH base AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
), feat AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           round(CAST(list_sum([length(x) for x in t]) AS BIGINT)
                 / CAST(len(t) AS BIGINT), 6) AS mean_word_len,
           round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                 / CAST(len(t) AS BIGINT), 6) AS alpha_word_ratio,
           round(len(list_filter(t, x -> regexp_matches(x, '#|\.\.\.')))
                 / CAST(len(t) AS BIGINT), 6) AS symbol_word_ratio,
           CAST(len(list_intersect(list_distinct(t),
                                   [{_GOPHER_STOP_LIST}])) AS BIGINT)
               AS n_stopwords
    FROM base
), tiered AS (
    SELECT doc_id,
           CAST(
             (CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS}
                        AND {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END)
           + (CASE WHEN mean_word_len BETWEEN {_GOPHER_MIN_MWL}
                        AND {_GOPHER_MAX_MWL} THEN 1 ELSE 0 END)
           + (CASE WHEN alpha_word_ratio >= {_GOPHER_MIN_ALPHA}
                   THEN 1 ELSE 0 END)
           + (CASE WHEN symbol_word_ratio <= {_GOPHER_MAX_SYMBOL}
                   THEN 1 ELSE 0 END)
           + (CASE WHEN n_stopwords >= {_GOPHER_MIN_STOPS}
                   THEN 1 ELSE 0 END) AS BIGINT) AS tier,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR)))
               AS shuffle_key
    FROM feat
), sharded AS (
    SELECT doc_id, tier, shuffle_key,
           CAST(({_hex8_horner('shuffle_key')})
                % (SELECT greatest(1, (count(*) + {_ROWS_PER_SHARD} - 1)
                                      // {_ROWS_PER_SHARD})
                   FROM documents) AS BIGINT) AS shard_id
    FROM tiered
)
SELECT doc_id, tier, shard_id,
       CAST(row_number() OVER (
           PARTITION BY tier, shard_id ORDER BY shuffle_key, doc_id
       ) AS BIGINT) AS pos
FROM sharded
"""


def docs_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware token packing — the artifact a curriculum training
    run actually materializes: fixed _SEQ_LEN-token sequences packed
    in CURRICULUM order (Gopher tier descending, then the seeded
    within-tier permutation), composing docs_curriculum_order with
    the greedy packer exactly the way docs_shuffled_pack composes
    shuffle+pack (VERDICT r13 #5).

    Plan shape: the distributed prefix sum buckets BY (tier, shard) —
    the SAME hash exchange the curriculum window already makes, so
    the corpus moves once. Each (tier, shard) group cumulates token
    counts under its own window; group totals (tiers × shards rows,
    tiny by construction) cumulate into base offsets over a
    single-partition window ordered by the curriculum's group order
    (tier DESC via (5 - tier), then shard_id) and broadcast-join
    back. seq_id = global curriculum offset DIV _SEQ_LEN; sequences
    legitimately span shard AND tier boundaries (the global
    curriculum order is what's packed). Order inside every sequence
    is pinned by min_by/max_by over the unique slot integer
    (5-tier)·2⁴⁸ + shard·2²⁴ + pos; tier_hi/tier_lo expose the
    curriculum monotonicity per sequence (a sequence straddling a
    tier boundary shows hi ≠ lo).

    No analog in the reference (its engine has no training-order or
    packing notion); the curriculum tiers reuse the gated rule
    battery (engine/aggregate.go has the closest hash-agg machinery).
    """
    from analyst_spark.functions.shuffle import shard_count_for

    docs = load_tables(spark, sf_dir)["documents"]
    n_shards = shard_count_for(docs.count(), _ROWS_PER_SHARD)
    # n_tok = the pack entries' whitespace token count (split on a
    # single space, like docs_pack_sequences); NULL text packs as 0
    # tokens on both engines, stated explicitly because Spark's
    # size(NULL) is config-dependent
    toks = docs.select(
        "doc_id",
        "text",
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .otherwise(F.size(F.split(F.col("text"), " ")).cast("long"))
        .alias("n_tok"),
    )
    feats = gopher_features(toks, extra_cols=("n_tok",))
    keyed = feats.select(
        "doc_id",
        "n_tok",
        _gopher_tier().alias("tier"),
        F.md5(
            F.concat(
                F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
            )
        ).alias("shuffle_key"),
    ).withColumn(
        "shard_id",
        (F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long")
         % n_shards),
    )
    # both windows share partitioning AND ordering, so Catalyst plans
    # ONE Window node over one (tier, shard) hash exchange
    w_off = (
        Window.partitionBy("tier", "shard_id")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_rn = Window.partitionBy("tier", "shard_id").orderBy(
        "shuffle_key", "doc_id"
    )
    # consumed by BOTH the group-totals aggregation and the placement
    # join: persist, or the corpus scan + gopher battery runs twice
    # (the docs_shuffled_pack lesson)
    within = persist(
        keyed.select(
            "doc_id",
            "n_tok",
            "tier",
            "shard_id",
            F.coalesce(F.sum("n_tok").over(w_off), F.lit(0)).alias("local_off"),
            F.row_number().over(w_rn).cast("long").alias("pos"),
        ),
        fill=False,
    )
    # `within` is already hash-partitioned on (tier, shard_id) from
    # the window — Catalyst sees the partitioning satisfied and plans
    # NO extra exchange for this aggregation (the docs_token_budget_mix
    # device)
    group_totals = within.groupBy("tier", "shard_id").agg(
        F.sum("n_tok").alias("gtot")
    )
    w_g = (
        Window.orderBy((F.lit(5) - F.col("tier")), "shard_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # rows = tiers × shards — tiny by construction
    bases = group_totals.withColumn(
        "base", F.coalesce(F.sum("gtot").over(w_g), F.lit(0))
    ).select("tier", "shard_id", "base")
    placed = within.join(F.broadcast(bases), ["tier", "shard_id"]).select(
        "doc_id",
        "n_tok",
        "tier",
        ((F.col("base") + F.col("local_off")) / F.lit(_SEQ_LEN))
        .cast("long").alias("seq_id"),
        ((F.lit(5) - F.col("tier")) * F.lit(1 << 48)
         + F.col("shard_id") * F.lit(1 << 24)
         + F.col("pos")).alias("slot"),
    )
    return (
        placed.groupBy("seq_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min_by("doc_id", "slot").alias("first_doc"),
            F.max_by("doc_id", "slot").alias("last_doc"),
            F.max("tier").cast("long").alias("tier_hi"),
            F.min("tier").cast("long").alias("tier_lo"),
        )
    )


DOCS_CURRICULUM_PACK_ORACLE = rf"""
WITH base AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t,
           CASE WHEN text IS NULL THEN 0
                ELSE CAST(len(string_split(text, ' ')) AS BIGINT)
           END AS n_tok
    FROM documents
), feat AS (
    SELECT doc_id, n_tok,
           CAST(len(t) AS BIGINT) AS n_words,
           round(CAST(list_sum([length(x) for x in t]) AS BIGINT)
                 / CAST(len(t) AS BIGINT), 6) AS mean_word_len,
           round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                 / CAST(len(t) AS BIGINT), 6) AS alpha_word_ratio,
           round(len(list_filter(t, x -> regexp_matches(x, '#|\.\.\.')))
                 / CAST(len(t) AS BIGINT), 6) AS symbol_word_ratio,
           CAST(len(list_intersect(list_distinct(t),
                                   [{_GOPHER_STOP_LIST}])) AS BIGINT)
               AS n_stopwords
    FROM base
), tiered AS (
    SELECT doc_id, n_tok,
           CAST(
             (CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS}
                        AND {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END)
           + (CASE WHEN mean_word_len BETWEEN {_GOPHER_MIN_MWL}
                        AND {_GOPHER_MAX_MWL} THEN 1 ELSE 0 END)
           + (CASE WHEN alpha_word_ratio >= {_GOPHER_MIN_ALPHA}
                   THEN 1 ELSE 0 END)
           + (CASE WHEN symbol_word_ratio <= {_GOPHER_MAX_SYMBOL}
                   THEN 1 ELSE 0 END)
           + (CASE WHEN n_stopwords >= {_GOPHER_MIN_STOPS}
                   THEN 1 ELSE 0 END) AS BIGINT) AS tier,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR)))
               AS shuffle_key
    FROM feat
), sharded AS (
    SELECT doc_id, n_tok, tier, shuffle_key,
           CAST(({_hex8_horner('shuffle_key')})
                % (SELECT greatest(1, (count(*) + {_ROWS_PER_SHARD} - 1)
                                      // {_ROWS_PER_SHARD})
                   FROM documents) AS BIGINT) AS shard_id
    FROM tiered
), placed AS (
    SELECT doc_id, n_tok, tier,
           CAST(COALESCE(sum(n_tok) OVER (
                    ORDER BY (5 - tier), shard_id, shuffle_key, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {_SEQ_LEN} AS BIGINT) AS seq_id,
           (5 - tier) * {1 << 48} + shard_id * {1 << 24}
               + row_number() OVER (
                     PARTITION BY tier, shard_id ORDER BY shuffle_key, doc_id
                 ) AS slot
    FROM sharded
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       arg_min(doc_id, slot) AS first_doc,
       arg_max(doc_id, slot) AS last_doc,
       CAST(max(tier) AS BIGINT) AS tier_hi,
       CAST(min(tier) AS BIGINT) AS tier_lo
FROM placed
GROUP BY seq_id
"""


# ------------------------------------------------- DSIR importance weights

_DSIR_TARGET_LANG = "en"


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    per-document importance weights for steering a pretraining mix
    toward a target domain — here the lang='en' slice stands in for
    the high-quality target corpus.

    Each document is scored by its average per-token log-likelihood
    ratio between an add-k unigram LM trained on the target slice and
    one trained on the whole corpus; weight = exp(avg llr). Resampling
    then draws documents proportional to weight (the seeded sampler in
    docs_stratified_sample composes with this).

    Scale: token→count tables are vocab-bounded; the three corpus
    scalars (target tokens, corpus tokens, vocab size) ride one 1-row
    broadcast cross join. The scoring join hash-partitions token
    postings against the vocab-bounded count table — AQE broadcasts it
    when small; unhinted since vocab grows (slowly) with data. The
    per-token llr is snapped to integer micro-logs before the
    per-document sum (same hash-determinism device as docs_lm_score).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # consumed 4x: corpus counts, target counts, scalars, scoring
    tok = persist(
        spread(docs).select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        ),
        fill=True,
    )
    cc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cc"))
    ct = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    scal = tok.agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum((F.col("lang") == _DSIR_TARGET_LANG).cast("long")).alias("nt"),
        F.count_distinct("w").alias("v"),
    )
    k = F.lit(_LM_K)
    llr = (
        F.log((F.coalesce(F.col("ct"), F.lit(0)) + k) / (F.col("nt") + k * F.col("v")))
        - F.log((F.col("cc") + k) / (F.col("nc") + k * F.col("v")))
    )
    micro = F.round(llr * F.lit(1000000.0)).cast("long")
    # Same vocab-level scoring shape as docs_lm_score: one llr per
    # DISTINCT word, joined against per-doc word multiplicities.
    # UNLIKE the bigram case, the (doc, word) pre-aggregation stays:
    # unigram multiplicities are high in any real corpus (stopwords
    # repeat ~50x/doc), so the map-side-combined pre-agg compresses
    # the shuffle by that factor — measured on the 10x stress corpus,
    # the direct postings join decayed 4.4x at 10x data while this
    # shape held 2.5x. (Bigram multiplicities are ~1, which is why
    # docs_lm_score joins its postings directly.)
    word_scores = (
        cc.join(ct, "w", "left")
        .crossJoin(F.broadcast(scal))  # 1-row scalars: semantically bounded
        .select("w", micro.alias("micro"))
    )
    doc_words = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("m"))
    scored = doc_words.join(word_scores, "w").select("doc_id", "m", "micro")
    n = F.sum("m")
    s = F.sum(F.col("m") * F.col("micro"))
    return (
        scored.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_tokens"),
            s.cast("long").alias("sum_micro_llr"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_micro_llr",
            _avg_micro6("sum_micro_llr", "n_tokens").alias("avg_llr"),
            F.round(
                F.exp(
                    (F.col("sum_micro_llr") / F.lit(1000000.0))
                    / F.col("n_tokens")
                ),
                4,
            ).alias("weight"),
        )
    )


DOCS_DSIR_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
), cc AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cc FROM tok GROUP BY w
), ct AS (
    SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tok
    WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY w
), scal AS (
    SELECT CAST(count(*) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(count(DISTINCT w) AS BIGINT) AS v
    FROM tok
), scored AS (
    SELECT t.doc_id,
           CAST(round((ln((COALESCE(ct.ct, 0) + {_LM_K}) / (s.nt + {_LM_K} * s.v))
                       - ln((cc.cc + {_LM_K}) / (s.nc + {_LM_K} * s.v))) * 1000000.0)
                AS BIGINT) AS micro
    FROM tok t
    JOIN cc ON t.w = cc.w
    LEFT JOIN ct ON t.w = ct.w
    CROSS JOIN scal s
)
SELECT doc_id, n_tokens, sum_micro_llr,
       {_avg_micro6_sql("sum_micro_llr", "n_tokens")} AS avg_llr,
       round(exp((sum_micro_llr / 1000000.0) / n_tokens), 4) AS weight
FROM (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(micro) AS BIGINT) AS sum_micro_llr
    FROM scored
    GROUP BY doc_id
)
"""


# ------------------------------------------------- duplicate spans

_DUP_N = 6  # span granularity (word n-gram)


def docs_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-span accounting (the fixed-granularity
    distributed form of Lee et al. 2022 substring dedup): for every
    document, how many of its 6-gram occurrences also occur in at
    least one OTHER document, and the resulting duplication ratio —
    the signal substring-level dedup thresholds on.

    Suffix arrays do not distribute; the scalable form is exactly
    this: one explode to (doc, gram-hash) postings, one aggregation
    keyed on the hash to find grams with >= 2 distinct documents, and
    one join of the postings against that shared-gram table. All keys
    are 64-bit hashes (strings never shuffle); the shared-gram side is
    corpus-derived so it carries no broadcast hint — AQE decides.
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    return dup_span_from_tokens(
        docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    )


def dup_span_from_tokens(toks: DataFrame) -> DataFrame:
    """:func:`docs_dup_span` over an already-tokenized (doc_id, t)
    frame, where t = split(text, ' ') — NOT the lowered regex split
    the other stages share (span identity is case-sensitive in Lee et
    al.). The fused funnel computes both token arrays in its single
    corpus scan and routes this one here (VERDICT r7 #1)."""
    # consumed 3x: shared-gram table, per-doc totals, dup join
    grams = persist(
        toks.select(
            "doc_id",
            F.explode(
                F.transform(_ngrams(F.col("t"), _DUP_N), lambda g: F.xxhash64(g))
            ).alias("g"),
        ),
        fill=True,
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    dup = (
        grams.join(shared, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        per_doc.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_ngrams"), 6
            ).alias("dup_ratio"),
        )
    )


DOCS_DUP_SPAN_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ng AS (
    SELECT doc_id, {_duck_ngrams(_DUP_N)} AS gs FROM toks
), grams AS (
    SELECT doc_id, unnest(gs) AS g FROM ng
), shared AS (
    SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM grams GROUP BY doc_id
), dup AS (
    SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS n_dup
    FROM grams JOIN shared ON grams.g = shared.g
    GROUP BY grams.doc_id
)
SELECT p.doc_id, p.n_ngrams,
       COALESCE(d.n_dup, 0) AS n_dup,
       round(COALESCE(d.n_dup, 0) / CAST(p.n_ngrams AS DOUBLE), 6) AS dup_ratio
FROM per_doc p LEFT JOIN dup d ON p.doc_id = d.doc_id
"""


# ------------------------------------------------- curation funnel

_FUNNEL_DUP_MAX = 0.5
_FUNNEL_PPL_MAX = 31.5


def _funnel_token_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE corpus scan + tokenization shared by every curation-funnel
    stage (VERDICT r7 #1): (doc_id, t, ts) where t is the lowered
    regex split consumed by Gopher / LM / classifier / token-count
    and ts is the case-sensitive space split dup-span identity needs.

    Before this fusion the funnel's stages each re-loaded and re-split
    `documents` independently (~5 parquet scans, ~4 tokenizations per
    run — the dominant avoidable cost of the most expensive headline
    entry). Now parquet is read once and the text split exactly twice
    (the two genuinely different tokenizations), and every stage plan
    starts from this persisted columnar frame, recorded for
    release_cached.

    Storage medium follows the corpus size (same policy as
    _lm_postings_storage): below _LM_POSTINGS_MEM_DOCS the frame is
    in-memory (gate-scale plan unchanged); above it DISK_ONLY — at
    the ×1000 decade the deserialized token arrays (two per doc, 5M
    docs) pinned enough of the unified pool that the funnel's own
    SMJ/hashAgg stages starved (UNABLE_TO_ACQUIRE_MEMORY, r14
    SCALE_PROBE run). DISK_ONLY blocks hold zero storage memory and
    are still read 5× by the component stages, which is the point of
    the fusion. Values identical either way; gate hashes stable.
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    big = _corpus_count(spark, sf_dir) > _LM_POSTINGS_MEM_DOCS
    return persist(
        docs.select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
            F.split(F.col("text"), " ").alias("ts"),
        ),
        fill=True,
        level=(
            StorageLevel.DISK_ONLY if big else StorageLevel.MEMORY_AND_DISK_DESER
        ),
    )


def docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation accounting: the stage-by-stage survivor
    funnel (docs + tokens remaining) as the standard filters chain —
    Gopher rule battery, then duplicate-span ceiling, then LM
    perplexity ceiling. This is the report a 100 TB curation run
    publishes; each component is itself an oracle-gated entry, and
    the funnel composes their exact per-document outputs, so the
    whole chain stays hash-checkable.

    Scale: all stages derive from ONE shared corpus scan/tokenization
    (_funnel_token_base), joined on doc_id and reduced to four rows.
    """
    base_tok = _funnel_token_base(spark, sf_dir)
    g0 = gopher_features_from_tokens(base_tok.select("doc_id", "t"))
    d0 = dup_span_from_tokens(
        base_tok.select("doc_id", F.col("ts").alias("t"))
    )
    lm0 = lm_score_from_tokens(
        base_tok.select("doc_id", "t"),
        _lm_postings_storage(
            load_tables(spark, sf_dir)["documents"],
            _corpus_count(spark, sf_dir),
        ),
    )
    g = g0.select("doc_id", "keep")
    d = d0.select("doc_id", "dup_ratio")
    lm = lm0.select("doc_id", "ppl")
    # size(t) == size of the unlowered split: lower() preserves
    # whitespace, so the lowered shared array counts the same tokens
    toks = base_tok.select(
        "doc_id", F.size("t").cast("long").alias("toks")
    )
    pass1 = F.col("keep")
    pass2 = pass1 & F.coalesce(
        F.col("dup_ratio") < F.lit(_FUNNEL_DUP_MAX), F.lit(False)
    )
    pass3 = pass2 & F.coalesce(
        F.col("ppl") <= F.lit(_FUNNEL_PPL_MAX), F.lit(False)
    )
    base = (
        toks.join(g, "doc_id")
        .join(d, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "toks",
            pass1.alias("p1"),
            pass2.alias("p2"),
            pass3.alias("p3"),
        )
    )
    stages = base.select(
        "toks",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("r"), F.lit("raw").alias("s"), F.lit(True).alias("p")),
                F.struct(F.lit(2).alias("r"), F.lit("gopher").alias("s"), F.col("p1").alias("p")),
                F.struct(F.lit(3).alias("r"), F.lit("dedup").alias("s"), F.col("p2").alias("p")),
                F.struct(F.lit(4).alias("r"), F.lit("lm").alias("s"), F.col("p3").alias("p")),
            )
        ).alias("st"),
    )
    agg = (
        stages.groupBy(
            F.col("st.r").cast("long").alias("stage_rank"),
            F.col("st.s").alias("stage"),
        )
        .agg(
            F.sum(F.when(F.col("st.p"), 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("st.p"), F.col("toks")).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    # the report always carries its four stages — on an EMPTY corpus
    # the groupBy above yields no rows, but the oracle's global
    # aggregates yield four zero rows; anchor on a literal stage table
    # so both sides agree on degenerate input
    stage_names = spark.createDataFrame(
        [(1, "raw"), (2, "gopher"), (3, "dedup"), (4, "lm")],
        "stage_rank long, stage string",
    )
    out = stage_names.join(agg, ["stage_rank", "stage"], "left").select(
        "stage_rank",
        "stage",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return out


DOCS_FUNNEL_ORACLE = rf"""
WITH g AS (SELECT doc_id, keep FROM ({DOCS_GOPHER_ORACLE})),
dd AS (SELECT doc_id, dup_ratio FROM ({DOCS_DUP_SPAN_ORACLE})),
lm AS (SELECT doc_id, ppl FROM ({DOCS_LM_SCORE_ORACLE})),
t AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
    FROM documents
),
base AS (
    SELECT t.toks,
           g.keep AS p1,
           g.keep AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE) AS p2,
           g.keep AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE)
                  AND COALESCE(lm.ppl <= {_FUNNEL_PPL_MAX}, FALSE) AS p3
    FROM t
    JOIN g USING (doc_id)
    LEFT JOIN dd USING (doc_id)
    LEFT JOIN lm USING (doc_id)
)
SELECT CAST(1 AS BIGINT) AS stage_rank, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
FROM base
UNION ALL
SELECT 2, 'gopher', CAST(count(*) FILTER (p1) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p1), 0) AS BIGINT) FROM base
UNION ALL
SELECT 3, 'dedup', CAST(count(*) FILTER (p2) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p2), 0) AS BIGINT) FROM base
UNION ALL
SELECT 4, 'lm', CAST(count(*) FILTER (p3) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p3), 0) AS BIGINT) FROM base
"""


# --------------------------------------- curation funnel v2 (classifier stage)

# Margin floor for the frozen-classifier stage: σ-margin units (score
# = σ(margin), so 0.545 ≈ keep score ≥ 0.633). Chosen from the sf0.01
# /sf0.1 margin distribution (p25 ≈ 0.546) so the stage measurably
# bites (~25% of gopher survivors) at both gate SFs.
_FUNNEL_QC_MARGIN_MIN = 0.545



def _funnel_scored_base(spark: SparkSession, sf_dir: str):
    """The funnel's shared per-document scored frame (r12 review:
    v2 and v3 had accumulated two ~95-line copies of this wiring):
    ONE corpus scan/tokenization, the four component frames joined on
    doc_id into (doc_id, toks, keep, margin, dup_ratio, ppl). The
    pass chain and the
    stage report are built on top by _funnel_pass_chain /
    _funnel_stage_report."""
    from analyst_spark.functions.classifier import (
        frozen_quality_margins_from_tokens,
    )

    base_tok = _funnel_token_base(spark, sf_dir)
    g0 = gopher_features_from_tokens(base_tok.select("doc_id", "t"))
    d0 = dup_span_from_tokens(
        base_tok.select("doc_id", F.col("ts").alias("t"))
    )
    lm0 = lm_score_from_tokens(
        base_tok.select("doc_id", "t"),
        _lm_postings_storage(
            load_tables(spark, sf_dir)["documents"],
            _corpus_count(spark, sf_dir),
        ),
    )
    qc = frozen_quality_margins_from_tokens(
        base_tok.select("doc_id", F.explode("t").alias("tok"))
    )
    toks = base_tok.select(
        "doc_id", F.size("t").cast("long").alias("toks")
    )
    joined = (
        toks.join(g0.select("doc_id", "keep"), "doc_id")
        .join(qc, "doc_id", "left")
        .join(d0.select("doc_id", "dup_ratio"), "doc_id", "left")
        .join(lm0.select("doc_id", "ppl"), "doc_id", "left")
    )
    return base_tok, joined


def _funnel_pass_chain():
    """p1..p4: the gopher / classifier / dup-span / LM pass columns
    (each cumulative), shared verbatim by v2 and v3."""
    pass1 = F.col("keep")
    pass2 = pass1 & F.coalesce(
        F.col("margin") >= F.lit(_FUNNEL_QC_MARGIN_MIN), F.lit(False)
    )
    pass3 = pass2 & F.coalesce(
        F.col("dup_ratio") < F.lit(_FUNNEL_DUP_MAX), F.lit(False)
    )
    pass4 = pass3 & F.coalesce(
        F.col("ppl") <= F.lit(_FUNNEL_PPL_MAX), F.lit(False)
    )
    return [pass1, pass2, pass3, pass4]


def _funnel_stage_report(spark, base, stage_specs):
    """Survivor accounting over a (toks, p1..pN) frame: one explode
    into per-stage rows, one aggregation, anchored on a literal
    stage table so an EMPTY corpus still reports every stage
    (the empty-corpus contract). ``stage_specs`` is
    [(rank, name, pass_col_name-or-None)] with None meaning the
    unconditional raw stage."""
    structs = [
        F.struct(
            F.lit(r).alias("r"),
            F.lit(s).alias("s"),
            (F.lit(True) if p is None else F.col(p)).alias("p"),
        )
        for r, s, p in stage_specs
    ]
    stages = base.select("toks", F.explode(F.array(*structs)).alias("st"))
    agg = (
        stages.groupBy(
            F.col("st.r").cast("long").alias("stage_rank"),
            F.col("st.s").alias("stage"),
        )
        .agg(
            F.sum(F.when(F.col("st.p"), 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("st.p"), F.col("toks")).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    stage_names = spark.createDataFrame(
        [(r, s) for r, s, _ in stage_specs], "stage_rank long, stage string"
    )
    return stage_names.join(agg, ["stage_rank", "stage"], "left").select(
        "stage_rank",
        "stage",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )


def docs_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel with the CCNet-style classifier deployed
    as a STAGE (VERDICT r6 #4): raw → Gopher rules → frozen quality
    classifier (hashed-feature logistic scorer, weights shipped as
    constants — functions/classifier_frozen.py, generated by
    tools/freeze_classifier.py from the docs_quality_classifier
    training recipe) → duplicate-span ceiling → LM perplexity
    ceiling. Training stays rows-only (iterative); SCORING with the
    frozen table is exact-integer arithmetic, so the composed funnel
    is fully hash-gated.

    Scale: the classifier stage adds one token explode + a broadcast
    join against a KB-sized weight table + two groupBys keyed on
    doc_id — the same partition-parallel shape as the other stages.
    All five stages (gopher, classifier, dup-span, LM, token count)
    derive from ONE shared corpus scan/tokenization
    (_funnel_token_base, VERDICT r7 #1) instead of each re-loading
    and re-splitting `documents`.
    """
    base_tok, joined = _funnel_scored_base(spark, sf_dir)
    p1, p2, p3, p4 = _funnel_pass_chain()
    base = joined.select(
        "toks",
        p1.alias("p1"), p2.alias("p2"), p3.alias("p3"), p4.alias("p4"),
    )
    out = _funnel_stage_report(spark, base, [
        (1, "raw", None), (2, "gopher", "p1"), (3, "classifier", "p2"),
        (4, "dedup", "p3"), (5, "lm", "p4"),
    ])
    return out


def _qc_frozen_values() -> str:
    """VALUES list of the frozen model's non-zero (bucket, nano-weight)
    rows for the oracle SQL."""
    from analyst_spark.functions.classifier_frozen import WEIGHTS_NANO

    rows = [f"({b}, {w})" for b, w in enumerate(WEIGHTS_NANO) if w]
    return ", ".join(rows) or "(0, 0)"


def _qc_margin_ctes() -> str:
    """The frozen-classifier margin CTE chain (qtok → qcnt → qtot →
    qw → qnum) shared by every oracle that scores documents with the
    frozen model (r12 review: three inline copies had accumulated —
    a change to the hashing/bucketing or the exact-integer margin
    formula must land exactly once). Ends WITHOUT a trailing comma;
    splice as ``{_qc_margin_ctes()},``."""
    from analyst_spark.functions.classifier_frozen import N_BUCKETS

    return rf"""qtok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents
),
qcnt AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % {N_BUCKETS} AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM qtok GROUP BY 1, 2
),
qtot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total FROM qcnt GROUP BY 1),
qw(bucket, wn) AS (VALUES {_qc_frozen_values()}),
qnum AS (
    SELECT c.doc_id, CAST(sum(c.cnt * qw.wn) AS BIGINT) AS numer
    FROM qcnt c JOIN qw USING (bucket) GROUP BY 1
)"""


def _qc_margin_float_cte() -> str:
    """The float-margin CTE on top of :func:`_qc_margin_ctes` —
    margin = numer/(total·1e9) + B/1e9, the exact-operand division
    both engines round identically."""
    from analyst_spark.functions.classifier_frozen import BIAS_NANO

    return rf"""qc AS (
    SELECT t.doc_id,
           COALESCE(qnum.numer, 0) / (t.total * 1e9)
             + {BIAS_NANO} / 1000000000.0 AS margin
    FROM qtot t LEFT JOIN qnum USING (doc_id)
)"""


def _funnel_v2_oracle() -> str:
    from analyst_spark.functions.classifier_frozen import BIAS_NANO, N_BUCKETS

    return rf"""
WITH g AS (SELECT doc_id, keep FROM ({DOCS_GOPHER_ORACLE})),
dd AS (SELECT doc_id, dup_ratio FROM ({DOCS_DUP_SPAN_ORACLE})),
lm AS (SELECT doc_id, ppl FROM ({DOCS_LM_SCORE_ORACLE})),
{_qc_margin_ctes()},
{_qc_margin_float_cte()},
t AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
    FROM documents
),
base AS (
    SELECT t.toks,
           g.keep AS p1,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE) AS p2,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE)
                  AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE) AS p3,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE)
                  AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE)
                  AND COALESCE(lm.ppl <= {_FUNNEL_PPL_MAX}, FALSE) AS p4
    FROM t
    JOIN g USING (doc_id)
    LEFT JOIN qc USING (doc_id)
    LEFT JOIN dd USING (doc_id)
    LEFT JOIN lm USING (doc_id)
)
SELECT CAST(1 AS BIGINT) AS stage_rank, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs, CAST(COALESCE(sum(toks), 0) AS BIGINT) AS n_tokens
FROM base
UNION ALL
SELECT 2, 'gopher', CAST(count(*) FILTER (p1) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p1), 0) AS BIGINT) FROM base
UNION ALL
SELECT 3, 'classifier', CAST(count(*) FILTER (p2) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p2), 0) AS BIGINT) FROM base
UNION ALL
SELECT 4, 'dedup', CAST(count(*) FILTER (p3) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p3), 0) AS BIGINT) FROM base
UNION ALL
SELECT 5, 'lm', CAST(count(*) FILTER (p4) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p4), 0) AS BIGINT) FROM base
"""


DOCS_FUNNEL_V2_ORACLE = _funnel_v2_oracle()


def docs_curation_funnel_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with the stage real pre-training pipelines run
    LAST: benchmark DECONTAMINATION. raw → Gopher rules → frozen
    classifier → duplicate-span ceiling → LM perplexity ceiling →
    drop every document whose 8-gram overlap with the benchmark set
    is ≥ 50% (contamination_ngram's exact rule — note this also
    drops the benchmark members themselves, which is precisely what
    a training run wants: eval prompts must not be trained on).

    The decontamination stage derives from the SAME shared corpus
    scan as the other five (the ``ts`` space-split is the
    contamination tokenization), so the whole 6-stage report still
    costs one parquet read and two tokenizations; the stage adds the
    n-gram projection, the broadcast bench-gram join, and one
    doc-keyed aggregation — the contamination_ngram shape fused into
    the funnel. All six stages remain exact-integer, so the composed
    report is fully hash-gated.
    """
    base_tok, joined = _funnel_scored_base(spark, sf_dir)
    # decontamination flags from the shared ts split. The hashed-gram
    # frame feeds both the bench side and the corpus side (the
    # contamination_ngram device); below the memory threshold it is
    # persisted so the transform runs once, above it the two consumers
    # recompute from base_tok's DISK_ONLY cache — two linear passes
    # that hold no storage memory (the same verdict as the LM
    # postings: at the ×1000 decade a second corpus-sized deserialized
    # cache starved the funnel's own aggregation).
    big = _corpus_count(spark, sf_dir) > _LM_POSTINGS_MEM_DOCS
    grams = base_tok.select(
        "doc_id",
        F.transform(
            _ngrams(F.col("ts"), _NGRAM_N), lambda x: F.xxhash64(x)
        ).alias("gs"),
    )
    if not big:
        grams = persist(grams, fill=True)
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    flagged = (
        grams.select(
            "doc_id", F.size("gs").alias("n_ngrams"), F.explode("gs").alias("g")
        )
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6) >= 0.5
        )
        .select("doc_id", F.lit(True).alias("contam"))
    )
    p1, p2, p3, p4 = _funnel_pass_chain()
    p5 = p4 & ~F.coalesce(F.col("contam"), F.lit(False))
    base = joined.join(flagged, "doc_id", "left").select(
        "toks",
        p1.alias("p1"), p2.alias("p2"), p3.alias("p3"), p4.alias("p4"),
        p5.alias("p5"),
    )
    out = _funnel_stage_report(spark, base, [
        (1, "raw", None), (2, "gopher", "p1"), (3, "classifier", "p2"),
        (4, "dedup", "p3"), (5, "lm", "p4"), (6, "decontaminate", "p5"),
    ])
    return out


def _funnel_v3_oracle() -> str:
    return rf"""
WITH g AS (SELECT doc_id, keep FROM ({DOCS_GOPHER_ORACLE})),
dd AS (SELECT doc_id, dup_ratio FROM ({DOCS_DUP_SPAN_ORACLE})),
lm AS (SELECT doc_id, ppl FROM ({DOCS_LM_SCORE_ORACLE})),
{_qc_margin_ctes()},
{_qc_margin_float_cte()},
cng AS (
    SELECT doc_id, {_duck_ngrams(_NGRAM_N)} AS gs
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
cbench AS (
    SELECT DISTINCT unnest(gs) AS g FROM cng WHERE doc_id % {_BENCH_MOD} = 0
),
cflag AS (
    SELECT e.doc_id, TRUE AS contam
    FROM (SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g FROM cng) e
    JOIN cbench b ON e.g = b.g
    GROUP BY e.doc_id, e.n_ngrams
    HAVING round(count(*) / CAST(e.n_ngrams AS DOUBLE), 6) >= 0.5
),
t AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
    FROM documents
),
base AS (
    SELECT t.toks,
           g.keep AS p1,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE) AS p2,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE)
                  AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE) AS p3,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE)
                  AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE)
                  AND COALESCE(lm.ppl <= {_FUNNEL_PPL_MAX}, FALSE) AS p4,
           g.keep AND COALESCE(qc.margin >= {_FUNNEL_QC_MARGIN_MIN}, FALSE)
                  AND COALESCE(dd.dup_ratio < {_FUNNEL_DUP_MAX}, FALSE)
                  AND COALESCE(lm.ppl <= {_FUNNEL_PPL_MAX}, FALSE)
                  AND NOT COALESCE(cf.contam, FALSE) AS p5
    FROM t
    JOIN g USING (doc_id)
    LEFT JOIN qc USING (doc_id)
    LEFT JOIN dd USING (doc_id)
    LEFT JOIN lm USING (doc_id)
    LEFT JOIN cflag cf USING (doc_id)
)
SELECT CAST(1 AS BIGINT) AS stage_rank, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs, CAST(COALESCE(sum(toks), 0) AS BIGINT) AS n_tokens
FROM base
UNION ALL
SELECT 2, 'gopher', CAST(count(*) FILTER (p1) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p1), 0) AS BIGINT) FROM base
UNION ALL
SELECT 3, 'classifier', CAST(count(*) FILTER (p2) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p2), 0) AS BIGINT) FROM base
UNION ALL
SELECT 4, 'dedup', CAST(count(*) FILTER (p3) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p3), 0) AS BIGINT) FROM base
UNION ALL
SELECT 5, 'lm', CAST(count(*) FILTER (p4) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p4), 0) AS BIGINT) FROM base
UNION ALL
SELECT 6, 'decontaminate', CAST(count(*) FILTER (p5) AS BIGINT),
       CAST(COALESCE(sum(toks) FILTER (p5), 0) AS BIGINT) FROM base
"""


DOCS_FUNNEL_V3_ORACLE = _funnel_v3_oracle()


# --------------------------------------------- quality prune curve

# classifier-margin milli cuts: coarse anchors plus fine steps across
# the corpus's live margin band (sf0.01/sf0.1 margins span
# ~[0.52, 0.60]; p25 ≈ 0.546 — the funnel's own threshold)
_PRUNE_GRID = [
    -200, 0, 250, 500,
    520, 530, 540, 545, 550, 555, 560, 570, 580,
    600, 750, 1000,
]


def docs_quality_prune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-vs-threshold curve for the frozen quality classifier:
    for each margin cut (milli-units, −0.2 … 1.0), how many documents
    and tokens survive — the decision artifact that picks the pruning
    threshold for a 100 TB curation run (and exactly how the funnel's
    own _FUNNEL_QC_MARGIN_MIN was chosen, now as a first-class query).

    All-integer device: margin >= k/1000 iff
    numer + BIAS_NANO·total >= k·total·1e6 (the margin's defining
    integers, functions/classifier.py
    frozen_quality_margin_ints_from_tokens) — the curve never
    materializes a float margin. Shares are exact ppm via integer
    division with DECIMAL(28,0)/HUGEINT headroom.

    Scale shape: one corpus tokenization feeds the margin integers;
    the 16-threshold grid rides a broadcast crossJoin whose groupBy
    map-side-combines to 16 rows, so the shuffle carries the grid,
    not the corpus. The grid frame also ANCHORS the report: an empty
    corpus still yields all 16 rows with zero counts (the funnel's
    literal-anchor lesson). NULL-text documents count in the
    denominator and never survive a cut.
    """
    from analyst_spark.functions.classifier import (
        frozen_quality_margin_ints_from_tokens,
    )
    from analyst_spark.functions.classifier_frozen import BIAS_NANO

    docs = load_tables(spark, sf_dir)["documents"]
    base = spread(docs).select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).withColumn(
        # lower() can't change whitespace, so the token count comes
        # from the SAME split — one corpus tokenization, not two
        "toks",
        F.when(F.col("t").isNotNull(), F.size("t")).cast("long"),
    )
    ints = frozen_quality_margin_ints_from_tokens(
        base.select("doc_id", F.explode("t").alias("tok"))
    )
    scored = base.select("doc_id", "toks").join(ints, "doc_id", "left")
    grid = spark.createDataFrame(
        [(t,) for t in _PRUNE_GRID], "thr_milli long"
    )
    keep = F.coalesce(
        F.col("numer") + F.lit(BIAS_NANO) * F.col("total")
        >= F.col("thr_milli") * F.col("total") * F.lit(1_000_000),
        F.lit(False),
    )
    per_thr = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr_milli")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("nd"),
            F.sum(F.when(keep, F.col("toks")).otherwise(0))
            .cast("long")
            .alias("nt"),
        )
    )
    totals = scored.agg(
        F.count(F.lit(1)).cast("long").alias("all_docs"),
        F.sum("toks").cast("long").alias("all_tokens"),
    )
    return (
        grid.join(per_thr, "thr_milli", "left")
        # 1-row corpus totals: broadcast nested-loop by construction
        .crossJoin(F.broadcast(totals))
        .select(
            "thr_milli",
            F.coalesce("nd", F.lit(0)).alias("n_docs_kept"),
            F.coalesce("nt", F.lit(0)).alias("n_tokens_kept"),
            F.expr(
                "CAST(CAST(coalesce(nd, 0) AS DECIMAL(28,0)) * 1000000"
                "     DIV nullif(all_docs, 0) AS BIGINT)"
            ).alias("docs_ppm"),
            F.expr(
                "CAST(CAST(coalesce(nt, 0) AS DECIMAL(28,0)) * 1000000"
                "     DIV nullif(all_tokens, 0) AS BIGINT)"
            ).alias("tokens_ppm"),
        )
    )


def _prune_curve_oracle() -> str:
    from analyst_spark.functions.classifier_frozen import BIAS_NANO, N_BUCKETS

    grid_rows = ", ".join(f"({t})" for t in _PRUNE_GRID)
    return rf"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN text IS NOT NULL
                THEN CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           END AS toks
    FROM documents
),
{_qc_margin_ctes()},
scored AS (
    SELECT b.doc_id, b.toks, COALESCE(qnum.numer, 0) AS numer, qtot.total
    FROM base b
    LEFT JOIN qtot USING (doc_id)
    LEFT JOIN qnum USING (doc_id)
),
grid(thr_milli) AS (VALUES {grid_rows}),
counts AS (
    SELECT g.thr_milli,
           CAST(sum(CASE WHEN COALESCE(
                    s.numer + {BIAS_NANO} * s.total
                        >= g.thr_milli * s.total * 1000000, FALSE)
                THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(sum(CASE WHEN COALESCE(
                    s.numer + {BIAS_NANO} * s.total
                        >= g.thr_milli * s.total * 1000000, FALSE)
                THEN s.toks ELSE 0 END) AS BIGINT) AS nt
    FROM grid g CROSS JOIN scored s GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS all_docs,
           CAST(sum(toks) AS BIGINT) AS all_tokens
    FROM scored
)
SELECT g.thr_milli,
       COALESCE(c.nd, 0) AS n_docs_kept,
       COALESCE(c.nt, 0) AS n_tokens_kept,
       CAST(CAST(COALESCE(c.nd, 0) AS HUGEINT) * 1000000 // nullif(all_docs, 0) AS BIGINT) AS docs_ppm,
       CAST(CAST(COALESCE(c.nt, 0) AS HUGEINT) * 1000000 // nullif(all_tokens, 0) AS BIGINT) AS tokens_ppm
FROM grid g LEFT JOIN counts c USING (thr_milli), tot
"""


DOCS_PRUNE_CURVE_ORACLE = _prune_curve_oracle()


# ------------------------------------------------- PII scrub output

def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub itself (text_pii_scan is the accounting twin): every
    document with planted PII, returned with emails/phones replaced by
    typed placeholder tags — per-doc before/after lengths and an md5
    of the scrubbed text so the oracle pins the exact output bytes.

    Map-only over the scan (regexp_replace is JVM codegen); at 100 TB
    this is the shape of the real redaction pass — scan bandwidth, no
    shuffle beyond none at all (per-doc output).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    planted = _planted_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    # "was scrubbed" = content changed, NOT length changed: a 7-char
    # email replaced by the 7-char <EMAIL> tag preserves length but is
    # still a redaction
    return (
        docs.select(
            "doc_id",
            planted.alias("__before"),
            F.length(planted).cast("long").alias("n_chars_before"),
            F.length(scrubbed).cast("long").alias("n_chars_after"),
            scrubbed.alias("__after"),
        )
        .filter(F.col("__before") != F.col("__after"))
        .select(
            "doc_id",
            "n_chars_before",
            "n_chars_after",
            F.md5(F.col("__after")).alias("scrubbed_md5"),
        )
    )


DOCS_PII_SCRUB_ORACLE = rf"""
WITH planted AS (
    SELECT doc_id, {_DUCK_PLANTED} AS t FROM documents
), scrubbed AS (
    SELECT doc_id, t,
           CAST(length(t) AS BIGINT) AS n_chars_before,
           regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS s
    FROM planted
)
SELECT doc_id, n_chars_before,
       CAST(length(s) AS BIGINT) AS n_chars_after,
       md5(s) AS scrubbed_md5
FROM scrubbed
WHERE t <> s
"""


# ------------------------------------------------- BPE tokenize + pack

_TOKPACK_MERGES = 64
_TOKPACK_BATCH = 16
_TOKPACK_SEQ = 512


def docs_bpe_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer path a pre-training pipeline runs, end to
    end: batched BPE training on the corpus (functions/bpe.py,
    ~merges/batch driver iterations), Arrow-batched encoding of every
    document with the trained table (bpe_encode_pandas — the 32k-merge
    scale form), then packing BPE-token counts into fixed 512-token
    sequences with the same distributed two-phase prefix sum as
    docs_pack_sequences.

    Rows-only gate (the merge table is iterative state, like
    bpe_train_merges); the invariants — total token conservation,
    contiguous sequence ids, per-sequence bounds — are pinned in
    tests/test_pipeline_plans.py, and every stage is individually
    parity-tested (trainer and encoder vs python twins, packer vs its
    SQL oracle).
    """
    from analyst_spark.functions.bpe import bpe_encode_pandas, bpe_train

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    merges = bpe_train(
        docs, num_merges=_TOKPACK_MERGES, batch=_TOKPACK_BATCH
    )
    toks = docs.select(
        "doc_id",
        F.size(bpe_encode_pandas("text", merges)).cast("long").alias("n_tok"),
    )
    placed = place_into_sequences(toks, _TOKPACK_SEQ)
    return placed.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ------------------------------------------------- quality classifier

_QC_STEPS = 6
_QC_BUCKETS = 1024


def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style linear quality filter, trained and applied
    distributed: DENSE shape features (log token count, mean token
    length, type-token ratio — functions/classifier.py
    dense_quality_stats) fit by IRLS/Newton, one aggregation per
    iteration, 14 scalars to the driver, the 4×4 normal equations
    solved there. Weak labels come from the Gopher rule battery (the
    standard bootstrap when no hand-labeled quality set exists), so
    the entry is fully self-contained.

    Recipe history (r11): the original form trained first-order GD
    on L1-normalized hashed bag-of-token features — measured on this
    corpus it NEVER left the majority-class constant (Σx = 1 hides
    length, and the Gopher labels are length/shape-driven; accuracy
    == label rate at every lr/steps tried, flipping all-true ↔
    all-false). The dense-IRLS form reaches ~0.78 training accuracy
    in 8 Newton steps (the numpy-converged ceiling for a linear
    model on these features). The hashed-GD machinery remains in
    functions/classifier.py with its weight-pinning numpy twin.

    Iterative training => no SQL oracle; verify_local gates training
    accuracy against a measured floor and checks the label column
    exactly against the Gopher oracle; tests/test_classifier.py pins
    the IRLS weights against a numpy twin.

    Output: (doc_id, score, pred, label) — score = σ(w·x + b).
    """
    from analyst_spark.functions.classifier import (
        dense_quality_stats,
        score_quality_dense,
        train_quality_irls,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    labels = gopher_features(docs).select(
        "doc_id", F.col("keep").cast("double").alias("y")
    )
    stats = persist(dense_quality_stats(docs), fill=False)
    w, b = train_quality_irls(stats, labels)
    scored = score_quality_dense(stats, w, b)
    return (
        scored.join(labels, "doc_id").select(
            "doc_id",
            "score",
            (F.col("score") >= 0.5).alias("pred"),
            (F.col("y") >= 0.5).alias("label"),
        )
    )


# ------------------------------------------------- chunking for embedding prep

_CHUNK_SIZE = 64     # tokens per chunk
_CHUNK_STRIDE = 48   # overlap = size - stride


def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the standard prep step
    before embedding (RAG indexing, retrieval corpora): fixed-size
    token windows with overlap, the LAST window right-aligned so
    every token is covered with no degenerate tail fragment.

    starts = {1, 1+S, 1+2S, ... ≤ n-C+1} ∪ {max(n-C+1, 1)}; chunk k
    is tokens [start, start+C). Pure Catalyst array expressions
    (sequence/slice/transform), map-only, zero shuffles — at 100 TB
    chunking is scan-bound and embarrassingly parallel, exactly as it
    must be. Chunk text rides out as an md5 so the hash gate compares
    content without hashing megabytes of raw text per row.

    Output: (doc_id, chunk_idx, start_tok, n_tok, chunk_md5).
    """
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    base = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("__t")
    )
    t = F.col("__t")
    n = F.size(t)
    C, S = _CHUNK_SIZE, _CHUNK_STRIDE
    last = F.greatest(n - F.lit(C) + 1, F.lit(1))
    seq = F.sequence(F.lit(1), last, F.lit(S))
    # append the right-aligned last start only when the stride didn't
    # already land on it (conditional append keeps order on BOTH
    # engines — DuckDB's list_distinct reorders, Spark's doesn't)
    starts = F.when((last - 1) % F.lit(S) == 0, seq).otherwise(
        F.concat(seq, F.array(last))
    )
    # slice each chunk BEFORE exploding: exploding (start, full-array)
    # rows duplicates the whole token array once per chunk — on a
    # 200k-token doc that is ~12.5k copies of a 200k-element array
    # (112s; r7 pathological-text sweep). The transform slices while
    # the array exists once per doc, and the exploded rows carry only
    # their C-token piece.
    pieces = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.slice(t, s, C).alias("piece"),
        ),
    )
    chunks = base.select(
        "doc_id", F.posexplode(pieces).alias("chunk_idx", "__ch")
    )
    piece = F.col("__ch.piece")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("__ch.start_tok").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


DOCS_CHUNK_ORACLE = rf"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
), st AS (
    SELECT doc_id, t,
           CASE WHEN (greatest(len(t) - {_CHUNK_SIZE} + 1, 1) - 1)
                     % {_CHUNK_STRIDE} = 0
                THEN range(1, greatest(len(t) - {_CHUNK_SIZE} + 1, 1) + 1,
                           {_CHUNK_STRIDE})
                ELSE range(1, greatest(len(t) - {_CHUNK_SIZE} + 1, 1) + 1,
                           {_CHUNK_STRIDE})
                     || [greatest(len(t) - {_CHUNK_SIZE} + 1, 1)]
           END AS starts
    FROM base
)
SELECT doc_id,
       CAST(unnest(range(len(starts))) AS BIGINT) AS chunk_idx,
       CAST(unnest(starts) AS BIGINT) AS start_tok,
       CAST(len(t[unnest(starts):unnest(starts) + {_CHUNK_SIZE} - 1]) AS BIGINT) AS n_tok,
       md5(array_to_string(t[unnest(starts):unnest(starts) + {_CHUNK_SIZE} - 1], ' ')) AS chunk_md5
FROM st
"""


# ------------------------------------------------- duplicate-span REMOVAL

_SPAN_MIN_RUN = 8  # tokens: only cut runs at least this long


def docs_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (Lee et al. 2022 substring dedup, the
    operation docs_dup_span only accounts for): cut every maximal run
    of >= _SPAN_MIN_RUN tokens whose 6-gram windows all occur in at
    least one OTHER document, and emit the cleaned text fingerprint.

    Distributed shape: the corpus-scale work is identical to
    docs_dup_span (postings explode → shared-gram aggregation → one
    join back), plus ONE extra per-doc array stage: the matched
    window starts collect per document (bounded by doc length), and
    coverage / window-full / removable-run masks are pure Catalyst
    array expressions — "p is removable iff some R-window containing
    p is fully covered", which equals the maximal-run >= R rule
    without any sequential scan. Per-doc cost is O(len · R); no
    Python, no extra shuffle beyond dup_span's.

    Each mask stage (cov → win → rm) is persisted: projection
    collapsing would otherwise INLINE the cov transform into every
    one of win's R slice references (and win/rm into each downstream
    per-position reference), compounding to an O(len²·R·|starts|)
    re-evaluation — measured 40s → ~1.5s at sf0.1. The InMemory
    boundary pins each mask as a materialized attribute; the cached
    frames are (docs × short arrays), registered for release.

    Output: (doc_id, n_tokens, n_removed, clean_md5).
    """
    N, R = _DUP_N, _SPAN_MIN_RUN
    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = persist(  # consumed 2x: shared table + join back
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(_ngrams(F.col("t"), N), lambda g: F.xxhash64(g))
            ).alias("i0", "g"),
        ).select("doc_id", (F.col("i0") + 1).alias("i"), "g"),
        fill=True,
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    doc_starts = (
        grams.join(shared, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("starts"))
    )
    d = toks.join(doc_starts, "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias("starts"),
    )
    n_t = F.size("t")
    cov = F.transform(
        F.sequence(F.lit(1), n_t),
        lambda p: F.exists(
            "starts", lambda s: (p >= s) & (p <= s + F.lit(N - 1))
        ).cast("int"),
    )
    d = persist(d.withColumn("cov", cov), fill=False)
    # win[q] = 1 iff tokens q..q+R-1 are ALL covered
    win = F.when(
        n_t >= R,
        F.transform(
            F.sequence(F.lit(1), n_t - F.lit(R - 1)),
            lambda q: (
                F.aggregate(
                    F.slice("cov", q, R), F.lit(0), lambda a, x: a + x
                )
                == R
            ),
        ),
    ).otherwise(F.array().cast("array<boolean>"))
    d = persist(d.withColumn("win", win), fill=False)
    # rm[p] = p lies inside SOME fully-covered R-window  <=>  p is in
    # a maximal covered run of length >= R
    rm = F.transform(
        F.sequence(F.lit(1), n_t),
        lambda p: F.when(
            (n_t >= R)
            & (F.least(p, n_t - F.lit(R - 1)) >= F.greatest(p - F.lit(R - 1), F.lit(1))),
            F.exists(
                F.sequence(
                    F.greatest(p - F.lit(R - 1), F.lit(1)),
                    F.least(p, n_t - F.lit(R - 1)),
                ),
                lambda q: F.element_at("win", q),
            ),
        ).otherwise(F.lit(False)),
    )
    d = persist(d.withColumn("rm", rm), fill=False)
    kept = F.transform(
        F.filter(
            F.sequence(F.lit(1), n_t), lambda p: ~F.element_at("rm", p)
        ),
        lambda p: F.element_at("t", p),
    )
    return (
        d.select(
            "doc_id",
            n_t.cast("long").alias("n_tokens"),
            F.aggregate(
                "rm", F.lit(0), lambda a, x: a + x.cast("int")
            ).cast("long").alias("n_removed"),
            F.md5(F.array_join(kept, " ")).alias("clean_md5"),
        )
    )


DOCS_DEDUP_SPANS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ng AS (
    SELECT doc_id, {_duck_ngrams(_DUP_N)} AS gs FROM toks
), grams AS (
    SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) AS i FROM ng
), shared AS (
    SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), doc_starts AS (
    SELECT grams.doc_id, list(i ORDER BY i) AS starts
    FROM grams JOIN shared ON grams.g = shared.g
    GROUP BY grams.doc_id
), base AS (
    SELECT t.doc_id, t.t, COALESCE(s.starts, []) AS starts, len(t.t) AS n_t
    FROM toks t LEFT JOIN doc_starts s ON t.doc_id = s.doc_id
), masks AS (
    SELECT doc_id, t, n_t,
        [CASE WHEN len(list_filter(starts,
             s -> s <= p AND p <= s + {_DUP_N - 1})) > 0
         THEN 1 ELSE 0 END
         for p in range(1, n_t + 1)] AS cov
    FROM base
), wins AS (
    SELECT doc_id, t, n_t, cov,
        [list_sum(cov[q:q + {_SPAN_MIN_RUN - 1}]) = {_SPAN_MIN_RUN}
         for q in range(1, n_t - {_SPAN_MIN_RUN - 1} + 1)] AS win
    FROM masks
), rms AS (
    SELECT doc_id, t, n_t,
        [CASE WHEN len([q for q in range(greatest(p - {_SPAN_MIN_RUN - 1}, 1),
                                         least(p, n_t - {_SPAN_MIN_RUN - 1}) + 1)
                        if win[q]]) > 0
         THEN 1 ELSE 0 END
         for p in range(1, n_t + 1)] AS rm
    FROM wins
)
SELECT doc_id,
       CAST(n_t AS BIGINT) AS n_tokens,
       CAST(list_sum(rm) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(
               [t[p] for p in range(1, n_t + 1) if rm[p] = 0], ' '),
           '')) AS clean_md5
FROM rms
"""


# ------------------------------------------------- Stupid Backoff LM

_SB_ALPHA = 0.4  # Brants et al. 2007 backoff weight


def docs_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff trigram LM scoring (Brants et al. 2007) in the
    CCNet deployment shape: the LM trains on the TARGET slice
    (lang='en' stands in for the high-quality reference corpus) and
    scores EVERY document — so backoff genuinely fires on non-target
    text whose trigrams/bigrams the target never saw.

    s(w3|w1w2) = c3/c2                     if the target saw the trigram
               = α · c2'(w2,w3)/c1(w2)     else if it saw the bigram
               = α² · (c1(w3)+k)/(Nt+k·V)  else (add-k unigram floor, so
                                           OOV words never hit log 0)

    Distributed shape (docs_lm_score's discipline): all count tables
    are vocab-bounded; each DISTINCT corpus trigram is scored once
    against them (left joins at vocab scale), snapped to integer
    micro-logs, and the per-doc aggregation joins the trigram
    POSTINGS directly (trigram multiplicities ~1 — the r6
    pre-agg-vs-direct-join lesson). Scalars ride one 1-row broadcast.

    Output: (doc_id, n_trigrams, sum_micro_logscore, neg_avg_logscore,
    ppl_proxy) — ppl over s, the standard backoff quality signal.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = spread(docs).select(
        "doc_id",
        "lang",
        F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
    )
    tri = persist(  # consumed by target counts AND the scoring join
        toks.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                        F.element_at("t", i + 2).alias("w3"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "lang", "g.w1", "g.w2", "g.w3"),
        fill=True,
    )
    # consumed 3x: target uni/bigram counts + vocab
    uni = persist(toks.select("lang", F.explode("t").alias("w")), fill=True)
    t_uni = (
        uni.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    t_bi = (
        toks.filter((F.col("lang") == _DSIR_TARGET_LANG) & (F.size("t") >= 2))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .groupBy("b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    t_tri = (
        tri.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    scal = uni.agg(
        F.sum((F.col("lang") == _DSIR_TARGET_LANG).cast("long")).alias("nt"),
        F.count_distinct("w").alias("v"),
    )
    k, a = F.lit(_LM_K), F.lit(_SB_ALPHA)
    distinct_tri = tri.select("w1", "w2", "w3").distinct()
    b12 = t_bi.select(
        F.col("w1"), F.col("w2"), F.col("c2").alias("c2_ctx")
    )
    b23 = t_bi.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("c2").alias("c2_bo"),
    )
    u2 = t_uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    u3 = t_uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w3"))
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3") / F.col("c2_ctx"),
        )
        .when(
            F.col("c2_bo").isNotNull(),
            a * F.col("c2_bo") / F.col("c1_w2"),
        )
        .otherwise(
            a * a * (F.coalesce(F.col("c1_w3"), F.lit(0)) + k)
            / (F.col("nt") + k * F.col("v"))
        )
    )
    tri_scores = (
        distinct_tri.join(t_tri, ["w1", "w2", "w3"], "left")
        .join(b12, ["w1", "w2"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .crossJoin(F.broadcast(scal))  # 1-row scalars
        .select(
            "w1", "w2", "w3",
            F.round(F.log(s) * F.lit(1000000.0)).cast("long").alias("micro"),
        )
    )
    scored = tri.join(tri_scores, ["w1", "w2", "w3"]).select("doc_id", "micro")
    n = F.count(F.lit(1))
    ssum = F.sum("micro")
    return (
        scored.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_trigrams"),
            ssum.cast("long").alias("sum_micro_logscore"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "sum_micro_logscore",
            (-_avg_micro6("sum_micro_logscore", "n_trigrams")).alias(
                "neg_avg_logscore"
            ),
            F.round(
                F.exp(
                    -(F.col("sum_micro_logscore") / F.lit(1000000.0))
                    / F.col("n_trigrams")
                ),
                4,
            ).alias("ppl_proxy"),
        )
    )


DOCS_LM_BACKOFF_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
), tri AS (
    SELECT doc_id, lang,
           t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
    FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
    WHERE len(t) >= 3
), uni AS (
    SELECT lang, unnest(t) AS w FROM toks
), t_uni AS (
    SELECT w, count(*) AS c1 FROM uni
    WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY w
), t_bi AS (
    SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c2
    FROM toks, unnest(range(1, len(t))) AS r(i)
    WHERE lang = '{_DSIR_TARGET_LANG}' AND len(t) >= 2
    GROUP BY 1, 2
), t_tri AS (
    SELECT w1, w2, w3, count(*) AS c3 FROM tri
    WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1, 2, 3
), scal AS (
    SELECT (SELECT count(*) FROM uni WHERE lang = '{_DSIR_TARGET_LANG}') AS nt,
           (SELECT count(DISTINCT w) FROM uni) AS v
), dtri AS (
    SELECT DISTINCT w1, w2, w3 FROM tri
), tri_scores AS (
    SELECT d.w1, d.w2, d.w3,
           CAST(round(ln(
               CASE
                 WHEN tt.c3 IS NOT NULL
                   THEN tt.c3 / CAST(b12.c2 AS DOUBLE)
                 WHEN b23.c2 IS NOT NULL
                   THEN {_SB_ALPHA} * b23.c2 / CAST(u2.c1 AS DOUBLE)
                 ELSE {_SB_ALPHA} * {_SB_ALPHA}
                      * (COALESCE(u3.c1, 0) + {_LM_K})
                      / (s.nt + {_LM_K} * s.v)
               END) * 1000000.0) AS BIGINT) AS micro
    FROM dtri d
    LEFT JOIN t_tri tt ON d.w1 = tt.w1 AND d.w2 = tt.w2 AND d.w3 = tt.w3
    LEFT JOIN t_bi b12 ON d.w1 = b12.w1 AND d.w2 = b12.w2
    LEFT JOIN t_bi b23 ON d.w2 = b23.w1 AND d.w3 = b23.w2
    LEFT JOIN t_uni u2 ON d.w2 = u2.w
    LEFT JOIN t_uni u3 ON d.w3 = u3.w
    CROSS JOIN scal s
)
SELECT doc_id, n_trigrams, sum_micro_logscore,
       -({_avg_micro6_sql("sum_micro_logscore", "n_trigrams")}) AS neg_avg_logscore,
       round(exp(-(sum_micro_logscore / 1000000.0) / n_trigrams), 4) AS ppl_proxy
FROM (
    SELECT tri.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(micro) AS BIGINT) AS sum_micro_logscore
    FROM tri
    JOIN tri_scores ON tri.w1 = tri_scores.w1 AND tri.w2 = tri_scores.w2
                   AND tri.w3 = tri_scores.w3
    GROUP BY tri.doc_id
)
"""


# ------------------------- language-stratified perplexity buckets


def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    each LANGUAGE, split the corpus into head / middle / tail
    perplexity tertiles — the partition CCNet materializes to drive
    sampling (train mostly on the head, hold the tail for audits).

    Bucketing is integer-exact, never a float-threshold comparison:
    the key is the per-token average micro-log-prob floored into
    1e-3-log-space bins, ``qbin = floor(sum_micro_logprob /
    (n_bigrams*1000))`` — computed by a portable pure-integer floor
    division (subtract the positive mod, then exact integer divide;
    Spark ``div`` truncation == DuckDB ``//`` floor when the
    numerator divides exactly) so both engines bin identically, and
    every doc in a bin shares a bucket so ties can never straddle a
    cut. Lower ppl == higher qbin, so tertiles come from counts of
    STRICTLY-BETTER docs: bucket(b) = head while 3*cum_excl < total,
    middle while < 2*total, else tail.

    Scale (100 TB): the per-(lang, qbin) histogram is BOUNDED — the
    1e-3 binning caps it at (per-token log-prob range)*1000 bins per
    language (~20k) regardless of corpus size — so the tertile cuts
    are a window over a tiny table, broadcast back onto the corpus.
    No per-language total sort, no corpus-sized window. The only
    corpus-sized exchanges are the LM scorer's own (shared with
    docs_lm_score) plus one co-keyed doc_id join for the lang column.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = spread(docs).select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    lm = lm_score_from_tokens(
        toks, _lm_postings_storage(docs, _corpus_count(spark, sf_dir))
    )
    scored = lm.select("doc_id", "n_bigrams", "sum_micro_logprob").join(
        spread(docs, "doc_id").select("doc_id", "lang"), "doc_id"
    )
    d = "(n_bigrams * CAST(1000 AS BIGINT))"
    qbin = F.expr(
        f"(sum_micro_logprob - ((sum_micro_logprob % {d} + {d}) % {d}))"
        f" div {d}"
    )
    # consumed by BOTH the broadcast cuts subquery (which materializes
    # eagerly as its own job chain) and the final join — without the
    # persist the ENTIRE LM scorer runs twice (measured: 31 jobs /
    # 68 stages for this entry vs 17 jobs for docs_lm_score alone).
    # The cache fills inside the cuts broadcast job; no eager count.
    binned = persist(
        scored.select("doc_id", "lang", qbin.alias("qbin")), fill=False
    )
    hist = binned.groupBy("lang", "qbin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_excl = (
        Window.partitionBy("lang")
        .orderBy(F.col("qbin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cuts = hist.select(
        "lang",
        "qbin",
        F.coalesce(F.sum("cnt").over(w_excl), F.lit(0)).alias("cum_excl"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("tot"),
    ).select(
        "lang",
        "qbin",
        F.when(3 * F.col("cum_excl") < F.col("tot"), "head")
        .when(3 * F.col("cum_excl") < 2 * F.col("tot"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    out = binned.join(F.broadcast(cuts), ["lang", "qbin"]).select(
        "doc_id", "lang", "qbin", "bucket"
    )
    return out


DOCS_PPL_BUCKETS_ORACLE = rf"""
WITH lm AS (
    SELECT doc_id, n_bigrams, sum_micro_logprob FROM ({DOCS_LM_SCORE_ORACLE})
),
b AS (
    SELECT l.doc_id, d.lang,
           (sum_micro_logprob
            - ((sum_micro_logprob % (n_bigrams * 1000) + n_bigrams * 1000)
               % (n_bigrams * 1000)))
           // (n_bigrams * 1000) AS qbin
    FROM lm l JOIN documents d ON l.doc_id = d.doc_id
),
h AS (
    SELECT lang, qbin, CAST(count(*) AS BIGINT) AS cnt
    FROM b GROUP BY lang, qbin
),
k AS (
    SELECT lang, qbin,
           COALESCE(sum(cnt) OVER (
               PARTITION BY lang ORDER BY qbin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl,
           sum(cnt) OVER (PARTITION BY lang) AS tot
    FROM h
)
SELECT b.doc_id, b.lang, b.qbin,
       CASE WHEN 3 * cum_excl < tot THEN 'head'
            WHEN 3 * cum_excl < 2 * tot THEN 'middle'
            ELSE 'tail' END AS bucket
FROM b JOIN k ON b.lang = k.lang AND b.qbin = k.qbin
"""


# ------------------------------------------------- BM25 retrieval

_BM25_QUERY = ("spark", "merge", "dup")  # common/common/rare in the corpus
_BM25_TOP_K = 20
# k1=1.2, b=0.75 as exact rationals: k1+1 = 11/5, k1(1-b) = 3/10,
# k1*b = 9/10 — so the per-term denominator multiplied by 10*T is the
# INTEGER 10*T*tf + 3*T + 9*len*N and the whole Robertson/Sparck
# Jones score has an exact integer-micro form (see docstring).


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus for a fixed query — the
    relevance-ranking primitive of query-driven corpus curation
    (select training documents near a topic, score contamination
    against eval queries by ranking instead of exact n-gram hits).
    Thin wrapper over :func:`analyst_spark.functions.retrieval.
    bm25_topk`, which documents the exact-integer scoring device and
    the scale shape; the DuckDB twin below mirrors it term for term,
    so the whole ranking hash-gates bit-for-bit.
    """
    from analyst_spark.functions.retrieval import bm25_topk

    docs = load_tables(spark, sf_dir)["documents"]
    return bm25_topk(docs, _BM25_QUERY, k=_BM25_TOP_K)


DOCS_BM25_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, token AS w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ) WHERE token <> ''
), lens AS (
    SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
), corpus AS (
    SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS t_tokens
    FROM lens
), posting AS (
    SELECT doc_id, w, count(*) AS tf FROM toks
    WHERE w IN ('spark', 'merge', 'dup') GROUP BY doc_id, w
), dfs AS (
    SELECT w, count(*) AS df FROM posting GROUP BY w
), per_term AS (
    SELECT p.doc_id,
           (2*(CAST(CAST(round(ln((2*c.n_docs + 2) / (2.0*d.df + 1))
                          * 1000000.0) AS BIGINT) AS HUGEINT)
               * p.tf * 22 * c.t_tokens)
            + (10*CAST(c.t_tokens AS HUGEINT)*p.tf
               + 3*c.t_tokens + 9*l.len*c.n_docs))
           // (2*(10*CAST(c.t_tokens AS HUGEINT)*p.tf
                  + 3*c.t_tokens + 9*l.len*c.n_docs)) AS c_micro
    FROM posting p
    JOIN lens l USING (doc_id)
    JOIN dfs d USING (w)
    CROSS JOIN corpus c
)
SELECT doc_id,
       CAST(sum(c_micro) AS BIGINT) AS score_micro,
       CAST(sum(c_micro) AS BIGINT) / 1000000.0 AS score
FROM per_term
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id ASC
LIMIT {_BM25_TOP_K}
"""


# --------------------------------------------- multi-query BM25 (r10)

# four queries over the corpus's 31-token vocabulary: q1 repeats the
# single-query entry's terms (the pytest asserts multi ≡ single on
# it), the rest mix common and rare ('dup' df≈26 vs ~900) terms
_BM25_MULTI_QUERIES = (
    (1, "spark"), (1, "merge"), (1, "dup"),
    (2, "hash"), (2, "join"), (2, "scan"),
    (3, "dup"), (3, "window"),
    (4, "vector"), (4, "stream"), (4, "fast"),
)
_BM25_MULTI_K = 10


def docs_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 (VERDICT r9 #6): one corpus pass scores a
    query TABLE — rank windows partitioned by query_id, postings
    semi-joined against the union term set — the shape query-driven
    curation actually runs (thousands of eval/topic queries per
    sweep). See :func:`analyst_spark.functions.retrieval.
    bm25_topk_multi` for the one-scan cost argument; per-(doc, term)
    contributions are computed once and fanned out, so q1 here must
    agree with ``docs_bm25_topk`` wherever their cuts overlap
    (asserted in tests/test_bm25.py)."""
    from analyst_spark.functions.retrieval import bm25_topk_multi

    docs = load_tables(spark, sf_dir)["documents"]
    q = spark.createDataFrame(
        list(_BM25_MULTI_QUERIES), "query_id int, term string"
    )
    return bm25_topk_multi(docs, q, k=_BM25_MULTI_K)


def _bm25_multi_ctes() -> str:
    """The q → toks → per_query CTE chain shared by the multi-query
    BM25 oracle and the multi-query hybrid-RRF oracle."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in _BM25_MULTI_QUERIES)
    return f"""q(query_id, w) AS (VALUES {vals}),
toks AS (
    SELECT doc_id, token AS w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ) WHERE token <> ''
), lens AS (
    SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
), corpus AS (
    SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS t_tokens
    FROM lens
), posting AS (
    SELECT doc_id, w, count(*) AS tf FROM toks
    WHERE w IN (SELECT DISTINCT w FROM q) GROUP BY doc_id, w
), dfs AS (
    SELECT w, count(*) AS df FROM posting GROUP BY w
), per_term AS (
    SELECT p.doc_id, p.w,
           (2*(CAST(CAST(round(ln((2*c.n_docs + 2) / (2.0*d.df + 1))
                          * 1000000.0) AS BIGINT) AS HUGEINT)
               * p.tf * 22 * c.t_tokens)
            + (10*CAST(c.t_tokens AS HUGEINT)*p.tf
               + 3*c.t_tokens + 9*l.len*c.n_docs))
           // (2*(10*CAST(c.t_tokens AS HUGEINT)*p.tf
                  + 3*c.t_tokens + 9*l.len*c.n_docs)) AS c_micro
    FROM posting p
    JOIN lens l USING (doc_id)
    JOIN dfs d USING (w)
    CROSS JOIN corpus c
), per_query AS (
    SELECT q.query_id, t.doc_id,
           CAST(sum(t.c_micro) AS BIGINT) AS score_micro
    FROM per_term t JOIN q ON q.w = t.w
    GROUP BY q.query_id, t.doc_id
)"""


def _bm25_multi_oracle() -> str:
    return f"""
WITH {_bm25_multi_ctes()}
SELECT query_id, doc_id, score_micro,
       score_micro / 1000000.0 AS score,
       CAST(rank AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY score_micro DESC, doc_id ASC) AS rank
    FROM per_query
) WHERE rank <= {_BM25_MULTI_K}
"""


DOCS_BM25_MULTI_ORACLE = _bm25_multi_oracle()


# ------------------------------------- multi-query hybrid RRF (r10)

_RRF_MULTI_CAND = 50
_RRF_MULTI_K = 10


def docs_rrf_hybrid_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query hybrid retrieval over the query TABLE: multi-query
    BM25 (lexical) and multi-query exact cosine (semantic — the
    embedding of doc ``query_id - 1`` is each query's vector;
    vec_id is 1:1 with doc_id in the testdata) fused per query with
    Reciprocal Rank Fusion. Completes the multi-query story (VERDICT
    r9 #6): one corpus pass per retriever scores EVERY query, the
    fusion join moves O(queries × depth) rows, and both the cut and
    the fusion are rank windows partitioned by query_id. Single-query
    entries unchanged."""
    from analyst_spark.functions.retrieval import (
        bm25_topk_multi,
        rrf_fuse_multi,
    )
    from analyst_spark.functions.similarity import cosine_topk

    t = load_tables(spark, sf_dir)
    q = spark.createDataFrame(
        list(_BM25_MULTI_QUERIES), "query_id int, term string"
    )
    n_q = max(qid for qid, _ in _BM25_MULTI_QUERIES)
    bm = bm25_topk_multi(t["documents"], q, k=_RRF_MULTI_CAND)
    bm_ranked = bm.select("query_id", "doc_id", "rank")
    cos = cosine_topk(
        t["embeddings"],
        t["embeddings"].filter(F.col("vec_id") < n_q),
        k=_RRF_MULTI_CAND,
    )
    cos_ranked = cos.select(
        (F.col("query_id") + 1).cast("int").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    fused = rrf_fuse_multi(
        [("bm25", bm_ranked), ("cos", cos_ranked)],
        k=_RRF_MULTI_K,
        rrf_k=_RRF_KCONST,
    )
    return fused


def _rrf_multi_oracle() -> str:
    n_q = max(qid for qid, _ in _BM25_MULTI_QUERIES)
    cos = """round(list_dot_product(q.qv, c.cv)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6)"""
    return f"""
WITH {_bm25_multi_ctes()}, bm_ranked AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, row_number() OVER (
            PARTITION BY query_id
            ORDER BY score_micro DESC, doc_id ASC) AS rank
        FROM per_query
    ) WHERE rank <= {_RRF_MULTI_CAND}
), qv AS (
    SELECT CAST(vec_id + 1 AS INTEGER) AS query_id,
           vec_id AS src_vec, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {n_q}
), cos_ranked AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT q.query_id, c.vec_id AS doc_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {cos} DESC, c.vec_id ASC) AS rank
        FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
        CROSS JOIN qv q
        WHERE c.vec_id <> q.src_vec
    ) WHERE rank <= {_RRF_MULTI_CAND}
), fused AS (
    SELECT coalesce(b.query_id, c.query_id) AS query_id,
           coalesce(b.doc_id, c.doc_id) AS doc_id,
           b.rank AS bm25_rank,
           c.rank AS cos_rank,
           coalesce(1000000000 // ({_RRF_KCONST} + b.rank), 0)
             + coalesce(1000000000 // ({_RRF_KCONST} + c.rank), 0)
               AS rrf_nano
    FROM bm_ranked b
    FULL OUTER JOIN cos_ranked c
      ON b.query_id = c.query_id AND b.doc_id = c.doc_id
)
SELECT query_id, doc_id,
       CAST(bm25_rank AS INTEGER) AS bm25_rank,
       CAST(cos_rank AS INTEGER) AS cos_rank,
       CAST(rrf_nano AS BIGINT) AS rrf_nano,
       CAST(rrf_nano AS BIGINT) / 1000000000.0 AS rrf_score
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY rrf_nano DESC, doc_id ASC) AS rr
    FROM fused
) WHERE rr <= {_RRF_MULTI_K}
"""


# DOCS_RRF_MULTI_ORACLE is assigned at the end of the module:
# _rrf_multi_oracle() reads _RRF_KCONST, defined in the single-query
# RRF section below.


# --------------------------------------------- hybrid retrieval (RRF)

_RRF_CAND = 50        # per-retriever candidate depth
_RRF_FINAL_K = 20
_RRF_KCONST = 60      # the SIGIR'09 paper's k
_RRF_QUERY_VEC = 0    # the semantic query: embedding of doc 0


def docs_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and exact cosine (semantic)
    candidate lists fused with Reciprocal Rank Fusion — the standard
    two-tower retrieval shape for query-driven corpus curation, where
    neither score is calibrated against the other so only ranks fuse.
    vec_id is 1:1 with doc_id in the testdata, mirroring a corpus
    with one embedding per document.

    Scale: each retriever bounds its own cost (BM25: postings
    filtered to the query's terms; cosine: one broadcast query row
    against a single corpus scan) and emits <= _RRF_CAND rows, so
    the fusion join is O(depth) regardless of corpus size. See
    :func:`analyst_spark.functions.retrieval.rrf_fuse` for the
    integer-nano exactness device.
    """
    from analyst_spark.functions.retrieval import bm25_topk, rrf_fuse
    from analyst_spark.functions.similarity import cosine_topk

    t = load_tables(spark, sf_dir)
    bm = bm25_topk(t["documents"], _BM25_QUERY, k=_RRF_CAND)
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    cos_ranked = cosine_topk(
        t["embeddings"],
        t["embeddings"].filter(F.col("vec_id") == _RRF_QUERY_VEC),
        k=_RRF_CAND,
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    fused = rrf_fuse(
        [("bm25", bm_ranked), ("cos", cos_ranked)],
        k=_RRF_FINAL_K,
        rrf_k=_RRF_KCONST,
    )
    return fused


DOCS_RRF_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, token AS w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ) WHERE token <> ''
), lens AS (
    SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
), corpus AS (
    SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS t_tokens
    FROM lens
), posting AS (
    SELECT doc_id, w, count(*) AS tf FROM toks
    WHERE w IN ('spark', 'merge', 'dup') GROUP BY doc_id, w
), dfs AS (
    SELECT w, count(*) AS df FROM posting GROUP BY w
), per_term AS (
    SELECT p.doc_id,
           (2*(CAST(CAST(round(ln((2*c.n_docs + 2) / (2.0*d.df + 1))
                          * 1000000.0) AS BIGINT) AS HUGEINT)
               * p.tf * 22 * c.t_tokens)
            + (10*CAST(c.t_tokens AS HUGEINT)*p.tf
               + 3*c.t_tokens + 9*l.len*c.n_docs))
           // (2*(10*CAST(c.t_tokens AS HUGEINT)*p.tf
                  + 3*c.t_tokens + 9*l.len*c.n_docs)) AS c_micro
    FROM posting p
    JOIN lens l USING (doc_id)
    JOIN dfs d USING (w)
    CROSS JOIN corpus c
), bm_scores AS (
    SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
    FROM per_term GROUP BY doc_id
), bm_ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
               AS rank
    FROM bm_scores
    QUALIFY rank <= {_RRF_CAND}
), q AS (
    SELECT embedding::DOUBLE[] AS qv FROM embeddings
    WHERE vec_id = {_RRF_QUERY_VEC}
), cos_ranked AS (
    SELECT doc_id, rank FROM (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (
                   ORDER BY round(list_dot_product(q.qv, c.cv)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                       c.vec_id ASC) AS rank
        FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
              WHERE vec_id <> {_RRF_QUERY_VEC}) c
        CROSS JOIN q
    ) WHERE rank <= {_RRF_CAND}
), fused AS (
    SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
           b.rank AS bm25_rank,
           c.rank AS cos_rank,
           coalesce(1000000000 // ({_RRF_KCONST} + b.rank), 0)
             + coalesce(1000000000 // ({_RRF_KCONST} + c.rank), 0)
               AS rrf_nano
    FROM bm_ranked b FULL OUTER JOIN cos_ranked c ON b.doc_id = c.doc_id
)
SELECT doc_id,
       CAST(bm25_rank AS INTEGER) AS bm25_rank,
       CAST(cos_rank AS INTEGER) AS cos_rank,
       CAST(rrf_nano AS BIGINT) AS rrf_nano,
       CAST(rrf_nano AS BIGINT) / 1000000000.0 AS rrf_score
FROM fused
ORDER BY rrf_nano DESC, doc_id ASC
LIMIT {_RRF_FINAL_K}
"""


DOCS_RRF_MULTI_ORACLE = _rrf_multi_oracle()


# ----------------------- quality-chosen dedup representatives (r12)


def dedup_cluster_quality_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection by QUALITY, not by id (r12): after
    near-dup clustering, a curation pipeline keeps the BEST member of
    each duplicate group — the decision policy real corpus builds use
    (min-id is an arbitrary tie-break; quality-ranked retention is
    the point of having a classifier). Composition: minhash near-dup
    pairs → connected components → per-cluster argmax of the FROZEN
    quality classifier's margin (ties → lower doc_id).

    Cross-engine exactness: the margin is numer/(total·1e9) + B/1e9
    over exact integers (functions/classifier.py
    frozen_quality_margins) — both engines divide the same two
    integers, so the doubles are bit-identical and the per-cluster
    ORDERING is exact; the margin itself stays out of the output
    (rounding a float margin could land on a half boundary where
    Spark/DuckDB round() disagree — the _avg_micro6 lesson).

    Output (cluster_id, rep_id, n_members) for every near-dup
    cluster."""
    from pyspark.sql import Window

    from analyst_spark.functions.classifier import frozen_quality_margins
    from analyst_spark.functions.cluster import connected_components
    from analyst_spark.functions.dedup import minhash_pairs
    from analyst_spark.plans.text_plans import (
        _BANDS,
        _ROWS_PER_BAND,
        _SHINGLE_N,
    )

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id").select(
        "doc_id", "text"
    )
    pairs = minhash_pairs(
        docs, n=_SHINGLE_N, bands=_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    cc = connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )
    margins = frozen_quality_margins(docs)
    m = cc.join(margins, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    out = (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_id"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )
    return out


def _cluster_quality_rep_oracle() -> str:
    from analyst_spark.functions.classifier_frozen import BIAS_NANO, N_BUCKETS
    from analyst_spark.plans.text_plans import DEDUP_MINHASH_ORACLE

    return rf"""
WITH RECURSIVE pairs AS (
    {DEDUP_MINHASH_ORACLE}
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
), walk AS (
    SELECT src, dst FROM edges
    UNION
    SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
), comp AS (
    SELECT CAST(src AS BIGINT) AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
    FROM walk GROUP BY src
),
{_qc_margin_ctes()},
{_qc_margin_float_cte()},
ranked AS (
    SELECT comp.cluster_id, comp.doc_id, qc.margin,
           row_number() OVER (
               PARTITION BY comp.cluster_id
               ORDER BY qc.margin DESC, comp.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY comp.cluster_id) AS n_members
    FROM comp JOIN qc USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


DEDUP_CLUSTER_QUALITY_REP_ORACLE = _cluster_quality_rep_oracle()

"""Deduplication for training-data pipelines.

Five strategies, all shuffle-aware:

* **exact** — hash-groupBy on a content fingerprint. One shuffle on
  the fingerprint; at 100 TB this is the cheapest possible dedup
  (map-side combine collapses most duplicates before the shuffle).
* **MinHash + LSH** — shingle → k min-hashes → band → bucket-join.
  Candidate generation is a self-join on (band, band_hash): only
  documents sharing a band bucket ever meet, so the pair space is
  ~linear, never O(n²).
* **SimHash** — 32-bit signature; near-dups collide on the signature
  (or differ in few bits). Signature computation is one explode +
  groupBy — two narrow shuffles.
* **n-gram Jaccard** — exact pairwise Jaccard, but only over pairs
  that share at least one shingle (self-join on shingle, then count).
  Used to *verify* LSH candidates; at scale you run it only on the
  LSH-bucketed candidates.
* **embedding cosine** — see :mod:`analyst_spark.functions.similarity`.

Hash choice: md5 everywhere an oracle needs to reproduce the result
cross-engine; `fast=True` switches to xxhash64 (JVM, no hex-string
materialization) for the production path.
"""

from __future__ import annotations

import threading
import weakref

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analyst_spark.functions.text import doc_fingerprint, normalize_text, tokens
from analyst_spark.tables import spread


# SparkSession -> {id(frame): (frame, checkpoint RDD or None)}: every
# intermediate a plan materialized for its session, until release.
# Weakly keyed like ``tables._SCHEMAS``; the frames are held strongly
# so their ids stay unique while recorded.
_LEDGER: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_LEDGER_LOCK = threading.Lock()


def _record(frame: DataFrame, rdd=None) -> bool:
    """Add ``frame`` to its session's ledger; False if already there."""
    with _LEDGER_LOCK:
        recorded = _LEDGER.setdefault(frame.sparkSession, {})
        if id(frame) in recorded:
            return False
        recorded[id(frame)] = (frame, rdd)
        return True


def persist(
    frame: DataFrame, fill: bool, level: StorageLevel | None = None
) -> DataFrame:
    """Persist ``frame`` for the rest of the query and record it for
    :func:`release_cached`; returns ``frame``.

    ``fill`` counts the frame once, NOW, so Catalyst plans downstream
    joins on REAL statistics. An unmaterialized InMemoryRelation
    inherits its child's size estimate — explode does not grow
    sizeInBytes — so a corpus whose pruned scan fits the broadcast
    threshold would get its multi-GB postings statically planned as a
    broadcast (driver OOM on a 600M-shingle probe corpus).

    A frame that is already recorded (persisted or checkpointed by
    its owner) is returned untouched: never persisted on top, never
    filled again — the owner already chose how and when it
    materializes.
    """
    if not _record(frame):
        return frame
    if level is None:
        frame.persist()
    else:
        frame.persist(level)
    if fill:
        frame.count()
    return frame


def checkpoint(frame: DataFrame) -> DataFrame:
    """A lazy ``localCheckpoint`` of ``frame`` (materialized by the
    first action that reads it, lineage cut from then on), recorded
    for :func:`release_cached`.

    The checkpoint's RDD joins the session's persistent RDDs at call
    time, and ``DataFrame.unpersist`` on the checkpointed frame does
    nothing; only unpersisting that RDD frees its blocks, which is
    what release does. A checkpoint read after its release fails
    (its blocks have no lineage to recompute from)."""
    ckpt = frame.localCheckpoint(eager=False)
    _record(ckpt, ckpt._jdf.queryExecution().analyzed().rdd())
    return ckpt


def release_cached(df: DataFrame) -> None:
    """Release every intermediate that :func:`persist` and
    :func:`checkpoint` recorded for ``df``'s SparkSession.

    Call it after the consuming action(s) of everything built so far:
    it covers the whole session, not only ``df``'s own inputs (a
    projection such as ``df.select(...)`` releases the same set). A
    persisted frame used after release recomputes; a checkpointed
    one fails. That is safe for the long-lived callers (bench, the
    catalog sweep, the tests) because each builds, consumes and
    releases one entry at a time; a multi-day caller releases after
    the day's state is written.
    """
    with _LEDGER_LOCK:
        recorded = _LEDGER.pop(df.sparkSession, {})
    for frame, rdd in recorded.values():
        if rdd is None:
            frame.unpersist()
        else:
            rdd.unpersist(False)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast: bool = False,
) -> DataFrame:
    """Keep the lowest-id document per exact (normalized) content.

    ONE map-side-combined aggregation: ``min_by`` carries the whole
    surviving row through the single shuffle keyed on the
    fingerprint. (The earlier groupBy-min + survivor-join-back
    formulation cost three more exchanges plus a persist of the
    fingerprinted corpus; a windowed rank would sort every shuffle
    partition.) Returns the full surviving rows.
    """
    fp = (
        F.xxhash64(normalize_text(text_col)) if fast else doc_fingerprint(text_col)
    ).alias("__fp")
    rows = spread(df, id_col).select(
        F.struct("*").alias("__row"), fp, F.col(id_col).alias("__id")
    )
    return (
        rows.groupBy("__fp")
        .agg(F.min_by("__row", "__id").alias("__row"))
        .select("__row.*")
    )


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a PRE-TOKENIZED array column
    (space-joined strings). Documents with fewer than n tokens yield
    an empty array (sequence(1, 0) would DESCEND in Spark — guarded).

    ``toks`` must be a materialized column reference: the transform
    lambda slices ``toks`` per element and Catalyst re-evaluates a
    captured outer expression for EVERY element — an inline
    ``tokens(text)`` here is O(tokens²) on long documents (r7
    pathological-text sweep: 223s vs 0.6s at 60k tokens)."""
    cnt = F.size(toks) - (n - 1)
    arr = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(cnt >= 1, arr).otherwise(F.array().cast("array<string>"))


def shingle_tokens(col: Column | str, n: int = 3) -> Column:
    """Shingles straight from a text column. ONLY safe when the
    argument is cheap to re-evaluate; prefer tokenizing into a column
    first and calling :func:`shingles_of_tokens` (see its warning)."""
    return shingles_of_tokens(tokens(col), n)


def shingles_exploded(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows, distinct per document. Tokenizes into a
    column first so the shingle transform is linear in document
    length (see shingles_of_tokens)."""
    return (
        spread(df, id_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_of_tokens(F.col("__toks"), n))
            ).alias("shingle"),
        )
    )


# Universal-hash family for minhash: mh_i = min((A_i * hv + B_i) mod P)
# over a 32-bit base hash hv of each shingle. One md5 per shingle
# occurrence instead of k seeded md5s (k x fewer digest computations —
# measured 0.85s -> ~0.3s for the sf0.1 signature pass), and the
# affine transforms are plain 64-bit integer arithmetic any engine
# reproduces exactly: A_i < 2^30, hv < 2^32, so A_i*hv + B_i < 2^63
# never overflows a signed BIGINT on either side.
MINHASH_P = (1 << 61) - 1  # Mersenne prime 2^61-1
_A_SEED, _B_SEED = 2654435761, 40503  # Knuth multiplicative constants


class _MinhashCoeffs:
    """Deterministic coefficient sequences, generated on demand so any
    signature width works (the formulas are the spec — the DuckDB
    oracle embeds the same values as literals)."""

    def __init__(self, fn):
        self._fn = fn

    def __getitem__(self, i: int) -> int:
        return self._fn(i)


MINHASH_A = _MinhashCoeffs(lambda i: ((_A_SEED * (i + 1)) % (1 << 30)) | 1)
MINHASH_B = _MinhashCoeffs(
    lambda i: (_B_SEED * (i + 1) * (i + 1) + 12345) % (1 << 30)
)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k min-hashes per document: sig_i = min((A_i*hv + B_i) mod P)
    where hv = first 32 bits of md5(shingle).

    The md5-derived base hash keeps the whole construction
    reproducible in any engine (that's the oracle story); the k
    variants come from the universal affine family above instead of k
    seeded digests, so the corpus pays ONE digest per shingle
    occurrence regardless of signature width.

    ``shingles`` lets a caller share one (persisted) shingle pass
    between signature generation and a downstream exact-verify step
    (see :func:`lsh_verified_pairs`).
    """
    sh = (
        shingles
        if shingles is not None
        else shingles_exploded(df, text_col, id_col, n)
    )
    hv = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    hashed = sh.select(F.col(id_col), hv.alias("hv"))
    aggs = [
        F.min(
            (F.col("hv") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
            % F.lit(MINHASH_P)
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    keep_signature: bool = False,
) -> DataFrame:
    """(id, band, bucket) rows from a signature frame: the LSH bucket
    key of band b is md5 of that band's minhash values joined with
    '|' — the banding device shared by :func:`minhash_pairs` (batch
    self-join) and :func:`incremental_neardup_pairs` (batch-vs-history
    probe), factored so both join on EXACTLY the same bucket ids and
    an index built by one is probe-compatible with the other.

    ``keep_signature=True`` carries the mh0..mh{k-1} columns through
    onto every band row. Streaming probes need this: a stream-side
    frame cannot join back to its own signature table (that is a
    stream-stream join, which buffers unbounded state), so the
    signature must RIDE the exploded band rows and every downstream
    join stays stream-static."""
    band_rows = []
    for b in range(bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    k = bands * rows_per_band
    carry = [f"mh{i}" for i in range(k)] if keep_signature else []
    return sigs.select(
        F.col(id_col), *carry, F.explode(F.array(*band_rows)).alias("bb")
    ).select(id_col, *carry, "bb.band", "bb.bucket")


def neardup_signature_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """The compact per-document artifact an incremental near-dup
    pipeline MAINTAINS for its history: one row per document holding
    the k = bands*rows_per_band minhash signature
    (id, mh0..mh{k-1}) — fixed k×8 bytes per document regardless of
    document length, orders of magnitude smaller than the corpus.
    At 100 TB this table is written once, bucketed/partitioned by id,
    appended per ingest batch (the surviving batch docs' signatures),
    and the corpus TEXT is never rescanned by later batches.

    Band buckets are NOT stored: :func:`band_buckets` derives them
    from the signature columns with pure narrow compute (one md5 per
    band), so the index carries no banding-parameter commitment — a
    re-band (recall retune) is a probe-time decision, not an index
    rebuild. Reference: michaelbironneau/analyst has no incremental
    operator; this extends its batch dedup surface to the
    daily-ingest shape (VERDICT r9 #1).
    """
    return minhash_signatures(
        df, text_col, id_col, n, num_hashes=bands * rows_per_band
    )


def neardup_signatures_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-ROW minhash signatures as pure narrow expressions — no
    explode, no groupBy, NO STATE: the form a Structured Streaming
    probe can compute per micro-batch (stateful streaming
    aggregations would otherwise be needed to reassemble a document's
    shingles). Produces values IDENTICAL to
    :func:`minhash_signatures` (same md5 base hash over the same
    distinct shingle set, same affine family), pinned by equality
    test in tests/test_incremental_neardup.py.

    Device: tokens and the distinct shingle array are materialized as
    columns FIRST (the shingles_of_tokens lambda-capture hazard),
    then ONE md5 pass maps shingles to a 32-bit hash array, and each
    of the k signatures is an array_min over a cheap integer affine
    transform of that array. Documents with no shingles (< n tokens)
    are dropped — matching the batch groupBy, where they produce no
    row.
    """
    hashed = (
        # no spread(): repartition is legal on streams but pointless
        # per micro-batch; batch callers wanting fan-out spread first
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .withColumn(
            "__sh", F.array_distinct(shingles_of_tokens(F.col("__toks"), n))
        )
        .filter(F.size("__sh") >= 1)
        .withColumn(
            "__hv",
            F.transform(
                "__sh",
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                    "long"
                ),
            ),
        )
    )
    sig_cols = [
        F.array_min(
            F.transform(
                "__hv",
                lambda h: (h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_P),
            )
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hashed.select(F.col(id_col), *sig_cols)


def incremental_neardup_pairs(
    history_index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    min_match: int = 6,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe a NEW ingest batch against a maintained history
    signature index (:func:`neardup_signature_index`): which batch
    documents are near-duplicates of something already ingested?

    The cost shape is the point (VERDICT r9 #1): history participates
    ONLY as its fixed-size signature index — batch text is shingled
    and signed (cost ∝ batch), candidate generation is a bucket-keyed
    equi-join of batch buckets against index buckets (shuffle ∝
    batch buckets + the index rows they collide with; a bucket-
    partitioned index makes the history side shuffle-free), and
    verification joins the CANDIDATE PAIR list back to the two
    signature frames and counts agreeing minhash components — k
    integer comparisons per candidate, no text, no shingles, no
    history rescan. Everything downstream of the batch signature pass
    is bounded by batch size × collision rate, never corpus size.

    Verification here is the SIGNATURE-ESTIMATE form (P[mh_i(A) =
    mh_i(B)] = J(A,B), so n_match/k is an unbiased Jaccard estimate;
    ``min_match`` of k is the decision threshold) — the form that
    preserves the never-rescan-history property. A pipeline that
    needs exact-Jaccard confirmation joins the (small) output pair
    list against text ONCE for the flagged docs only.

    ``batch`` and the index must have disjoint id spaces (ingest
    batches are new ids by construction); rows (id_batch, id_hist,
    n_match) with n_match >= min_match.

    ``batch_sigs`` lets a caller share one signed+persisted batch
    signature frame between this probe and the index-append step
    (:func:`incremental_neardup_ingest`) — the batch text is then
    shingled exactly once per ingest.
    """
    k = bands * rows_per_band
    if batch_sigs is None:
        batch_sigs = persist(
            minhash_signatures(batch, text_col, id_col, n, num_hashes=k),
            fill=True,
        )
    bb = band_buckets(batch_sigs, id_col, bands, rows_per_band)
    hb = band_buckets(history_index, id_col, bands, rows_per_band)
    cand = (
        bb.select(F.col(id_col).alias("id_batch"), "band", "bucket")
        .join(
            hb.select(F.col(id_col).alias("id_hist"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_batch", "id_hist")
        .distinct()
    )
    sb = batch_sigs.select(
        F.col(id_col).alias("id_batch"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(k)],
    )
    sh = history_index.select(
        F.col(id_col).alias("id_hist"),
        *[F.col(f"mh{i}").alias(f"__h{i}") for i in range(k)],
    )
    n_match = sum(
        (F.col(f"__b{i}") == F.col(f"__h{i}")).cast("int") for i in range(k)
    )
    return (
        cand.join(sb, "id_batch")
        .join(sh, "id_hist")
        .withColumn("n_match", n_match.cast("long"))
        .filter(F.col("n_match") >= min_match)
        .select("id_batch", "id_hist", "n_match")
    )


def intra_batch_neardup_pairs(
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    min_match: int = 6,
) -> DataFrame:
    """Near-dup pairs WITHIN one ingest batch, from its signature
    frame: two near-duplicates arriving the same day pair with each
    other, not with history — a lifecycle that only probes
    batch-vs-index misses them. Bucket self-join (id_a < id_b) +
    the same n_match-of-k minhash verification as
    :func:`incremental_neardup_pairs`, so one threshold governs both
    the cross-day and the same-day decision. Output
    (id_batch = later id, id_hist = earlier id, n_match) — the
    earlier arrival plays the history role, matching the
    min-id-wins convention of the batch dedup family."""
    k = bands * rows_per_band
    bb = band_buckets(batch_sigs, id_col, bands, rows_per_band)
    cand = (
        bb.select(F.col(id_col).alias("id_hist"), "band", "bucket")
        .join(
            bb.select(F.col(id_col).alias("id_batch"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("id_hist") < F.col("id_batch"))
        .select("id_batch", "id_hist")
        .distinct()
    )
    sb = batch_sigs.select(
        F.col(id_col).alias("id_batch"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(k)],
    )
    sh = batch_sigs.select(
        F.col(id_col).alias("id_hist"),
        *[F.col(f"mh{i}").alias(f"__h{i}") for i in range(k)],
    )
    n_match = sum(
        (F.col(f"__b{i}") == F.col(f"__h{i}")).cast("int") for i in range(k)
    )
    return (
        cand.join(sb, "id_batch")
        .join(sh, "id_hist")
        .withColumn("n_match", n_match.cast("long"))
        .filter(F.col("n_match") >= min_match)
        .select("id_batch", "id_hist", "n_match")
    )


def incremental_neardup_ingest(
    index: DataFrame,
    batch: DataFrame,
    reported: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    min_match: int = 6,
    include_intra_batch: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE DAY of the incremental near-dup LIFECYCLE (VERDICT r10
    #2): probe the new batch, append its signatures to the index,
    extend the already-reported ledger. Returns
    ``(pairs, new_index, new_reported)``:

    * ``pairs`` — (id_batch, id_hist, n_match): the batch's
      near-dups against EVERYTHING ingested before it (the maintained
      index — initial history plus every prior batch) plus, with
      ``include_intra_batch``, same-day pairs (earlier id plays the
      history role). Already-reported pairs from the ``reported``
      ledger are suppressed by an anti-join on the UNORDERED pair
      key (pair_lo, pair_hi) — so a day REPLAY (at-least-once
      ingestion, day-file reprocessing) emits nothing the pipeline
      has already acted on even against the POST-append index, where
      the batch meets its own appended signatures: self-pairs are
      dropped explicitly and a ledgered intra-batch pair cannot
      re-emit in the reversed (cross-probe) orientation either.
    * ``new_index`` — index ∪ sig(batch): the only state the next
      day needs; fixed k×8 bytes per document, text never rescanned.
      Batch ids the index already holds are NOT re-appended (anti-
      join on id), so a replayed day leaves the index unchanged
      rather than double-inserting signature rows.
    * ``new_reported`` — reported ∪ pairs' keys: the ledger the next
      call receives. At 100 TB both state tables live as
      bucketed/partitioned storage keyed by id (index) and pair key
      (ledger); the anti-join then co-partitions with no shuffle on
      the ledger side.

    Cost shape per day: sign the batch once (the signature frame is
    shared between probe and append — ``batch_sigs`` plumbing), one
    bucket equi-join against the index, k integer comparisons per
    candidate; NOTHING rescans prior text, so per-day cost stays
    flat as the index grows (probed in SCALE.md). The caller owns
    persistence of the returned state frames, and MUST back them
    with STORAGE (write parquet, read back) between days — NOT a
    cache/persist chain: the returned frames reference their inputs,
    so chaining days through DataFrame lineage grows the logical
    plan with every ingest and Catalyst re-plans the whole history
    each day even though every parent is cached (measured: 4.0s →
    421s per day by day 6, tools/r11_probe.py multiday --chained;
    storage-backed state is flat). The storage backing is an API
    since r12 (VERDICT r11 #2):
    :func:`analyst_spark.functions.incremental.save_state` /
    :func:`~analyst_spark.functions.incremental.load_state` write
    and re-read (index, ledger) per day — the 10-day probe routes
    through them and save→load→probe equivalence with the in-memory
    form is pinned in tests/test_incremental_lifecycle.py. A bounded
    number of days inside ONE query (the 3-day gated entry) is fine
    without it.
    """
    from analyst_spark.functions.incremental import lifecycle_day

    k = bands * rows_per_band
    batch_sigs = persist(
        minhash_signatures(batch, text_col, id_col, n, num_hashes=k),
        fill=True,
    )
    # The family-independent lifecycle (self-pair suppression,
    # unordered-pair-key ledger anti-join — the r11-review replay
    # hardening — and the replay-safe index append from ADVICE r11)
    # lives in functions/incremental.py, shared with the perceptual
    # and embedding ingests; this function contributes only the
    # minhash probe and the intra-batch orientation.
    def fused(idx: DataFrame, bs: DataFrame) -> DataFrame:
        # ONE bucket probe for cross + intra (r14, guide §2.4 — two
        # operations keyed the same way share one exchange): the
        # history side of the (band, bucket) equi-join is index ∪
        # batch with a provenance flag; batch-side collisions
        # additionally require id_hist < id_batch (the family's
        # intra orientation: the earlier arrival plays the history
        # role). Candidates stay distinct per (pair, provenance) and
        # the verify lookup resolves signatures on (id_hist,
        # provenance), so the emitted multiset is exactly
        # cross ∪ intra even when batch ids already sit in the index
        # (replay). Halves the per-day join pipelines the split form
        # ran as separate AQE job chains.
        hb = (
            band_buckets(idx, id_col, bands, rows_per_band)
            .select(
                F.col(id_col).alias("id_hist"),
                F.lit(True).alias("__hist"),
                "band",
                "bucket",
            )
            .unionByName(
                band_buckets(bs, id_col, bands, rows_per_band).select(
                    F.col(id_col).alias("id_hist"),
                    F.lit(False).alias("__hist"),
                    "band",
                    "bucket",
                )
            )
        )
        bb = band_buckets(bs, id_col, bands, rows_per_band).select(
            F.col(id_col).alias("id_batch"), "band", "bucket"
        )
        cand = (
            bb.join(hb, ["band", "bucket"])
            .filter(F.col("__hist") | (F.col("id_hist") < F.col("id_batch")))
            .select("id_batch", "id_hist", "__hist")
            .distinct()
        )
        sb = bs.select(
            F.col(id_col).alias("id_batch"),
            *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(k)],
        )
        sh = (
            idx.withColumn("__hist", F.lit(True))
            .unionByName(bs.withColumn("__hist", F.lit(False)))
            .select(
                F.col(id_col).alias("id_hist"),
                "__hist",
                *[F.col(f"mh{i}").alias(f"__h{i}") for i in range(k)],
            )
        )
        n_match = sum(
            (F.col(f"__b{i}") == F.col(f"__h{i}")).cast("int")
            for i in range(k)
        )
        return (
            cand.join(sb, "id_batch")
            .join(sh, ["id_hist", "__hist"])
            .withColumn("n_match", n_match.cast("long"))
            .filter(F.col("n_match") >= min_match)
            .select("id_batch", "id_hist", "n_match")
        )

    pairs, new_index, new_reported = lifecycle_day(
        index,
        batch_sigs,
        cross_fn=fused if include_intra_batch else (
            lambda idx, bs: incremental_neardup_pairs(
                idx,
                batch,
                text_col,
                id_col,
                n,
                bands,
                rows_per_band,
                min_match,
                batch_sigs=bs,
            )
        ),
        intra_fn=None,
        reported=reported,
        id_col=id_col,
    )
    return pairs, new_index, new_reported


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate duplicate pairs (id_a < id_b) with band votes.

    Documents land in the same bucket when one band of their MinHash
    signature matches exactly — P(candidate) ≈ 1-(1-s^r)^b for Jaccard
    similarity s. The self-join is on (band_idx, band_hash), so the
    shuffle key is the bucket — skew only if a bucket is huge, which
    AQE's skew-join handles.

    ``max_bucket_size`` (opt-in, VERDICT r7 #4) caps the candidate
    blowup explicitly: buckets larger than the cap are SKIPPED in the
    self-join, and the dropped buckets are reported on the result as
    ``result._asp_dropped_buckets`` — a lazy (band, bucket, bsz,
    dropped_pairs) frame where dropped_pairs = C(bsz, 2) is that
    bucket's skipped candidate count (an upper bound on distinct
    dropped pairs, since a pair sharing several oversized buckets is
    counted once per bucket). Default None = exact banding-OR recall,
    gates untouched.
    """
    k = bands * rows_per_band
    sigs = minhash_signatures(
        df, text_col, id_col, n, num_hashes=k, shingles=shingles
    )
    # The self-join below consumes `buckets` twice; persist so the
    # md5-heavy signature pipeline is computed once (at cluster scale:
    # checkpoint/exchange reuse — same idea).
    buckets = persist(
        band_buckets(sigs, id_col, bands, rows_per_band), fill=False
    )
    dropped = None
    join_src = buckets
    if max_bucket_size is not None:
        bsz = buckets.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("bsz")
        )
        keep = bsz.filter(F.col("bsz") <= max_bucket_size).select(
            "band", "bucket"
        )
        dropped = bsz.filter(F.col("bsz") > max_bucket_size).select(
            "band",
            "bucket",
            "bsz",
            (F.col("bsz") * (F.col("bsz") - 1) / 2)
            .cast("long")
            .alias("dropped_pairs"),
        )
        # co-partitioned hash join on the bucket key — the kept-set
        # is corpus-derived, AQE decides broadcast
        join_src = buckets.join(keep, ["band", "bucket"])
    a = join_src.alias("a")
    b_ = join_src.alias("b")
    out = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )
    if dropped is not None:
        out._asp_dropped_buckets = dropped  # type: ignore[attr-defined]
    return out


def cross_corpus_minhash_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Fuzzy DECONTAMINATION candidates: training documents whose
    MinHash bands collide with a benchmark document — the cross-corpus
    form of :func:`minhash_pairs`, with the candidate space train ×
    bench instead of corpus × corpus.

    Why a separate function rather than "self-join and filter": the
    structure is what scales. The bench side (an eval suite, bounded
    by definition — the caller's contract) signs into a bucket table
    small enough to BROADCAST, so the training corpus streams through
    one scan → signature → broadcast-probe pipeline with no self-join
    and no corpus-sized shuffle anywhere; candidate mass tracks true
    cross-corpus overlap. Output ``(train_id, bench_id, n_bands)``
    where n_bands counts the matching bands (same vote the self-join
    form reports).

    Both sides use the shared md5/affine arithmetic, so the result is
    reproducible cross-engine (the contamination_minhash catalog
    entry hash-gates this function against a DuckDB twin).
    """
    k = bands * rows_per_band
    # Each side is consumed exactly once (one signature pass per
    # corpus, one join) — nothing to persist, unlike the self-join
    # form whose bucket table feeds both sides.
    tb = band_buckets(
        minhash_signatures(train, text_col, id_col, n, num_hashes=k),
        id_col, bands, rows_per_band,
    )
    bb = band_buckets(
        minhash_signatures(bench, text_col, id_col, n, num_hashes=k),
        id_col, bands, rows_per_band,
    )
    return (
        tb.alias("t")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("t.band") == F.col("b.band"))
            & (F.col("t.bucket") == F.col("b.bucket")),
        )
        .groupBy(
            F.col(f"t.{id_col}").alias("train_id"),
            F.col(f"b.{id_col}").alias("bench_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


def neardup_route_probe(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    sample_docs: int = 512,
) -> dict:
    """Cheap, bounded df-skew probe behind the prefix-vs-LSH router
    (VERDICT r9 #2). Samples ``sample_docs`` documents
    deterministically (md5-ordered bottom-k — the consistent-sample
    device, so reruns probe the same docs), shingles ONLY the sample,
    and measures the shingle-df distribution:

    - ``compression`` = postings / distinct shingles (mean df). The
      economics of exact prefix filtering come from df skew — rare
      prefixes joined against common postings. SCALE.md's boundary
      corpus (a per-copy token interleaved between every original
      token) makes nearly EVERY shingle distinct: compression 1.000,
      and the prefix join's vocabulary-scale df-ranking pass
      (groupBy shingle + join back over a corpus-sized string key
      space) buys nothing and dominates everything. Measured on the
      synthetic corpora: healthy documents 1.61–1.63, degenerate
      1.000 — a wide, stable gap.
    - ``hapax_fraction`` = distinct shingles with df == 1 / distinct
      (1.0 in the degenerate corpus, ~0.57 healthy) and
      ``top1pct_mass`` = posting mass of the top 1% of shingles by
      df (≈ 1% degenerate, ~3.3% healthy) ride along as reported
      diagnostics.

    Cost: one bounded top-k (the sample), one shingle pass over
    ~``sample_docs`` documents, two small aggregations — independent
    of corpus size past the md5 scan.
    """
    s = (
        spread(df, id_col)
        .select(id_col, text_col)
        .withColumn("__r", F.md5(F.col(id_col).cast("string")))
        .orderBy("__r")
        .limit(sample_docs)
        .drop("__r")
    )
    dfreq = (
        shingles_exploded(s, text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .persist()
    )
    stats = dfreq.agg(
        F.sum("__df").alias("postings"),
        F.count(F.lit(1)).alias("distinct"),
        F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias("hapax"),
    ).first()
    postings = stats["postings"] or 0
    distinct = stats["distinct"] or 0
    if distinct:
        k = max(1, int(0.01 * distinct))
        top_mass = (
            dfreq.orderBy(F.desc("__df")).limit(k).agg(F.sum("__df")).first()[0]
        )
    else:
        top_mass = 0
    dfreq.unpersist()
    return {
        "sample_docs": sample_docs,
        "postings": int(postings),
        "distinct_shingles": int(distinct),
        "hapax_fraction": (stats["hapax"] / distinct) if distinct else 0.0,
        "top1pct_mass": (top_mass / postings) if postings else 0.0,
        "compression": (postings / distinct) if distinct else 1.0,
    }


def neardup_pairs_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
    bands: int = 4,
    rows_per_band: int = 2,
    compression_cutoff: float = 1.15,
    sample_docs: int = 512,
) -> DataFrame:
    """Routed near-dup join: EXACT recall-1 prefix filtering
    (:func:`jaccard_prefix_pairs`) when the sampled shingle-df
    distribution shows the skew prefix filtering exploits, else the
    vocabulary-independent LSH chain (:func:`lsh_verified_pairs`)
    whose banding cost never touches a shingle-keyed shuffle.

    The routing decision and the probe numbers it was made from are
    reported on the result as ``result._asp_routing`` (strategy,
    cutoff, and every :func:`neardup_route_probe` field) — the
    decision is accounted, never silent. Cutoff 1.15 sits between
    the measured healthy (1.61+) and degenerate (1.000) corpora with
    margin on both sides; a corpus of fully unrelated documents also
    routes to LSH, which is correct on cost (the df-ranking pass
    buys nothing there either) and harmless on recall (the true pair
    set is ~empty).

    Both strategies emit (id_a, id_b, jaccard) at jaccard >=
    threshold_num/threshold_den, so the router never changes the
    result SCHEMA — only the recall contract (exact vs banding-OR),
    which is what ``_asp_routing['strategy']`` records.
    """
    probe = neardup_route_probe(df, text_col, id_col, n, sample_docs)
    use_prefix = probe["compression"] >= compression_cutoff
    if use_prefix:
        out = jaccard_prefix_pairs(
            df, text_col, id_col, n, threshold_num, threshold_den
        )
    else:
        out = lsh_verified_pairs(
            df,
            text_col,
            id_col,
            n,
            bands,
            rows_per_band,
            threshold=threshold_num / threshold_den,
        )
    out._asp_routing = {  # type: ignore[attr-defined]
        **probe,
        "strategy": "prefix" if use_prefix else "lsh",
        "compression_cutoff": compression_cutoff,
    }
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash over tokens: bit j of the signature = sign of
    sum(+1/-1 over tokens by bit j of md5(token)).

    Token bits are drawn from the md5 hex digits (4 bits per digit) so
    the oracle can reproduce them: bit j lives in hex digit j//4 at
    position j%4. All 32 bit-sums run in ONE aggregation pass.
    """
    # One md5 + one conv per token: the first 8 hex chars become a
    # single 32-bit int; each signature bit is then a cheap shift/and.
    # Bit j lives in hex digit j//4 at in-digit position j%4 — with
    # big-endian conv, that's shift (7 - j//4)*4 + j%4.
    ndigits = bits // 4
    tok = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("tok")), 1, ndigits), 16, 10)
            .cast("long")
            .alias("hv"),
        )
    )
    bit_sums = []
    for j in range(bits):
        shift = (ndigits - 1 - j // 4) * 4 + (j % 4)
        bit = F.shiftright(F.col("hv"), shift).bitwiseAND(F.lit(1))
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = tok.groupBy(id_col).agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"s{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(0)
    return sums.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1
    shingle. intersection via self-join-count, union = |A|+|B|-∩.

    At 100 TB this runs AFTER LSH candidate generation (join the pair
    list), never on the raw corpus; the shared-shingle join here is
    the exact-verify step and is already linear in total postings.

    The postings cache is filled at construction time so the verify
    join plans on real sizes (see :func:`persist`).
    """
    sh = persist(shingles_exploded(df, text_col, id_col, n), fill=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): every pair with shingle-Jaccard >= t is found, with NO
    LSH recall loss, while never joining on a document's common
    shingles.

    Correctness (prefix-vs-prefix completeness): sort each document's
    shingle set by the global order (corpus df asc, shingle asc) and
    keep the first p = n - ceil(t*n) + 1 as its PREFIX. If
    J(A,B) >= t then i = |A∩B| >= t*|A| (since i >= t(|A|+|B|-i) and
    |B| >= i) and likewise >= t*|B|. Let x be the smallest shared
    shingle in the global order: every element of A before x is not
    shared, and the other i-1 shared elements all come after x, so
    x's position in A is <= |A| - i + 1 <= p_A — x lies in BOTH
    prefixes, so the prefix join finds the pair. Rarity-first
    ordering makes those prefix shingles the LOW-df ones, which is
    what bounds the join fan-out.

    The threshold is a rational (threshold_num/threshold_den) so the
    prefix length and the final test are exact integer arithmetic:
    ceil(t*n) = (num*n + den - 1) DIV den; J >= t iff
    (num+den)*i >= num*(na+nb).

    Scale shape vs the plain shared-shingle join
    (:func:`ngram_jaccard_pairs`): that join's fan-out is
    sum over shingles of df^2 — dominated by COMMON shingles; the
    prefix join's fan-out only sums df^2 over each document's
    RAREST 1-t fraction. Per-doc prefix selection is a window
    partitioned by document (state bounded by one document's shingle
    count); no global rank is materialized — the (df, shingle) tuple
    IS the order. Verification joins postings for candidate pairs
    only, the lsh_verified_pairs discipline.

    Two further exactness-preserving prunes ride the candidate join
    itself (measured on the ×10 near-clone decade corpus: 29.1M
    candidate pairs → 6.5M, a 4.5× cut before the verify join does
    Σ|A| work per candidate):

    * LENGTH filter (AllPairs): J >= t and i <= min(na, nb) imply
      nb/na >= t and na/nb >= t, so any pair with
      num*na > den*nb (or symmetric) cannot qualify.
    * POSITIONAL filter (PPJoin): for a shared prefix shingle at
      per-doc ranks (pa, pb) in the SAME global (df, shingle) order,
      every common shingle of a qualifying pair is >= the smallest
      one, so i <= 1 + min(na - pa, nb - pb) holds AT the smallest
      shared shingle — which the completeness proof already places in
      both prefixes. Requiring
      (1 + min(na-pa, nb-pb)) * (num+den) >= num*(na+nb)
      (i.e. ubound >= minoverlap, integer form) therefore keeps at
      least that one matching row for every true pair; the trailing
      DISTINCT needs any one row per pair, so recall stays exactly 1.
    """
    num, den = threshold_num, threshold_den
    sh = persist(shingles_exploded(df, text_col, id_col, n), fill=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    wdoc = Window.partitionBy(id_col).orderBy("__df", "shingle")
    # persist so the SELF-join below plans on real prefix sizes
    # (r9 advice: the unpersisted frame re-derived the df-join +
    # window pipeline once per join side AND planned on derived
    # estimates; containment_pairs' ranked frame set the pattern)
    prefix = persist(
        sh.join(dfreq, "shingle")
        .join(sizes, id_col)
        .withColumn("__pos", F.row_number().over(wdoc))
        .filter(
            F.col("__pos")
            <= F.col("n_sh")
            - F.expr(f"({num}*n_sh + {den - 1}) DIV {den}")
            + F.lit(1)
        )
        .select(id_col, "shingle", "n_sh", "__pos"),
        fill=True,
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: num*max(na,nb) <= den*min(na,nb)
            & (num * F.col("a.n_sh") <= den * F.col("b.n_sh"))
            & (num * F.col("b.n_sh") <= den * F.col("a.n_sh"))
            # positional filter: overlap ubound at this shared
            # prefix shingle still reaches minoverlap
            & (
                (
                    1
                    + F.least(
                        F.col("a.n_sh") - F.col("a.__pos"),
                        F.col("b.n_sh") - F.col("b.__pos"),
                    )
                )
                * (num + den)
                >= num * (F.col("a.n_sh") + F.col("b.n_sh"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sha = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    shb = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    inter = (
        cand.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (num + den) * F.col("inter") >= num * (F.col("na") + F.col("nb"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_posting_df: int | None = None,
) -> DataFrame:
    """EXACT asymmetric near-dup join: pairs where document A's
    shingle set is mostly CONTAINED in document B's —
    C(A,B) = |A∩B|/|A| >= t. Catches what symmetric Jaccard misses
    by construction: a short document quoted/wrapped inside a much
    longer one has high containment but low Jaccard (the boilerplate
    and quote-expansion cases a corpus dedup actually faces).

    Completeness (asymmetric prefix filter): order A's shingles by
    the global (corpus df, shingle) order and keep the first
    p = na - ceil(t*na) + 1 as A's prefix. If C(A,B) >= t then fewer
    than p of A's shingles are outside B, so by pigeonhole at least
    one of A's first p shingles is shared — and B indexes ALL its
    shingles (containment puts no bound on B), so the
    A.prefix × B.postings join finds every qualifying pair. The
    threshold is the exact rational den*i >= num*na. Fan-out stays
    bounded because the prefix is A's RAREST (1-t) fraction:
    Σ df(prefix shingle) × posting length, never common-shingle df².

    Output (id_contained, id_container, containment) for ordered
    pairs with id_contained != id_container; byte-identical docs
    qualify in both directions, which is correct for the relation.

    Two further exactness-preserving prunes ride the candidate join
    (sf0.1: 11.1s -> measured after; the B side would otherwise join
    EVERY posting of each prefix shingle):

    * one-sided LENGTH filter: i <= nb and i >= ceil(t*na) imply
      den*nb >= num*na — a container must be at least t times the
      contained document's size;
    * B-side POSITIONAL filter (PPJoin adapted): at the smallest
      shared shingle, every common shingle ranks >= its position pb
      in B's (df, shingle) order, so i <= nb - pb + 1; requiring
      den*(nb - pb + 1) >= num*na keeps that one row for every true
      pair (the completeness proof already routes each pair through
      its smallest shared shingle), and the trailing DISTINCT needs
      any one row.

    ``max_posting_df`` (opt-in, VERDICT r9 #5 — the
    ``max_bucket_size`` discipline from :func:`lsh_verified_pairs`
    ported to the exact join's storm mode): prefix shingles whose
    corpus document-frequency exceeds the cap are EXCLUDED from the
    candidate join, bounding the near-clone blowup (each A-prefix
    shingle otherwise meets every posting of that shingle — df × |A|
    candidate rows per hot shingle). Exactness becomes best-effort:
    a pair is missed only if ALL of A's prefix shingles shared with
    B are above the cap. Dropped work is reported on the result as
    ``result._asp_dropped_postings`` — a DataFrame of
    (shingle, df, dropped_rows) where dropped_rows counts the
    candidate rows the cap actually removed from the prefix×postings
    join: prefix_occurrences(shingle) × (df − 1) — each prefix
    occurrence of the hot shingle would have met every OTHER posting
    of that shingle (the −1 excludes the self row id_a == id_b the
    join filter discards anyway; ADVICE r10 fixed the earlier
    df·(df−1) figure, which was postings² and overstated the trade).
    Default None keeps the exact completeness proof and every hash
    gate untouched.

    The postings and ranked caches are filled at construction time so
    joins plan on real sizes (see :func:`persist`).
    """
    num, den = threshold_num, threshold_den
    sh = persist(shingles_exploded(df, text_col, id_col, n), fill=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    wdoc = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = persist(
        sh.join(dfreq, "shingle")
        .join(sizes, id_col)
        .withColumn("__pos", F.row_number().over(wdoc))
        .withColumn("__sdf", F.col("__df"))
        .select(id_col, "shingle", "n_sh", "__pos", "__sdf"),
        fill=True,
    )
    dropped = None
    prefix = ranked.filter(
        F.col("__pos")
        <= F.col("n_sh")
        - F.expr(f"({num}*n_sh + {den - 1}) DIV {den}")
        + F.lit(1)
    )
    if max_posting_df is not None:
        # accounting BEFORE the cap filter: what the cap removes from
        # the prefix×postings join is, per hot shingle, each PREFIX
        # occurrence × its (df − 1) non-self postings — not df·(df−1),
        # which would be postings² (ADVICE r10)
        dropped = (
            prefix.filter(F.col("__sdf") > max_posting_df)
            .groupBy("shingle")
            .agg(
                F.first("__sdf").alias("df"),
                F.count(F.lit(1)).alias("__pocc"),
            )
            .select(
                "shingle",
                "df",
                (F.col("__pocc") * (F.col("df") - 1)).alias("dropped_rows"),
            )
        )
        # cap the candidate fan-out: hot prefix shingles (df above
        # the cap) never enter the join — excluding them on the
        # prefix side removes the shingle's candidates entirely
        prefix = prefix.filter(F.col("__sdf") <= max_posting_df)
    prefix = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("n_sh").alias("na"),
    )
    posting = ranked.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("n_sh").alias("nb"),
        F.col("__pos").alias("pb"),
    )
    cand = (
        prefix.join(posting, "shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            # one-sided length filter: container at least t*|A|
            & (den * F.col("nb") >= num * F.col("na"))
            # B-side positional filter: overlap ubound at this
            # shared shingle still reaches ceil(t*na)
            & (den * (F.col("nb") - F.col("pb") + 1) >= num * F.col("na"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sha = sh.select(F.col(id_col).alias("id_a"), "shingle")
    shb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    out = (
        inter.join(na, "id_a")
        .filter(den * F.col("inter") >= num * F.col("na"))
        .select(
            F.col("id_a").alias("id_contained"),
            F.col("id_b").alias("id_container"),
            F.round(F.col("inter") / F.col("na"), 6).alias("containment"),
        )
    )
    if dropped is not None:
        out._asp_dropped_postings = dropped  # type: ignore[attr-defined]
    return out


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    collapse_exact: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The PRODUCTION near-dup chain: MinHash-LSH candidate
    generation followed by exact n-gram Jaccard verification computed
    ONLY on the candidate pair list — the composition
    :func:`ngram_jaccard_pairs`'s docstring prescribes for scale.

    ``collapse_exact`` (default, r7) makes the standalone operator
    dup-storm-safe BY CONSTRUCTION: documents with byte-identical
    text are collapsed to one representative BEFORE shingling and
    candidate generation, the LSH+verify chain runs on unique texts
    only, and the pair list is expanded back afterwards. The output
    pair set is EXACTLY the un-collapsed one — members of an exact
    group have identical shingle sets, hence identical signatures and
    bucket memberships, so (a, b) is a verified pair iff
    (rep_a, rep_b) is; intra-group pairs all verify at jaccard 1.0
    (provided the text shingles at all, matching the un-collapsed
    behavior where shingle-less docs never pair). On a 90 %-clone
    corpus the un-collapsed chain paid Σ(candidates × shingle count)
    — measured 11.09× at 10× data (SCALE.md) — while the collapsed
    form pays one fingerprint shuffle plus work linear in UNIQUE
    texts plus output-proportional expansion, which is the size of
    the answer itself.

    The collapse is ADAPTIVE: one cheap count/count-distinct scan of
    the fingerprints decides. A dup-free corpus (the common case —
    exact dedup usually runs first) pays only that scan and takes the
    direct path unchanged; the collapse machinery (one min_by shuffle
    + output expansion) engages only when byte-identical duplicates
    actually exist. Callers that KNOW the input is exact-deduped
    (dedup_pipeline_e2e) pass ``collapse_exact=False`` and skip even
    the scan.

    The verify join is keyed on the candidates, never on the raw
    shingle postings: ``cand ⋈ sh(id_a)`` propagates each candidate's
    left shingle set (cost Σ|A| over candidate pairs), then one hash
    join on ``(id_b, shingle)`` counts the intersection. A hot
    shingle shared by m documents costs the raw shared-shingle join
    O(m²) rows; here it costs nothing beyond the LSH buckets it
    lands in — pair-local work stays linear in candidates × document
    size.

    One persisted shingle pass feeds BOTH the MinHash signatures and
    the verify (``shingles=`` plumb-through), so the corpus is
    tokenized once. Recall is the banding OR from
    :func:`minhash_pairs`; precision after verification is exactly 1
    at the threshold.

    NOTE (laziness): this builder runs EAGER Spark jobs at
    construction time — with ``collapse_exact=True`` an adaptive
    count/count-distinct scan of the corpus fingerprints (plan shape
    is data-dependent), and on every path a cache-fill of the
    persisted shingle frame so the verify-join planner sees REAL
    postings statistics instead of the explode-blind scan estimate
    (a statically mis-broadcast postings table OOMed the driver on a
    600M-shingle probe corpus; see :func:`persist`).

    ``max_bucket_size`` (opt-in, VERDICT r7 #4) bounds the remaining
    storm mode the exact-collapse cannot absorb: NEAR-clone corpora,
    where the answer itself is quadratic in the clone-group size.
    Buckets above the cap are skipped during candidate generation and
    reported on the result as ``result._asp_dropped_buckets``
    ((band, bucket, bsz, dropped_pairs) — see :func:`minhash_pairs`),
    so the worst case is bounded EXPLICITLY with dropped-work
    accounting instead of by corpus assumption. Recall trade measured
    in SCALE.md (near-clone storm probe); default None keeps the
    exact banding-OR recall and leaves every hash gate untouched.

    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    """
    if collapse_exact:
        base = spread(df, id_col)
        stats = base.agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct(F.md5(F.col(text_col))).alias("__d"),
        ).first()
        # Engage the collapse only for STORM-level duplication (>5 %
        # of rows byte-identical). Trace duplication (sf0.1 ships 8
        # identical texts in 5000) is already linear-cost on the
        # direct path, while the collapse machinery (full-row min_by
        # shuffle + group persist + expansion joins) costs ~3x the
        # whole direct chain — the pre-step must only fire when the
        # quadratic candidate blowup it prevents actually looms.
        n_rows = stats["__n"] or 0
        if n_rows - stats["__d"] <= 0.05 * n_rows:
            collapse_exact = False
    if collapse_exact:
        base = spread(df, id_col)
        # ONE shuffle: min_by carries the representative's full row
        # through the fingerprint groupBy (the exact_dedup device),
        # so no second semi-join of the corpus is needed
        rows = base.select(
            F.struct("*").alias("__row"),
            F.md5(F.col(text_col)).alias("__fp"),
            F.col(id_col).alias("__id"),
        )
        groups = persist(
            rows.groupBy("__fp").agg(
                F.min_by("__row", "__id").alias("__row"),
                F.collect_list("__id").alias("members"),
                F.count(F.lit(1)).alias("gsz"),
            ),
            fill=False,
        )
        reps_df = groups.select("__row.*")
        rep_pairs = lsh_verified_pairs(
            reps_df, text_col, id_col, n, bands, rows_per_band,
            threshold, collapse_exact=False,
            max_bucket_size=max_bucket_size,
        )
        g2 = groups.select(
            F.col(f"__row.{id_col}").alias("rep"), "members", "gsz"
        )
        ga = g2.select(F.col("rep").alias("id_a"), F.col("members").alias("__ma"))
        gb = g2.select(F.col("rep").alias("id_b"), F.col("members").alias("__mb"))
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("__ma").alias("__x"), "__mb", "jaccard")
            .select("__x", F.explode("__mb").alias("__y"), "jaccard")
            .select(
                F.least("__x", "__y").alias("id_a"),
                F.greatest("__x", "__y").alias("id_b"),
                "jaccard",
            )
        )
        # intra-group pairs verify at exactly 1.0 — but only when the
        # text shingles at all (< n tokens ⇒ no signature ⇒ the
        # un-collapsed chain never pairs them either)
        # a doc shingles iff it has >= n tokens — no need to build
        # the shingle array (whose lambda re-evaluates inline token
        # expressions quadratically on long docs)
        shingled_reps = reps_df.filter(
            F.size(tokens(text_col)) >= n
        ).select(F.col(id_col).alias("rep"))
        intra = (
            g2.filter(F.col("gsz") >= 2)
            .join(shingled_reps, "rep", "leftsemi")
            .select(F.explode("members").alias("__x"), "members")
            .select("__x", F.explode("members").alias("__y"))
            .filter(F.col("__x") < F.col("__y"))
            .select(
                F.col("__x").alias("id_a"),
                F.col("__y").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        out = cross.unionByName(intra)
        if hasattr(rep_pairs, "_asp_dropped_buckets"):
            out._asp_dropped_buckets = (  # type: ignore[attr-defined]
                rep_pairs._asp_dropped_buckets
            )
        return out
    sh = persist(shingles_exploded(df, text_col, id_col, n), fill=True)
    cand_full = minhash_pairs(
        df, text_col, id_col, n, bands, rows_per_band, shingles=sh,
        max_bucket_size=max_bucket_size,
    )
    cand = cand_full.select("id_a", "id_b")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    left = cand.join(
        sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a"
    )
    inter = (
        left.join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if hasattr(cand_full, "_asp_dropped_buckets"):
        out._asp_dropped_buckets = (  # type: ignore[attr-defined]
            cand_full._asp_dropped_buckets
        )
    return out

"""Shared incremental-ingest lifecycle (VERDICT r11 #7 and #2).

Three operator families run the same daily-ingest shape — probe a new
batch's signatures against a maintained history index, append the
batch's signatures, extend the already-reported pair ledger:

* text MinHash      — :func:`analyst_spark.functions.dedup.incremental_neardup_ingest`
* perceptual Hamming — :func:`analyst_spark.functions.multimodal.incremental_hamming_ingest`
* embedding sign-LSH — :func:`analyst_spark.functions.similarity.incremental_embedding_ingest`

Until r12 each reimplemented the probe/append/ledger plumbing; the
family-independent pieces now live here so the lifecycle semantics
(replay idempotency, unordered pair keys, self-pair suppression,
intra-batch orientation) are defined ONCE:

* :func:`lifecycle_day` — one ingest day over ANY signature-index
  family: the caller supplies ``cross_fn(index_sigs, batch_sigs)``
  (batch-vs-history candidate probe, emitting (id_batch, id_hist,
  <score>)) and optionally ``intra_fn(batch_sigs)`` (same-day pairs,
  same orientation); the helper owns self-pair suppression, the
  unordered-pair-key ledger anti-join, the replay-safe index append,
  and the ledger extension.
* :func:`save_state` / :func:`load_state` — STORAGE-BACKED state
  between days. The r11 multiday probe measured the alternative:
  chaining days through cached-DataFrame lineage grows the logical
  plan with every ingest and Catalyst re-plans the whole history each
  day (4.0s → 421s per day by day 6, tools/r11_probe.py multiday
  --chained); parquet write + re-read per day is flat. These helpers
  make the flat shape the API, not a probe pattern — at cluster
  scale the same call writes a bucketed table keyed by id (index)
  and pair key (ledger) so the next day's anti-joins co-partition.

A bounded number of days folded inside ONE query (the 3-day gated
catalog entries) may skip storage backing — that is the only sanctioned
use of lineage-chained state.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import checkpoint

CrossFn = Callable[[DataFrame, DataFrame], DataFrame]
IntraFn = Callable[[DataFrame], DataFrame]

LEDGER_SCHEMA = "pair_lo long, pair_hi long"


def lifecycle_day(
    index_sigs: DataFrame,
    batch_sigs: DataFrame,
    cross_fn: CrossFn,
    intra_fn: IntraFn | None = None,
    reported: DataFrame | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE ingest day of the shared lifecycle. Returns
    ``(pairs, new_index, new_reported)``:

    * ``pairs`` — ``cross_fn(index_sigs, batch_sigs)`` ∪ (optionally)
      ``intra_fn(batch_sigs)``, both emitting (id_batch, id_hist,
      <family score column>), with (a) self-pairs dropped and (b)
      pairs whose UNORDERED key (pair_lo, pair_hi) is already in the
      ``reported`` ledger anti-joined away — so a day REPLAY
      (at-least-once ingestion) emits nothing the pipeline already
      acted on, even against the POST-append index where the batch
      meets its own appended signatures.
    * ``new_index`` — index ∪ batch signature rows the index does not
      already hold (anti-join on ``id_col``; replay leaves the index
      unchanged instead of double-inserting).
    * ``new_reported`` — reported ∪ the day's distinct pair keys.

    Cost shape per day: candidate generation is whatever ``cross_fn``
    does (every family uses a bucket/band equi-join — shuffle bounded
    by batch × collision rate, never corpus size); the lifecycle adds
    one anti-join against the ledger (key-partitioned storage at
    scale ⇒ co-partitioned) and one anti-join of batch ids against
    index ids for the append.
    """
    pairs = cross_fn(index_sigs, batch_sigs)
    if intra_fn is not None:
        pairs = pairs.unionByName(intra_fn(batch_sigs))
    pairs = pairs.filter(F.col("id_batch") != F.col("id_hist"))
    lo = F.least("id_batch", "id_hist").alias("pair_lo")
    hi = F.greatest("id_batch", "id_hist").alias("pair_hi")
    if reported is not None:
        # The ledger subtree is referenced TWICE in the returned
        # frames (anti-join right side here, union branch of
        # new_reported below). When both references carry the same
        # live exchange lineage, Spark's exchange reuse + AQE can
        # hand a codegen sort-merge join two inputs coalesced to
        # DIFFERENT partition counts — an intermittent "Can't zip
        # RDDs with unequal numbers of partitions" (observed ~1/6
        # runs on the replay path; r12 review). A lazy local
        # checkpoint materializes the ledger once on first use, so
        # every reference scans the same RDD. Storage-backed callers
        # (load_state) already arrive lineage-free and at 100 TB the
        # ledger is a stored table — this only affects bounded
        # in-query folds, whose ledgers are pair-list-sized. The
        # checkpoint lives until release_cached: release after the
        # day's state is written, not right after ``pairs``.
        reported = checkpoint(reported)
    if reported is not None:
        pairs = (
            pairs.withColumn("pair_lo", F.least("id_batch", "id_hist"))
            .withColumn("pair_hi", F.greatest("id_batch", "id_hist"))
            .join(reported, ["pair_lo", "pair_hi"], "left_anti")
            .drop("pair_lo", "pair_hi")
        )
    new_index = index_sigs.unionByName(
        batch_sigs.join(index_sigs.select(id_col), id_col, "left_anti")
    )
    pair_keys = pairs.select(lo, hi).distinct()
    new_reported = (
        pair_keys if reported is None else reported.unionByName(pair_keys)
    )
    return pairs, new_index, new_reported


def compact_ledger(
    reported: DataFrame,
    live_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop ledger keys that can never suppress anything again
    (VERDICT r12 #4): keep only pairs whose BOTH endpoints are still
    in ``live_ids`` (normally the maintained index's id column). The
    embedding 10-day probe showed the ledger absorbing linearly
    growing pair keys; at years of daily ingest the per-day anti-join
    scans unbounded history unless dead keys are retired.

    **Replay-safety argument.** A pair (a, b) can only be re-emitted
    if some future ``lifecycle_day`` regenerates it as a candidate:

    * ``cross_fn`` candidates need one endpoint in the ingest batch
      and the other in the INDEX — impossible once the non-batch
      endpoint has left ``live_ids`` (the caller removes departed
      docs from the index in the same maintenance pass).
    * ``intra_fn`` candidates need both endpoints in the SAME
      replayed batch. A replay of the batch that originally carried a
      departed doc would regenerate the pair from the original batch
      file — so compaction is only safe for docs whose ingest batch
      is beyond the REPLAY HORIZON (the bounded at-least-once window
      every real ingest pipeline has). Compact on the maintenance
      cadence, not inside the horizon: ``retired docs' batches are
      older than any batch that can still be replayed`` is the
      caller's contract, stated here because nothing in the frames
      can check it.

    Under that contract the compacted ledger suppresses exactly the
    same emissions as the uncompacted one (pinned over a 30-day
    replay/deletion simulation in tests/test_incremental_lifecycle.py
    and measured flat in SCALE.md "r13: ledger compaction"). If a
    departed doc is later RE-ingested under the same id, its pairs
    re-emit — correct, since the downstream action was undone by the
    deletion.

    Cost: two semi-joins of the ledger against the id column — at
    cluster scale both sides are id-bucketed stored tables, so the
    compaction is a co-partitioned scan of the ledger, run on the
    maintenance cadence (e.g. every N days), not per ingest.
    """
    lo_ids = live_ids.select(F.col(id_col).alias("pair_lo"))
    hi_ids = live_ids.select(F.col(id_col).alias("pair_hi"))
    return (
        reported.join(lo_ids, "pair_lo", "left_semi")
        .join(hi_ids, "pair_hi", "left_semi")
        .select("pair_lo", "pair_hi")
    )


def empty_ledger(spark: SparkSession) -> DataFrame:
    """The (pair_lo, pair_hi) frame a lifecycle starts from when no
    pairs have been reported yet — storage-friendly twin of passing
    ``reported=None`` (day-0 state can be saved/loaded uniformly)."""
    return spark.createDataFrame([], LEDGER_SCHEMA)


def save_state(
    index: DataFrame,
    reported: DataFrame | None,
    path: str,
) -> None:
    """Persist one day's lifecycle state to storage: ``{path}/index``
    and ``{path}/ledger`` as parquet (overwrite — day replays land on
    the same path, which is exactly the idempotent write the
    at-least-once contract needs). ``reported=None`` writes an empty
    ledger so :func:`load_state` round-trips day 0 too.

    At cluster scale pass a per-day path (``.../state_d7``) on shared
    storage and add ``.bucketBy`` via a writer hook if the downstream
    anti-joins should co-partition; the parquet form here is the
    shape the r11 probe measured flat across 10 days."""
    index.write.mode("overwrite").parquet(os.path.join(path, "index"))
    if reported is None:
        reported = empty_ledger(index.sparkSession)
    reported.write.mode("overwrite").parquet(os.path.join(path, "ledger"))


def load_state(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read back ``(index, ledger)`` written by :func:`save_state`.
    The returned frames have storage-rooted lineage — feeding them to
    the next :func:`lifecycle_day` keeps per-day planning cost flat
    no matter how many days have run (the measured alternative is the
    421s-by-day-6 cached-lineage chain)."""
    return (
        spark.read.parquet(os.path.join(path, "index")),
        spark.read.parquet(os.path.join(path, "ledger")),
    )

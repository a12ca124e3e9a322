"""30-day incremental-ingest ledger probe (VERDICT r12 #4): measure
per-day ingest wall and ledger size with and without
``compact_ledger`` every 10 days under a 10-day retention window.

Corpus model (same lineage construction the pytest equivalence pin
uses, scaled up): DAY_SIZE synthetic perceptual signatures per day;
every third doc is a hamming-0 member of the lineage seeded by its
day-0 ancestor, so each day emits cross pairs against every still-live
lineage member — pair volume is retention-bounded, the uncompacted
ledger grows with corpus LIFETIME while the compacted one is bounded
by the retention window. State is storage-backed per day
(save_state/load_state), matching the production shape.

Usage: python tools/ledger_probe.py [day_size] [days]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from analyst_spark.functions.dedup import release_cached
from analyst_spark.functions.incremental import (
    compact_ledger,
    load_state,
    save_state,
)
from analyst_spark.functions.multimodal import incremental_hamming_ingest
from analyst_spark.session import get_spark

RETENTION = 10
COMPACT_EVERY = 10


def day_batch(spark, day: int, day_size: int):
    base = F.when(
        (F.lit(day) > 0) & (F.col("i") % 3 == 0), F.col("i")
    ).otherwise(F.col("doc_id"))
    return (
        spark.range(day_size)
        .select(
            F.col("id").alias("i"),
            (F.lit(day) * day_size + F.col("id")).alias("doc_id"),
        )
        .select(
            "doc_id",
            *[(base * 4 + k).alias(f"b{k}") for k in range(4)],
        )
    )


def main() -> None:
    day_size = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    days = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    spark = get_spark("ledger_probe")
    root = tempfile.mkdtemp(prefix="asp_ledger_probe_")
    try:
        d0 = day_batch(spark, 0, day_size)
        for tag in ("u", "c"):
            save_state(d0, None, f"{root}/{tag}/s0")
        print(f"day_size={day_size} days={days} retention={RETENTION} "
              f"compact_every={COMPACT_EVERY}", flush=True)
        print("day | uncompacted wall / ledger | compacted wall / ledger",
              flush=True)
        for day in range(1, days):
            batch = day_batch(spark, day, day_size).persist()
            batch.count()
            row = [f"{day:3d}"]
            for tag in ("u", "c"):
                t0 = time.time()
                idx, led = load_state(spark, f"{root}/{tag}/s{day - 1}")
                pairs, new_idx, new_led = incremental_hamming_ingest(
                    idx, batch, led, max_distance=0
                )
                n_pairs = pairs.count()
                horizon_id = (day - RETENTION + 1) * day_size
                new_idx = new_idx.filter(F.col("doc_id") >= horizon_id)
                if tag == "c" and day % COMPACT_EVERY == 0:
                    new_led = compact_ledger(
                        new_led, new_idx.select("doc_id")
                    )
                save_state(new_idx, new_led, f"{root}/{tag}/s{day}")
                # after the write: new_led reads the day's ledger
                # checkpoint, which release frees
                release_cached(pairs)
                wall = time.time() - t0
                led_n = load_state(spark, f"{root}/{tag}/s{day}")[1].count()
                row.append(f"{wall:6.2f}s / {led_n:8d}")
                if tag == "u":
                    row.append(f"pairs={n_pairs:6d}")
            print(" | ".join(row), flush=True)
            batch.unpersist()
            # bounded history on disk: drop day-2 state dirs
            for tag in ("u", "c"):
                shutil.rmtree(
                    f"{root}/{tag}/s{day - 2}", ignore_errors=True
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

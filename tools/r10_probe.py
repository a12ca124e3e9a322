"""Round-10 scale probes (VERDICT r9 #1/#5/#7/#8).

Subcommands:

  containment [copies] [cap]
      Near-clone storm (dup_storm_probe's builder: every copy appends
      a distinct token) — containment_pairs uncapped vs
      max_posting_df=cap: wall time, pair counts, dropped-posting
      accounting, recall.

  incremental [factors...]
      FIXED batch probed against a GROWING history index. History =
      sf0.1 docs replicated ×f with copyN prefixes; batch = the
      sf0.1 %4==0 docs (constant). Reports index-build time (one-time,
      grows with history) SEPARATELY from probe time (the daily cost —
      must stay ~flat as history grows).

  gapfill [factors...]
      events grown along the TIME axis (copies shifted by k×span, same
      users/series): the spine the gapfill plan actually walks.

  zorder [copies]    histogram via decade4_probe --copies 1000
      lineitem replicated ×copies (orderkey/partkey/suppkey offset per
      copy); times lineitem_zorder_layout.

Corpora cache under /tmp with parameter-encoding done markers.
Long runs: SPARK_GRAFT_LOCAL_DIR=/tmp/spark-local (hourly /dev/shm
wipe at :00).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from analyst_spark.functions.dedup import release_cached
from analyst_spark.session import get_spark
from analyst_spark.tables import load_tables

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000


def near_clone_corpus(docs, copies: int):
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(k * OFFSET)).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.lit(f"variant{k}")).alias("text"),
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main_containment() -> None:
    from analyst_spark.functions.dedup import containment_pairs

    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cap = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    spark = get_spark("r10_containment")
    big = near_clone_corpus(
        load_tables(spark, SRC)["documents"], copies
    ).persist()
    print(f"near-clone corpus: {big.count()} docs ({copies} copies)", flush=True)
    results = {}
    for label, kw in (("uncapped", {}), (f"cap={cap}", {"max_posting_df": cap})):
        best, pairs, dropped = None, None, None
        for _ in range(2):
            t0 = time.time()
            out = containment_pairs(big, **kw)
            pairs = out.count()
            dt = time.time() - t0
            acct = getattr(out, "_asp_dropped_postings", None)
            if acct is not None:
                row = acct.agg(
                    F.coalesce(F.sum("dropped_rows"), F.lit(0)).alias("d"),
                    F.count(F.lit(1)).alias("s"),
                ).first()
                dropped = (row["d"], row["s"])
            release_cached(out)
            best = dt if best is None else min(best, dt)
        results[label] = (best, pairs)
        extra = (
            f"  dropped_rows={dropped[0]} over {dropped[1]} hot shingles"
            if dropped
            else ""
        )
        print(f"{label:>10}: {best:7.2f}s  pairs={pairs}{extra}", flush=True)
    (t_u, p_u), (t_c, p_c) = results.values()
    print(f"recall={p_c / p_u:.4f}  speedup={t_u / t_c:.2f}x", flush=True)


def _grown_history(spark, factor: int):
    docs = load_tables(spark, SRC)["documents"].select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    if factor == 1:
        return hist
    k = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__k")
    return hist.select("*", k).select(
        (F.col("doc_id") + F.col("__k").cast("long") * OFFSET).alias("doc_id"),
        F.concat(
            F.lit("copy"), F.col("__k").cast("string"), F.lit(" "), F.col("text")
        ).alias("text"),
    )


def main_incremental() -> None:
    from analyst_spark.functions.dedup import (
        incremental_neardup_pairs,
        neardup_signature_index,
    )

    factors = [int(a) for a in sys.argv[2:]] or [1, 10, 100]
    spark = get_spark("r10_incremental")
    docs = load_tables(spark, SRC)["documents"].select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 4 == 0).persist()
    n_batch = batch.count()
    print(f"fixed batch: {n_batch} docs", flush=True)
    print(f"{'hist x':>7s} {'hist docs':>10s} {'index build':>12s} "
          f"{'probe (min of 2)':>17s} {'pairs':>8s}", flush=True)
    for f_ in factors:
        t0 = time.time()
        idx = neardup_signature_index(_grown_history(spark, f_)).persist()
        n_hist = idx.count()
        t_index = time.time() - t0
        best, pairs = None, None
        for _ in range(2):
            t0 = time.time()
            out = incremental_neardup_pairs(idx, batch)
            pairs = out.count()
            dt = time.time() - t0
            release_cached(out)
            best = dt if best is None else min(best, dt)
        print(f"{f_:>7d} {n_hist:>10d} {t_index:>11.2f}s {best:>16.2f}s "
              f"{pairs:>8d}", flush=True)
        idx.unpersist()
    batch.unpersist()


def _time_grown_events(spark, factor: int) -> str:
    big = f"/tmp/asp_r10_timegrow_x{factor}"
    path = os.path.join(big, "events.parquet")
    os.makedirs(big, exist_ok=True)
    if not os.path.exists(path):
        ev = load_tables(spark, SRC)["events"]
        span = ev.agg(
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("s")
        ).first()["s"] + 1
        k = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__k")
        rep = ev.select("*", k).select(
            (
                F.col("event_id") + F.col("__k").cast("long") * OFFSET
            ).alias("event_id"),
            (
                F.col("ts").cast("long")
                + F.col("__k").cast("long") * F.lit(span)
            ).cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        rep.repartition(32).write.mode("overwrite").parquet(path)
    for f in os.listdir(SRC):
        dst = os.path.join(big, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f), dst)
    return big


def main_gapfill() -> None:
    from analyst_spark.plans.catalog import QUERIES

    factors = [int(a) for a in sys.argv[2:]] or [10, 100]
    spark = get_spark("r10_gapfill")
    name = "events_gapfill_interpolate"
    rows = []
    dirs = [("x1", SRC)] + [(f"x{f_}", _time_grown_events(spark, f_)) for f_ in factors]
    for label, d in dirs:  # warm
        df = QUERIES[name](spark, d)
        df.write.format("noop").mode("overwrite").save()
        release_cached(df)
    for label, d in dirs:
        best = None
        for _ in range(2):
            t0 = time.time()
            df = QUERIES[name](spark, d)
            df.write.format("noop").mode("overwrite").save()
            release_cached(df)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        rows.append((label, best))
        print(f"{label:>6s}: {best:7.2f}s", flush=True)
    if len(rows) >= 2:
        print(f"ratio last/first = {rows[-1][1] / rows[0][1]:.2f}x", flush=True)


def main_zorder() -> None:
    from analyst_spark.plans.catalog import QUERIES

    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("r10_zorder")
    big = f"/tmp/asp_r10_lineitem_x{copies}"
    path = os.path.join(big, "lineitem.parquet")
    os.makedirs(big, exist_ok=True)
    if not os.path.exists(path):
        from analyst_spark.tables import spread

        # spread BEFORE the explode: the source is one row group, so
        # an unspread explode serializes 600M output rows through ~3
        # tasks (measured stuck); spread first and every core fans out
        li = spread(load_tables(spark, SRC)["lineitem"])
        k = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__k")
        rep = li.select("*", k).select(
            *[
                (
                    (F.col(c) + F.col("__k").cast("long") * OFFSET).alias(c)
                    if c == "l_orderkey"
                    else F.col(c)
                )
                for c in li.columns
            ]
        ).drop("__k")
        rep.write.mode("overwrite").parquet(path)
    for f in os.listdir(SRC):
        dst = os.path.join(big, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f), dst)
    name = "lineitem_zorder_layout"
    for label, d in (("sf0.1", SRC), (f"x{copies}", big)):
        best = None
        for _ in range(2):
            t0 = time.time()
            df = QUERIES[name](spark, d)
            df.write.format("noop").mode("overwrite").save()
            release_cached(df)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"{label:>8s}: {best:7.2f}s", flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "containment"
    {
        "containment": main_containment,
        "incremental": main_incremental,
        "gapfill": main_gapfill,
        "zorder": main_zorder,
    }[mode]()

"""Window / cohort / set-operation analytics and training-data split
utilities — capabilities beyond the reference's operator set (SURVEY
§1.3 notes it has no window functions or set operations; users had to
push these into a source database). Here they are first-class
Catalyst plans over the driver tables.

Scale notes: every window below partitions by ``user_id`` — at 100 TB
that is the same hash partitioning the sessionization and rollup
plans use, so a pipeline chaining them reuses one exchange. Frames
are bounded (ROWS BETWEEN) so state per key is O(frame), not O(rows).
The deterministic train/test split hashes a stable key (md5 of the
id) — reproducible across runs, clusters, and engines, which is the
property a 100 TB corpus split actually needs (re-running must not
reshuffle documents between train and eval).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analyst_spark.tables import cents_of, load_tables, spread


def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 7-row moving average and running total of ``value``,
    ordered by (ts, event_id) — the tie-break makes the frame a total
    order. The data's values are 2-decimal, so summation runs over
    integer cents (engines disagree on float summation order inside
    sliding frames — DuckDB uses segment trees — but integer sums are
    order-free) and divides back at the end."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "event_id", "ts", cents_of("value").alias("cents")
    )
    return base.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("cents").over(w.rowsBetween(-6, 0))
            / (100.0 * F.count("cents").over(w.rowsBetween(-6, 0))),
            4,
        ).alias("mov_avg7"),
        (
            F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
            / 100.0
        ).alias("run_sum"),
    )


EVENTS_MOVING_AVG_ORACLE = """
SELECT user_id, event_id,
       round(CAST(sum(cents) OVER w_frame AS DOUBLE)
             / (100.0 * count(cents) OVER w_frame), 4) AS mov_avg7,
       CAST(sum(cents) OVER w_cum AS DOUBLE) / 100.0   AS run_sum
FROM (SELECT user_id, event_id, ts,
             CASE WHEN abs(value) <= 9e13 THEN CAST(round(value * 100) AS BIGINT) END AS cents FROM events)
WINDOW w_frame AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       w_cum   AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap per user in seconds (LAG) — the building
    block of session-timeout logic, exposed as its own surface.
    Timestamp microseconds are integers, so the float division is
    exact on both engines."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev)) / 1_000_000.0
        ).alias("gap_s"),
    )


EVENTS_LAG_DELTA_ORACLE = """
SELECT user_id, event_id,
       (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)))
         / 1000000.0 AS gap_s
FROM events
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted
    per (cohort_week, active_week). Two shuffles — min-per-user, then
    the cohort×week count — both on user_id-derived keys; integer
    counts, so no float noise."""
    ev = load_tables(spark, sf_dir)["events"]
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(first, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


EVENTS_COHORT_ORACLE = """
WITH weekly AS (
    -- CAST: DuckDB's week-truncation yields DATE, Spark's TIMESTAMP
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
    FROM events
), first AS (
    SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY user_id
)
SELECT cohort_week, week, count(DISTINCT weekly.user_id) AS active_users
FROM weekly JOIN first ON weekly.user_id = first.user_id
GROUP BY 1, 2
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week): all 4 grouping
    combinations in one pass (the expand happens before the shuffle,
    so it's still a single map-side-combined aggregation)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.select(
            "event_type", F.dayofweek("ts").alias("dow"), "value"
        )
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


EVENTS_CUBE_ORACLE = """
SELECT event_type, dow, count(*) AS n, grouping(event_type, dow) AS gid
FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, value
      FROM events)  -- DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based
GROUP BY CUBE (event_type, dow)
"""


def orders_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations the reference lacks natively: customers active
    in 1996 split by whether they returned in 1997 — INTERSECT and
    EXCEPT computed in one pass as a conditional aggregate, then
    tagged. (Spark plans true INTERSECT/EXCEPT as joins; expressing
    the pair via one groupBy halves the scans.)"""
    t = load_tables(spark, sf_dir)
    o = t["orders"].select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
    ).filter(F.col("yr").isin(1996, 1997))
    flags = o.groupBy("o_custkey").agg(
        F.max(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("in96"),
        F.max(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("in97"),
    )
    return (
        flags.filter(F.col("in96") == 1)
        .select(
            "o_custkey",
            F.when(F.col("in97") == 1, F.lit("retained"))
            .otherwise(F.lit("churned"))
            .alias("status"),
        )
    )


ORDERS_EXCEPT_INTERSECT_ORACLE = """
WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT o_custkey, 'retained' AS status FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
UNION ALL
SELECT o_custkey, 'churned'  AS status FROM (SELECT * FROM y96 EXCEPT    SELECT * FROM y97)
"""


def _md5_bucket_spark(key):
    # first 4 hex digits of md5 → 0..65535 → mod 100; stable across
    # engines, runs, and cluster sizes
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )


def docs_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus split: md5-hash the document id into 100
    buckets → 80/10/10 train/valid/test, reported per (split, lang).
    No randomness, no state — adding documents never moves an
    existing one between splits (the invariant a 100 TB training
    corpus needs for eval hygiene)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            split_of_spark(F.col("doc_id")).alias("split"), "lang", "n_chars"
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def md5_bucket_sql(expr: str) -> str:
    """DuckDB twin of _md5_bucket_spark for any SQL expression —
    single definition so Spark plans and their oracles can never
    drift on the bucketing formula (the _CMS_EPS lesson)."""
    from analyst_spark.plans.oracle_sql import hex_prefix_horner

    v4 = hex_prefix_horner(f"md5(CAST({expr} AS VARCHAR))", 4)
    return f"({v4}) % 100"


def split_of_spark(col):
    """train/valid/test assignment as a pure function of the id —
    computable anywhere the id is in hand, no join with the corpus."""
    bucket = _md5_bucket_spark(col)
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )


def split_case_sql(expr: str) -> str:
    bucket = md5_bucket_sql(expr)
    return (
        f"CASE WHEN {bucket} < 80 THEN 'train' "
        f"WHEN {bucket} < 90 THEN 'valid' ELSE 'test' END"
    )


DOCS_SPLIT_ORACLE = f"""
SELECT {split_case_sql('doc_id')} AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance: apply a repricing batch (all open
    orders +100.0, priority stamped) onto the orders table via
    anti-join + union (operators/upsert.py). The merged relation is
    returned in full — the oracle replays the same merge in SQL."""
    from analyst_spark.operators.upsert import merge_upsert

    orders = load_tables(spark, sf_dir)["orders"]
    updates = (
        orders.filter(F.col("o_orderstatus") == "O")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .withColumn("o_orderpriority", F.lit("0-REPRICED"))
    )
    return merge_upsert(orders, updates, "o_orderkey").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


ORDERS_UPSERT_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
       '0-REPRICED' AS o_orderpriority
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders WHERE o_orderstatus <> 'O'
"""


def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type — the at-scale
    path for cardinality (mergeable sketches, no exact-distinct
    shuffle explosion). No oracle: DuckDB's HLL draws different
    estimates; tests/test_analytics.py bounds the error vs exact
    instead (rsd=0.01 → well under 5%)."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


_BOTTOMK_K = 20


def docs_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k consistent sample per language (Broder-style min-hash
    sampling): the k documents with the smallest md5(doc_id) in each
    stratum. The sample is a pure function of the ids — re-running on
    a grown corpus only swaps entries whose hash beats the current
    tail, never reshuffles the rest — which is the stable-subset
    primitive for corpus versioning, eval panels, and debugging
    snapshots that must not churn as 100 TB of new data lands.

    Scale shape: the rank-<=k window compiles to WindowGroupLimit
    (Spark 3.5+), which keeps at most k rows per language INSIDE each
    map task before the shuffle — the exchange carries ~k rows per
    (lang, input partition), not the corpus (plan-shape pinned in
    tests/test_consistent_sample.py). Deterministic total order:
    (hash, doc_id)."""
    docs = load_tables(spark, sf_dir)["documents"]
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        spread(docs)
        .select("lang", "doc_id", "n_chars", h.alias("h"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _BOTTOMK_K)
        .select("lang", "rnk", "doc_id", "n_chars", "h")
    )


DOCS_CONSISTENT_SAMPLE_ORACLE = f"""
WITH h AS (
    SELECT lang, doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
), r AS (
    SELECT lang, doc_id, n_chars, h,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                AS BIGINT) AS rnk
    FROM h
)
SELECT lang, rnk, doc_id, n_chars, h FROM r WHERE rnk <= {_BOTTOMK_K}
"""


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by language (sampleBy, fixed seed) — the
    rebalancing primitive for skewed training corpora. Seeded and
    deterministic for a given partitioning, but engine-specific, so
    no cross-engine oracle; tests bound the per-stratum rates.

    NULL lang forms its own stratum: sampleBy's fractions dict cannot
    hold a None key (r7 null-sweep crash), so the sampling key is
    lang coalesced to a sentinel and the output reports the original
    (possibly NULL) lang."""
    docs = load_tables(spark, sf_dir)["documents"]
    keyed = docs.withColumn(
        "__stratum", F.coalesce(F.col("lang"), F.lit("<null>"))
    )
    langs = [r[0] for r in keyed.select("__stratum").distinct().collect()]
    fractions = {lang: 0.5 for lang in langs}
    sampled = keyed.sampleBy("__stratum", fractions, seed=42)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


# ------------------------------------------------------ funnel


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: view → click-after-view →
    purchase-after-click, counting users who completed each step in
    order (a later click without a preceding view does not count).

    Step timestamps are the user's FIRST qualifying event: first
    view, first click strictly after that view, first purchase
    strictly after that click — three per-user aggregations chained
    by user_id joins. All three intermediates are user-sized (one row
    per user), so at 100 TB each join hashes on user_id at user
    cardinality, not event cardinality; the heavy events scan feeds
    map-side-combined min() aggregations only. Integer-exact counts.
    """
    ev = load_tables(spark, sf_dir)["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("p_ts"))
    )
    one = F.count(F.lit(1)).cast("long").alias("users")
    return (
        v.agg(F.lit("1_view").alias("step"), one)
        .unionByName(c.agg(F.lit("2_click_after_view").alias("step"), one))
        .unionByName(p.agg(F.lit("3_purchase_after_click").alias("step"), one))
    )


EVENTS_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS v_ts FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS c_ts
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.v_ts
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS p_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
    GROUP BY e.user_id
)
SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p
"""


# --------------------------------------------- bucketed co-location


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fact⋈fact join via bucketed layout — the 100 TB
    lever the reference lacks any analog of (its joins cache one side
    in a process map, transforms/lookup.go:50).

    orders and lineitem are written ONCE as bucketed+sorted managed
    tables on the join key; the join then reads bucket i of both
    sides in task i — no Exchange on either side (property pinned by
    tests/test_bucketed.py from the physical plan). For a pipeline
    that joins the same fact tables daily, this amortizes the shuffle
    from every-run to once-at-ingest. The gate checks the VALUES:
    revenue per order priority over high-value orders must equal the
    plain DuckDB join.
    """
    import os
    import shutil

    from analyst_spark.operators.bucketed import bucketed_join, write_bucketed

    # a managed table's location can survive a previous session whose
    # in-memory catalog is gone — drop both the entry and the dir
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for tbl in ("asp_gate_orders_b", "asp_gate_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)

    t = load_tables(spark, sf_dir)
    write_bucketed(
        t["orders"].select(
            F.col("o_orderkey").alias("orderkey"),
            "o_orderpriority", "o_totalprice",
        ),
        "asp_gate_orders_b", "orderkey", num_buckets=8,
    )
    write_bucketed(
        t["lineitem"].select(
            F.col("l_orderkey").alias("orderkey"),
            "l_extendedprice", "l_discount",
        ),
        "asp_gate_lineitem_b", "orderkey", num_buckets=8,
    )
    j = bucketed_join(
        spark, "asp_gate_orders_b", "asp_gate_lineitem_b", on="orderkey"
    )
    return (
        j.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice > 100000
GROUP BY o.o_orderpriority
"""


# ------------------------------------------------- anomaly detection

_ZSCORE_THRESHOLD = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers: events whose value deviates
    from the type mean by more than 3 standard deviations — the
    standard first-pass metric-anomaly sweep.

    Exactness device: values are 2-decimal, so moments accumulate
    over integer CENTS (sum and sum-of-squares are exact BIGINTs;
    float summation order can never flip the hash) and the
    mean/variance/z derive from those exact integers by deterministic
    IEEE ops. Sum-of-squares stays inside int64 up to ~10^14 cents² —
    per GROUP at larger scale, switch the accumulator to decimal.
    One map-side-combined aggregation + one small broadcast join back;
    no window, no shuffle of the fact table beyond the groupBy.
    """
    ev = load_tables(spark, sf_dir)["events"]
    base = events_with_cents(ev)
    stats = anomaly_stats(base)
    z = zscore_expr()
    return (
        base.join(F.broadcast(stats), "event_type")  # one row per type
        .filter(F.abs(z) > F.lit(_ZSCORE_THRESHOLD))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


def events_with_cents(ev: DataFrame) -> DataFrame:
    """(event_id, event_type, value, cents): the exact-integer value
    surrogate both the batch and streaming anomaly paths score on."""
    return ev.select(
        "event_id", "event_type", "value", cents_of("value").alias("cents")
    )


def anomaly_stats(base: DataFrame) -> DataFrame:
    """Per-type (n, s, ss) moment stats over integer cents, with an
    EXACT zero-variance guard: without one a constant group yields
    z = 0/0 = NaN, and Spark's NaN-is-greatest ordering makes
    abs(NaN) > 3 true while the oracle's NULL-yielding division
    drops the row — divergent on degenerate data.

    The guard is ``min(cents) != max(cents)`` (all-identical ⇔ zero
    variance), NOT the moment identity ``n·ss − s² > 0``: the r7
    ×100-events probe showed n·ss overflowing int64 at 10M rows/type
    (s ≈ 1e10 ⇒ s² ≈ 1e20 > 2⁶³) — min/max is exact at any scale.
    Factored so the streaming gate scores micro-batches with the SAME
    trained stats the batch entry uses. (At extreme corpus sizes the
    s/ss sums themselves approach 2⁶³; promote to decimal(38,0) on a
    real cluster — the z-score consumes them as doubles either way.)"""
    stats = base.groupBy("event_type").agg(
        F.count("cents").alias("n"),  # valid measurements only
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
        F.min("cents").alias("__lo"),
        F.max("cents").alias("__hi"),
    )
    return stats.filter(F.col("__lo") != F.col("__hi")).drop("__lo", "__hi")


def zscore_expr() -> F.Column:
    """z of a cents column against joined (n, s, ss) stat columns."""
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    return (F.col("cents") - mean) / F.sqrt(var)


EVENTS_ANOMALY_ORACLE = f"""
WITH c AS (
    SELECT event_id, event_type, value,
           CASE WHEN abs(value) <= 9e13 THEN CAST(round(value * 100) AS BIGINT) END AS cents
    FROM events
), st AS (
    SELECT event_type, count(cents) AS n,
           CAST(sum(cents) AS BIGINT) AS s,
           CAST(sum(cents * cents) AS BIGINT) AS ss,
           min(cents) AS lo, max(cents) AS hi
    FROM c GROUP BY event_type
)
SELECT c.event_id, c.event_type, c.value,
       round((c.cents - CAST(st.s AS DOUBLE) / st.n)
             / sqrt(CAST(st.ss AS DOUBLE) / st.n
                    - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n)),
             4) AS zscore
FROM c JOIN st USING (event_type)
WHERE st.lo <> st.hi  -- exact zero-variance guard, overflow-free
  AND abs((c.cents - CAST(st.s AS DOUBLE) / st.n)
          / sqrt(CAST(st.ss AS DOUBLE) / st.n
                 - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n)))
      > {_ZSCORE_THRESHOLD}
"""


_MAD_Z_MILLI = 3500  # |modified z-score| > 3.5 (Iglewicz & Hoaglin 1993)


def events_anomaly_mad(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Robust per-type outliers via the MEDIAN/MAD modified z-score —
    the detector that still works when the outliers themselves drag
    the mean/stddev (events_anomaly_zscore's known blind spot).

        M = 0.6745 * (x - median) / MAD,  flag |M| > 3.5

    Exactness device: everything stays integer. Medians of integer
    cents are half-integers, so med2 = 2*median(cents) and
    mad4 = 2*median(|2*cents - med2|) are exact BIGINTs in both
    engines (interpolated percentile at 0.5 is (a+b)/2 — exact
    binary for |cents| <= 9e13); with 0.6745 = 1349/2000 the flag
    becomes the pure integer comparison 1349*dev2 > 3500*mad4 and the
    reported score robust_z_milli = sign * (1349*dev2 DIV mad4). No
    float crosses the gate.

    Scale: exact medians buffer each group's values (the documented
    agg_quantile boundary) and MAD is inherently two-pass — this
    exact form is the oracle-gated twin. ``approx=True`` swaps both
    percentiles for approx_percentile (mergeable GK sketch, map-side
    combinable) — the 100 TB production path, banded against the
    exact form in tests/test_anomaly_mad.py. Zero-MAD groups (a
    majority of identical values) are unscorable by this detector and
    excluded; the zscore twin covers them.
    """
    ev = load_tables(spark, sf_dir)["events"]
    base = events_with_cents(ev)
    stats = mad_stats(base, approx=approx)
    z = F.expr(
        "CAST(CAST(1349 AS DECIMAL(38,0)) * dev2 DIV mad4 AS BIGINT)"
    )
    return (
        base.join(F.broadcast(stats), "event_type")
        .withColumn("sdev2", 2 * F.col("cents") - F.col("med2"))
        .withColumn("dev2", F.abs("sdev2"))
        .filter(mad_flag_expr())
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(F.col("sdev2") < 0, -z).otherwise(z).alias("robust_z_milli"),
        )
    )


def mad_stats(base: DataFrame, approx: bool = False) -> DataFrame:
    """Per-type (med2, mad4) doubled-median stats over integer cents —
    factored so the streaming gate scores micro-batches with the SAME
    frozen stats the batch entry uses (the anomaly_stats discipline)."""
    pctl = "approx_percentile" if approx else "percentile"
    med = base.groupBy("event_type").agg(
        F.expr(f"CAST(round(2 * {pctl}(cents, 0.5)) AS BIGINT)").alias("med2")
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr(f"CAST(round(2 * {pctl}(dev2, 0.5)) AS BIGINT)").alias("mad4")
    )
    return med.join(mad, "event_type")


def mad_flag_expr() -> F.Column:
    """Outlier test of a dev2 column against joined (med2, mad4)
    stats: all-integer, zero-MAD groups unscorable by construction.
    The products ride DECIMAL(38,0): cents_of admits |cents| up to
    9e15, so dev2 reaches 3.6e16 and 1349*dev2 (~4.9e19) overflows
    int64 inside the admitted domain — the same headroom discipline
    as the PMI lift (HUGEINT in the oracles)."""
    return (F.col("mad4") > 0) & F.expr(
        f"CAST(1349 AS DECIMAL(38,0)) * dev2"
        f" > {_MAD_Z_MILLI} * CAST(mad4 AS DECIMAL(38,0))"
    )


EVENTS_ANOMALY_MAD_ORACLE = f"""
WITH c AS (
    SELECT event_id, event_type, value,
           CASE WHEN abs(value) <= 9e13 THEN CAST(round(value * 100) AS BIGINT) END AS cents
    FROM events
), med AS (
    SELECT event_type,
           CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
    FROM c WHERE cents IS NOT NULL GROUP BY 1
), d AS (
    SELECT c.event_id, c.event_type, c.value,
           2*c.cents - med2 AS sdev2, abs(2*c.cents - med2) AS dev2
    FROM c JOIN med USING (event_type) WHERE c.cents IS NOT NULL
), mad AS (
    SELECT event_type,
           CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
    FROM d GROUP BY 1
)
SELECT d.event_id, d.event_type, d.value,
       CAST(CASE WHEN sdev2 < 0
                 THEN -(CAST(1349 AS HUGEINT) * dev2 // mad4)
                 ELSE CAST(1349 AS HUGEINT) * dev2 // mad4
            END AS BIGINT) AS robust_z_milli
FROM d JOIN mad USING (event_type)
WHERE mad4 > 0
  AND CAST(1349 AS HUGEINT) * dev2 > {_MAD_Z_MILLI} * CAST(mad4 AS HUGEINT)
"""


def lineitem_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for lineitems of URGENT orders, with
    the fact side pruned by a Bloom filter BEFORE the semi-join
    shuffle (functions/bloom.py).

    The scale shape: at 100 TB the urgent-order key set is far past
    broadcast-set size, so a plain semi-join shuffles every lineitem
    row on l_orderkey. Here the keys collapse into a fixed-size
    word table (2^19 bits = 64 KiB) via one map-side-combined
    bit_or aggregation; two broadcast probes drop ~99% of
    non-matching fact rows map-side, and only candidates reach the
    exact join — which makes the result EQUAL to the plain semi-join
    (hash-gated against that oracle, for ANY filter size). The
    filter is auto-sized at ~16 bits/key from a dim-side count
    (fixed sizes saturate as keys grow — measured in SCALE.md);
    at sf0.1 that lands on 2^19 bits ⇒ ~1.1% false positives.

    Reference parity: LOOKUP with an INNER semi shape caches the
    whole build side per process (transforms/lookup.go:50); this is
    the form of that join that survives a build side larger than
    memory. Pruning + plan shape pinned in tests/test_bloom.py.
    """
    from analyst_spark.functions.bloom import bloom_semi_join

    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    li = bloom_semi_join(
        t["lineitem"].select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"),
        "l_orderkey",
        urgent.select("o_orderkey"),
        "o_orderkey",  # n_bits auto-sized from the urgent key count
    )
    # revenue is exact at 1e-4 dollars: price and discount are
    # 2-decimal, so cents(ep) * (100 - cents(d)) is an integer —
    # summed in decimal(28,0) and rounded to 2dp in INTEGER
    # arithmetic (engines' float round() diverges on decimal halves,
    # and a double sum is merge-order-dependent; r7 gate lesson)
    e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    ).cast("decimal(28,0)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(e4).alias("__s"),
        )
        .select(
            "l_returnflag",
            "n_items",
            (
                F.expr(
                    "CASE WHEN __s >= 0 THEN (2*__s + 100) DIV 200 "
                    "ELSE -((-2*__s + 100) DIV 200) END"
                )
                / F.lit(100.0)
            ).alias("revenue"),
        )
    )


LINEITEM_BLOOM_SEMIJOIN_ORACLE = """
SELECT l_returnflag, n_items,
       (CASE WHEN s >= 0 THEN (2*s + 100) // 200
             ELSE -((-2*s + 100) // 200) END) / 100.0 AS revenue
FROM (
    SELECT l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS HUGEINT) AS s
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
)
"""


# ------------------------------------------------- data profiling

# Column specs drive BOTH the Spark plan and the generated DuckDB
# oracle through analyst_spark.functions.profile (shared parameters
# cannot drift). See that module for kinds, exactness devices, and
# the exact-vs-HLL scale trade.
_PROFILE_COLS = [
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "cents"),
    ("l_extendedprice", "cents"),
    ("l_discount", "cents"),
    ("l_tax", "cents"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]

_DOCS_PROFILE_COLS = [
    ("doc_id", "int"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "int"),
]


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiling (the Deequ/Great-Expectations
    analyzer shape) of the fact table — thin wrapper over
    :func:`analyst_spark.functions.profile.profile_table`, which
    documents the one-scan design, the engine-exact rendering
    devices, and the exact-Expand vs approx-HLL distinct trade."""
    return _lineitem_profile(spark, sf_dir, approx=False)


# Measured (SCALE.md r10): at x1000 rows the HLL cost is register
# UPDATES (rsd-invariant: 186s at 0.01 vs 189s at 0.02); at sf0.1 the
# sketch MERGE dominates and rsd=0.01's 2^17-register sketches cost
# 11.8s vs 3.7s at 0.02. rsd=0.02 (5-sigma band +/-10%) is the right
# profile default at every decade.
PROFILE_HLL_RSD = 0.02  # the banded gate imports this (no drift)


def _lineitem_profile(
    spark: SparkSession, sf_dir: str, approx: bool
) -> DataFrame:
    from analyst_spark.functions.profile import profile_table

    # spread(): the testdata ships one unsplittable row group, so the
    # Expand x12 multi-distinct aggregation would otherwise run on a
    # single core (21s -> ~4s at sf0.1). At 100 TB the scan arrives
    # well-partitioned and this is a cheap balance step.
    li = spread(load_tables(spark, sf_dir)["lineitem"])
    return profile_table(li, _PROFILE_COLS, approx=approx, rsd=PROFILE_HLL_RSD)


def lineitem_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-viable profile configuration as its OWN gate-checked
    entry (VERDICT r9 #4): approx_count_distinct keeps the whole
    profile ONE pass of mergeable fixed-size HLL sketches with no
    Expand — the exact form's Expand ×12 is measured DNF (>560s) at
    the ×100 decade while this form covers it in 9.0s (SCALE.md).
    Everything except n_distinct is bit-exact vs the oracle;
    n_distinct carries a 5-sigma HLL band at rsd=0.02 (the
    events_distinct_users_hll discipline) in tools/verify_local.py.
    """
    return _lineitem_profile(spark, sf_dir, approx=True)


def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same profiler applied to the documents corpus — profiling
    is table-generic (one spec list per table, same gate)."""
    from analyst_spark.functions.profile import profile_table

    docs = spread(load_tables(spark, sf_dir)["documents"])
    return profile_table(docs, _DOCS_PROFILE_COLS, approx=False)


def _profile_oracles():
    from analyst_spark.functions.profile import profile_oracle

    return (
        profile_oracle(_PROFILE_COLS, "lineitem"),
        profile_oracle(_DOCS_PROFILE_COLS, "documents"),
    )


LINEITEM_PROFILE_ORACLE, DOCUMENTS_PROFILE_ORACLE = _profile_oracles()


# ------------------------------------------------- z-order layout

_Z_BITS = 8            # per-dimension rank resolution (2^8 buckets)
_Z_FILES = 64          # target files per layout


def _morton_expr(px: str, sy: str, bits: int) -> str:
    """Bit-interleave two ``bits``-wide integer columns into a Morton
    (Z-order) code using pure integer arithmetic — portable to any
    SQL engine (no shift builtins; Spark's shiftleft takes only
    literal counts anyway)."""
    terms = []
    for b in range(bits):
        terms.append(f"(({px} DIV {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({sy} DIV {1 << b}) % 2) * {1 << (2 * b)}")
    return " + ".join(terms)


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering vs linear sort — the data-layout
    decision behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: which file
    layout lets a 100 TB scan prune files for predicates on EITHER of
    two dimensions?

    Both layouts assign each row a file id deterministically: the
    linear layout buckets by l_partkey rank alone; the z-order layout
    buckets by the Morton interleave of the (l_partkey, l_suppkey)
    rank pair. The result is one row per layout with the average
    per-file span of each dimension in exact ppm of its full range —
    the min/max file skipping statistics a lakehouse reader prunes
    with. Z-order shows BOTH spans small (~sqrt decomposition);
    linear shows l_partkey tiny but l_suppkey at ~100% (no pruning on
    the second dimension).

    All arithmetic is integer (rank = (v - min) * 2^bits DIV
    (range + 1), interleave by DIV/%/*, spans in ppm by integer DIV),
    so the whole comparison hash-gates. The 1-row min/max frame rides
    a broadcast; per-file stats are one map-side-combined aggregation
    each. To APPLY the layout at scale: repartitionByRange(morton) +
    sortWithinPartitions(morton) before the write — the computation
    here is exactly the clustering key that write would use.
    """
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_partkey", "l_suppkey")
        .filter(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
    )
    rng = li.agg(
        F.min("l_partkey").alias("mn_pk"),
        F.max("l_partkey").alias("mx_pk"),
        F.min("l_suppkey").alias("mn_sk"),
        F.max("l_suppkey").alias("mx_sk"),
    )
    n_ranks = 1 << _Z_BITS
    coded = (
        li.join(F.broadcast(rng))  # 1-row scalars: broadcast by construction
        .withColumn(
            "px",
            F.expr(
                f"((l_partkey - mn_pk) * {n_ranks})"
                " DIV (mx_pk - mn_pk + 1)"
            ),
        )
        .withColumn(
            "sy",
            F.expr(
                f"((l_suppkey - mn_sk) * {n_ranks})"
                " DIV (mx_sk - mn_sk + 1)"
            ),
        )
        .withColumn(
            "file_z",
            F.expr(
                f"({_morton_expr('px', 'sy', _Z_BITS)})"
                f" DIV {(n_ranks * n_ranks) // _Z_FILES}"
            ),
        )
        .withColumn("file_lin", F.expr(f"px DIV {n_ranks // _Z_FILES}"))
    )

    def _layout(df: DataFrame, file_col: str, label: str) -> DataFrame:
        per_file = df.groupBy(file_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("f_mn_pk"),
            F.max("l_partkey").alias("f_mx_pk"),
            F.min("l_suppkey").alias("f_mn_sk"),
            F.max("l_suppkey").alias("f_mx_sk"),
        )
        return per_file.agg(
            F.lit(label).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n").cast("long").alias("n_rows"),
            F.expr(
                "CAST(sum(f_mx_pk - f_mn_pk + 1) * 1000000 AS BIGINT)"
                " DIV (count(*) * (max(f_mx_pk) - min(f_mn_pk) + 1))"
            ).alias("avg_pk_span_ppm"),
            F.expr(
                "CAST(sum(f_mx_sk - f_mn_sk + 1) * 1000000 AS BIGINT)"
                " DIV (count(*) * (max(f_mx_sk) - min(f_mn_sk) + 1))"
            ).alias("avg_sk_span_ppm"),
        )

    return _layout(coded, "file_z", "zorder").unionByName(
        _layout(coded, "file_lin", "linear_pk")
    )


def _zorder_oracle() -> str:
    n_ranks = 1 << _Z_BITS
    morton = _morton_expr("px", "sy", _Z_BITS).replace("DIV", "//")
    base = f"""
WITH li AS (
    SELECT l_partkey, l_suppkey FROM lineitem
    WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
), rng AS (
    SELECT min(l_partkey) mn_pk, max(l_partkey) mx_pk,
           min(l_suppkey) mn_sk, max(l_suppkey) mx_sk
    FROM li
), coded AS (
    SELECT l_partkey, l_suppkey,
           ((l_partkey - mn_pk) * {n_ranks}) // (mx_pk - mn_pk + 1) AS px,
           ((l_suppkey - mn_sk) * {n_ranks}) // (mx_sk - mn_sk + 1) AS sy
    FROM li CROSS JOIN rng
), filed AS (
    SELECT l_partkey, l_suppkey,
           ({morton}) // {(n_ranks * n_ranks) // _Z_FILES} AS file_z,
           px // {n_ranks // _Z_FILES} AS file_lin
    FROM coded
)"""
    layouts = []
    for file_col, label in (("file_z", "zorder"), ("file_lin", "linear_pk")):
        layouts.append(f"""
SELECT '{label}' AS layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(s_pk) * 1000000 AS BIGINT)
           // (count(*) * (max(f_mx_pk) - min(f_mn_pk) + 1))
           AS avg_pk_span_ppm,
       CAST(sum(s_sk) * 1000000 AS BIGINT)
           // (count(*) * (max(f_mx_sk) - min(f_mn_sk) + 1))
           AS avg_sk_span_ppm
FROM (
    SELECT {file_col}, count(*) AS n,
           min(l_partkey) f_mn_pk, max(l_partkey) f_mx_pk,
           min(l_suppkey) f_mn_sk, max(l_suppkey) f_mx_sk,
           max(l_partkey) - min(l_partkey) + 1 AS s_pk,
           max(l_suppkey) - min(l_suppkey) + 1 AS s_sk
    FROM filed GROUP BY {file_col}
)""")
    return base + "\nUNION ALL\n".join(layouts)


LINEITEM_ZORDER_ORACLE = _zorder_oracle()

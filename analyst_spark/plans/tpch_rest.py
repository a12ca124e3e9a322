"""The remaining TPC-H query shapes (Q2/Q11/Q12/Q16/Q20/Q21), adapted
to the driver schema (no partsupp, no l_commitdate/l_receiptdate/
l_shipmode — see TESTDATA.md). Each adaptation preserves the
*structural pattern* that makes the original query interesting:

  Q2  — correlated MIN subquery joined back (min-cost supplier)
  Q11 — group value vs a global scalar aggregate (> multiple of the mean)
  Q12 — conditional counts by category after a late-shipment filter
  Q16 — COUNT(DISTINCT) grouped by part attributes with NOT IN prune
  Q20 — chained semi-joins narrowing suppliers by shipped volume
  Q21 — multi-EXISTS per-order predicate (last supplier to ship)

The reference can only express these by shipping SQL verbatim to a
source database (SURVEY §2.6, engine/sql_source.go:170); here each is
a first-class Catalyst plan with the same shape rules as tpch.py:
dimensions broadcast, lineitem never shuffles for a join unless the
join is genuinely large-large (Q21 needs per-order context over all
of lineitem: computed with window functions over one shuffle on
l_orderkey, lineitem's natural key, instead of a groupBy+join-back
that would scan and shuffle twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analyst_spark.tables import load_tables


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each size-15 'STANDARD%' part in region ASIA,
    the supplier(s) offering the minimum unit price — a correlated MIN
    subquery, decorrelated into a per-part aggregate broadcast-joined
    back to the probe side (original needs partsupp; unit price =
    l_extendedprice/l_quantity stands in for ps_supplycost)."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_size") == 15) & F.col("p_type").like("STANDARD%")
    ).select("p_partkey", "p_name")
    region = t["region"].filter(F.col("r_name") == "ASIA").select("r_regionkey")
    nation = (
        t["nation"]
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        t["lineitem"]
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("unit_cost"))
    )
    best = offers.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        offers.join(
            best,
            (offers.p_partkey == F.col("bp")) & (offers.unit_cost == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


Q2_ORACLE = """
WITH offers AS (
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
           round(min(l_extendedprice / l_quantity), 4) AS unit_cost
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type LIKE 'STANDARD%' AND r_name = 'ASIA'
    GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM offers o
WHERE unit_cost = (SELECT min(unit_cost) FROM offers o2
                   WHERE o2.p_partkey = o.p_partkey)
"""


# A part is "important" when its NATION_2 revenue exceeds this multiple
# of the mean per-part revenue. Relative to the mean, so the selection
# keeps a similar share of parts at every scale factor (a fixed share
# of the nation's total selects nothing once the part count grows).
Q11_MEAN_MULTIPLE = 2


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose revenue from NATION_2's suppliers exceeds
    twice the mean per-part revenue (``Q11_MEAN_MULTIPLE``) — a grouped
    sum compared against a global scalar aggregate of that grouped sum
    (cross-join the 1-row threshold, Catalyst plans it
    broadcast-nested-loop). The per-part sums feed both sides; no
    driver round-trip."""
    t = load_tables(spark, sf_dir)
    nation = t["nation"].filter(F.col("n_name") == "NATION_2").select("n_nationkey")
    supp = (
        t["supplier"]
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = (
        t["lineitem"]
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_extendedprice", "l_quantity")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    threshold = per_part.agg(
        (F.avg("value") * F.lit(Q11_MEAN_MULTIPLE)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(threshold), F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round("value", 2).alias("part_value"))
    )


Q11_ORACLE = f"""
WITH li AS (
    SELECT l_partkey, l_extendedprice, l_quantity
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
),
per_part AS (
    SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
    FROM li
    GROUP BY l_partkey
)
SELECT l_partkey, round(value, 2) AS part_value
FROM per_part
WHERE value > (SELECT avg(value) * {Q11_MEAN_MULTIPLE} FROM per_part)
"""


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: orders shipped late (>60 days after order date)
    during one year, with conditional counts of critical vs other
    priorities per line status (original buckets by l_shipmode /
    commit-vs-receipt lateness; neither column exists here)."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: how many distinct suppliers ship each (brand, type,
    size) combination, excluding one brand and a type pattern —
    COUNT(DISTINCT) over a join (supplier relationships come from
    lineitem instead of the absent partsupp). Distinct-aggregation
    expands to a two-phase plan (partial distinct on l_suppkey, then
    count) entirely map-side before the final groupBy shuffle."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#45") & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = t["lineitem"].select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY p_brand, p_type, p_size
"""


def q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers in NATION_4 who shipped more than 40
    units of some '%gear%' part during 1996 — a chain of semi-joins
    (part names → qualifying (supp, part) volumes → suppliers),
    mirroring the original's nested IN subqueries over partsupp."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_name").like("%gear%")).select("p_partkey")
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    nation = t["nation"].filter(F.col("n_name") == "NATION_4").select("n_nationkey")
    return (
        t["supplier"]
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_4')
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%gear%')
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 40)
"""


def q21_last_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers in NATION_6 who were the LAST to ship on a
    multi-supplier finished order — the original's EXISTS (another
    supplier on the order) + NOT EXISTS (another supplier shipped
    later) pair, expressed with per-order max/countDistinct computed
    in ONE pass over lineitem then joined back on l_orderkey
    (lineitem's natural key, so the self-join co-partitions; no
    per-row correlated probes)."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    # no broadcast hint on orders: status='F' keeps ~half the ORDERS
    # fact table — a hard-coded broadcast would ship it to every task
    # at 100 TB. Left to itself the semi join shuffles both sides on
    # the order key, the SAME key the window below partitions by, so
    # the exchange is reused; AQE still turns it into a broadcast at
    # test SF where the filtered side happens to be small.
    li = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    # per-order max/multi-supplier flag via window functions: ONE
    # lineitem scan and ONE shuffle (on l_orderkey) instead of a
    # groupBy + join-back that scans and shuffles twice. "≥2 distinct
    # suppliers" is min != max — O(1) window state, not a per-row
    # collect_set.
    w = Window.partitionBy("l_orderkey")
    annotated = li.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.max("l_shipdate").over(w).alias("max_ship"),
        (F.min("l_suppkey").over(w) != F.max("l_suppkey").over(w))
        .alias("multi_supp"),
    )
    nation = t["nation"].filter(F.col("n_name") == "NATION_6").select("n_nationkey")
    supp = (
        t["supplier"]
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        annotated.filter(F.col("multi_supp") & (F.col("l_shipdate") == F.col("max_ship")))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


Q21_ORACLE = """
WITH li AS (
    SELECT l_orderkey, l_suppkey, l_shipdate
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
), per_order AS (
    SELECT l_orderkey AS po_orderkey, max(l_shipdate) AS max_ship,
           count(DISTINCT l_suppkey) AS nsupp
    FROM li GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2
)
SELECT s_name, count(DISTINCT l_orderkey) AS numwait
FROM li
JOIN per_order ON l_orderkey = po_orderkey AND l_shipdate = max_ship
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation    ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_6'
GROUP BY s_name
"""

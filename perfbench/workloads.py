"""The benchmark's workloads: fixed op mixes driven in a closed loop by
one client against one long-lived local Spark session.

Each workload draws its inputs from the run's seed (``random.Random``):
the order of the ops in every pass and, for ``aql_server``, the /run
parameters. ``start`` serves the first request on the new session and
``WARM_OPS`` run after it, untimed; both belong to the set-up. Then
``run_op`` runs one op, and every op keeps what is needed to verify its
output; ``verify`` checks all recorded outputs against DuckDB twins over
the same parquet files, outside the timed window.
"""

from __future__ import annotations

import contextlib
import json
import os
import sqlite3
import sys
from datetime import datetime, timedelta

# -- AQL scripts sent through POST /run -------------------------------
#
# Money is summed as integer cents on both engines, so Spark and DuckDB
# agree to the last digit and the table hash can compare them exactly.

ROLLUP = """
QUERY 'StatusRollup' FROM GLOBAL (
    SELECT o_orderstatus AS status,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{{ .Since }}'
    GROUP BY o_orderstatus
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""

ROLLUP_TWIN = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Since}'
GROUP BY o_orderstatus
"""

LOOKUP_AGG = """
QUERY 'Custs' FROM GLOBAL (
    SELECT c_custkey, c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer
    WHERE c_acctbal >= {{ .MinBal }}
);

QUERY 'Nations' FROM GLOBAL (
    SELECT n_nationkey, n_name FROM nation
);

TRANSFORM 'Joined' FROM BLOCK Custs, BLOCK Nations (
    LOOKUP Custs.c_custkey, Custs.bal_cents, Nations.n_name
    FROM Custs
    INNER JOIN Nations ON Custs.c_nationkey = Nations.n_nationkey
);

TRANSFORM 'PerNation' FROM BLOCK Joined (
    AGGREGATE n_name, COUNT(1) AS n_custs, SUM(bal_cents) AS cents_sum
    GROUP BY n_name
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""

LOOKUP_AGG_TWIN = """
SELECT n_name,
       count(*) AS n_custs,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal >= {MinBal}
GROUP BY n_name
"""

DEDUP_AGG = """
QUERY 'Orders' FROM GLOBAL (
    SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
    FROM orders
    WHERE o_orderpriority = '{{ .Priority }}'
);

TRANSFORM 'Latest' FROM BLOCK Orders (
    DEDUP ON o_custkey KEEP LAST BY o_orderdate
);

TRANSFORM 'PerStatus' FROM BLOCK Latest (
    AGGREGATE o_orderstatus, COUNT(1) AS n_custs, SUM(o_orderkey) AS key_sum
    GROUP BY o_orderstatus
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""

DEDUP_AGG_TWIN = """
WITH ranked AS (
    SELECT o_orderkey, o_orderstatus,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC,
                        o_orderstatus DESC
           ) AS rn
    FROM orders
    WHERE o_orderpriority = '{Priority}'
)
SELECT o_orderstatus, count(*) AS n_custs, sum(o_orderkey) AS key_sum
FROM ranked WHERE rn = 1
GROUP BY o_orderstatus
"""

CONNECTION = """
CONNECTION 'Warehouse' (
    Driver = 'sqlite3',
    ConnectionString = '{db}'
)
"""

WRITE = """
EXEC 'Clear' FROM CONNECTION Warehouse (
    DELETE FROM cust_rollup;
)

QUERY 'PerCustomer' FROM GLOBAL (
    SELECT o_custkey AS custkey,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders
    GROUP BY o_custkey
) INTO CONNECTION Warehouse WITH (TABLE = 'cust_rollup') AFTER Clear
"""

CUST_ROLLUP_TWIN = """
SELECT o_custkey AS custkey,
       count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
FROM orders
GROUP BY o_custkey
"""

READ_BACK = """
QUERY 'Back' FROM CONNECTION Warehouse (
    SELECT n_orders, total_cents FROM cust_rollup
    WHERE n_orders >= {{ .MinOrders }}
);

TRANSFORM 'ByCount' FROM BLOCK Back (
    AGGREGATE n_orders, COUNT(1) AS n_custs, SUM(total_cents) AS cents_sum
    GROUP BY n_orders
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""

READ_BACK_TWIN = f"""
SELECT n_orders, count(*) AS n_custs, sum(total_cents) AS cents_sum
FROM ({CUST_ROLLUP_TWIN})
WHERE n_orders >= {{MinOrders}}
GROUP BY n_orders
"""

SCHEDULED = """
QUERY 'LineStatus' FROM GLOBAL (
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_lines,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
"""

SCHEDULED_TWIN = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def draw_params(rng) -> dict:
    """/run parameters for one run. Every draw selects rows at sf0.1:
    orders span 1995-01..2001-08, account balances reach 9999.8 and
    customers have up to 24 orders."""
    return {
        "Since": f"{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-01",
        "MinBal": rng.randint(-500, 8000),
        "Priority": rng.choice(PRIORITIES),
        "MinOrders": rng.randint(1, 15),
    }


def post_run(server, script: str, params: dict) -> list[str]:
    status, body = server.handle("POST", "/run",
                                 {"script": script, "params": params})
    if status != 200 or not body.get("success"):
        raise RuntimeError(f"/run failed: {status} {body.get('error')}")
    return body["output"]


def console_rows(text: str) -> tuple[list[str], list[tuple]]:
    data = json.loads(text)
    cols = list(data[0]) if data else []
    return cols, [tuple(d[c] for c in cols) for d in data]


class AqlServer:
    """POST /run traffic against one AnalystServer: three lake reads to
    the console, one write to a sqlite3 connection, one read-back from
    it, and one scheduled task fired by ``tick`` on a simulated clock."""

    OPS = ("rollup", "lookup_agg", "dedup_agg", "write", "read_back", "tick")
    JVM_OPTS = ()  # the default tiered JIT: passes settle after the first
    WARM_OPS = OPS  # write before read_back: the table starts empty

    def __init__(self, run_dir: str, sf_dir: str, params: dict, tracer):
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.params = params
        self.tracer = tracer
        self.server = None
        self.db = os.path.join(run_dir, "warehouse.db")
        with contextlib.closing(sqlite3.connect(self.db)) as c:
            c.execute("CREATE TABLE cust_rollup "
                      "(custkey INTEGER, n_orders INTEGER, total_cents INTEGER)")
        conn = CONNECTION.format(db=self.db)
        self.scripts = {
            "rollup": ROLLUP, "lookup_agg": LOOKUP_AGG,
            "dedup_agg": DEDUP_AGG, "write": conn + WRITE,
            "read_back": conn + READ_BACK,
        }
        self.task_file = os.path.join(run_dir, "line_status.aql")
        with open(self.task_file, "w") as f:
            f.write(SCHEDULED)
        self.outputs: dict[str, list[str]] = {op: [] for op in self.OPS}

    def start(self, spark) -> None:
        """The set-up's first request: a fresh server on the new session
        answers its first POST /run."""
        from analyst_spark.server import AnalystServer, spark_script_runner

        runner = self.tracer.wrap_fn(
            spark_script_runner(spark, self.sf_dir), "server.runner")
        self.server = AnalystServer(
            script_runner=runner,
            db_path=os.path.join(self.run_dir, "server.db"))
        self.outputs["rollup"] += post_run(self.server, ROLLUP, self.params)
        # The server's clock is simulated: every tick moves it one
        # period on, so the hourly task is due exactly once per tick.
        self.now = datetime(2026, 1, 1)
        self.server.clock = lambda: self.now
        self.server.scheduler.clock = self.server.clock
        status, _ = self.server.handle("POST", "/tasks", {
            "name": "line_status", "schedule": "@every 1h",
            "command": self.task_file, "coalesce": True})
        if status != 201:
            raise RuntimeError(f"task creation failed: {status}")

    def run_op(self, op: str) -> None:
        if op == "tick":
            self.now += timedelta(hours=1, seconds=1)
            n = len(self.server.scheduler.invocations)
            self.server.tick(self.now)
            new = self.server.scheduler.invocations[n:]
            if len(new) != 1 or not new[0].success:
                raise RuntimeError(f"scheduled task did not succeed: {new}")
            self.outputs[op].append(new[0].log)
            return
        out = post_run(self.server, self.scripts[op], self.params)
        if op != "write":
            if len(out) != 1:
                raise RuntimeError(f"{op}: {len(out)} console outputs")
            self.outputs[op].append(out[0])
        else:
            self.outputs[op].append("")

    def verify(self, oracle) -> list[str]:
        """One problem string per op whose output is wrong."""
        p = self.params
        twins = {
            "rollup": ROLLUP_TWIN.format(Since=p["Since"]),
            "lookup_agg": LOOKUP_AGG_TWIN.format(MinBal=p["MinBal"]),
            "dedup_agg": DEDUP_AGG_TWIN.format(Priority=p["Priority"]),
            "read_back": READ_BACK_TWIN.format(MinOrders=p["MinOrders"]),
            "tick": SCHEDULED_TWIN,
        }
        problems = []
        for op, sql in twins.items():
            want = oracle.table(sql)
            for i, text in enumerate(self.outputs[op]):
                got = oracle.hash_rows(*console_rows(text))
                if got != want:
                    problems.append(f"{op}[{i}]: {got} != duckdb {want}")
        with contextlib.closing(sqlite3.connect(self.db)) as c:
            cur = c.execute("SELECT custkey, n_orders, total_cents "
                            "FROM cust_rollup")
            cols = [d[0] for d in cur.description]
            got = oracle.hash_rows(cols, cur.fetchall())
        want = oracle.table(CUST_ROLLUP_TWIN)
        if got != want:
            problems.extend(f"write[{i}]: sqlite table {got} != duckdb {want}"
                            for i in range(len(self.outputs["write"])))
        return problems


class Lifecycle:
    """An incremental-ingest catalog entry run as ``QUERIES[e](spark,
    sf)`` then ``bench.force``: a new embedding batch probed against the
    maintained history, the one-day member of the multi-day lifecycle
    entries. Eager persist and count fills run while it is built."""

    OPS = ("dedup_incremental_embedding",)
    # C1 only. Under the default tiered JIT, C2 keeps compiling through
    # ~25 s of builds, and builds get ~20% faster in one step that falls
    # anywhere from the 5th to the 17th build, so a run's median would
    # depend on where the step falls. With C1 alone builds are flat from the
    # second on. /run latency is not: it is ~30% slower under C1 and
    # still falling after four passes, so aql_server keeps the default.
    JVM_OPTS = ("-XX:TieredStopAtLevel=1",)
    # The cold build takes ~5x a warm one (~10 s against ~1.9 s) and the
    # next two ~1.2x and ~1.1x, so the set-up runs four builds.
    WARM_OPS = OPS * 3

    def __init__(self, sf_dir: str, tracer):
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.spark = None

    def start(self, spark) -> None:
        """The session's first request: the entry built and forced."""
        self.spark = spark
        self.run_op(self.OPS[0])

    def run_op(self, e: str) -> None:
        import bench
        from analyst_spark.plans.catalog import QUERIES

        with self.tracer.span("plans.construct", entry=e):
            df = QUERIES[e](self.spark, self.sf_dir)
        with self.tracer.span("spark.execute", entry=e):
            bench.force(df)

    def verify(self, oracle) -> list[str]:
        """Builds the entry once more on the long-lived session, after
        the window and the persisted RDDs it left behind, and checks the
        collected rows against the entry's DuckDB twin."""
        from analyst_spark.functions.dedup import release_cached
        from analyst_spark.plans.catalog import ORACLES, QUERIES

        e = self.OPS[0]
        try:
            df = QUERIES[e](self.spark, self.sf_dir)
            cols, rows = df.columns, df.collect()
            release_cached(df)
        except Exception as exc:
            return [f"{e} final build: {type(exc).__name__}: {exc}"]
        got = oracle.hash_rows(cols, rows)
        want = oracle.table(ORACLES[e])
        return [] if got == want else [f"{e}: {got} != duckdb {want}"]


class Oracle:
    """DuckDB over the benchmark's parquet files, hashing results with
    the catalog gate's own ``table_hash``."""

    def __init__(self, sf_dir: str, tools_dir: str):
        import duckdb

        sys.path.insert(0, tools_dir)
        from verify_local import TABLES, table_hash

        self.table_hash = table_hash
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(sf_dir, t)}.parquet'")

    def hash_rows(self, cols, rows) -> tuple:
        """(sorted lower-case columns, row count, value hash); a result
        without rows never matches, so a 0-row twin cannot pass."""
        cols = [c.lower() for c in cols]
        return (sorted(cols), len(rows),
                self.table_hash(cols, [tuple(r) for r in rows]) if rows
                else "no rows")

    def table(self, sql: str) -> tuple:
        rel = self.con.sql(sql)
        want = self.hash_rows(rel.columns, rel.fetchall())
        if want[1] == 0:
            raise RuntimeError(f"duckdb twin returned no rows: {sql}")
        return want

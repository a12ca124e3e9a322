"""Per-session reuse of lake-table schemas (tables._read_parquet).

register_views runs before every server /run and scheduler tick; after
the first call on a session it must launch no Spark job, return the
same schemas as a fresh read, notice a rewritten file, keep inferring
directory tables, and still re-create every view so a script that
shadowed a lake view name cannot leak it into the next run.
"""

from __future__ import annotations

import json
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from analyst_spark.server import AnalystServer, spark_script_runner
from analyst_spark.tables import TABLE_NAMES, load_tables, register_views
from tests.conftest import SF_DIR


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    ids: list[int] = []
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_second_register_views_launches_no_jobs(spark):
    register_views(spark, SF_DIR)
    with _jobs(spark) as jobs:
        tables = register_views(spark, SF_DIR)
        cached = {n: tables[n].schema for n in TABLE_NAMES}
    assert jobs == []

    # a new session owns no cached schemas: it infers again
    fresh_session = spark.newSession()
    with _jobs(spark) as jobs:
        fresh = load_tables(fresh_session, SF_DIR)
        inferred = {n: fresh[n].schema for n in TABLE_NAMES}
    assert len(jobs) >= len(TABLE_NAMES)
    assert cached == inferred
    assert {n: tables[n].dtypes for n in TABLE_NAMES} == {
        n: fresh[n].dtypes for n in TABLE_NAMES
    }
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, r_regionkey=[0, 1], r_name=["A", "B"])
    assert load_tables(spark, str(tmp_path))["region"].columns == [
        "r_regionkey", "r_name",
    ]
    assert load_tables(spark, str(tmp_path))["region"].count() == 2

    _write(path, r_regionkey=[0, 1, 2], r_name=["A", "B", "C"],
           r_comment=["x", "y", "z"])
    df = load_tables(spark, str(tmp_path))["region"]
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_directory_table_is_inferred_on_every_read(spark, tmp_path):
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    _write(table_dir / "part-0.parquet", r_regionkey=[0], r_name=["A"])
    load_tables(spark, str(tmp_path))["region"].columns

    with _jobs(spark) as jobs:
        load_tables(spark, str(tmp_path))["region"].columns
    assert jobs, "a directory table must be inferred on every read"

    # a new file with a wider schema: the directory's own stamp is not
    # what identifies its contents, so nothing may be reused
    _write(table_dir / "part-0.parquet", r_regionkey=[0], r_name=["A"],
           r_comment=["x"])
    assert load_tables(spark, str(tmp_path))["region"].columns == [
        "r_regionkey", "r_name", "r_comment",
    ]


def _console_rows(out):
    assert out["success"], out
    return [row for line in out["output"] for row in json.loads(line)]


def test_shadowed_lake_view_is_restored_on_next_run(spark, tmp_path):
    srv = AnalystServer(
        script_runner=spark_script_runner(spark, SF_DIR),
        db_path=str(tmp_path / "analyst.db"),
    )
    lake_orders = load_tables(spark, SF_DIR)["orders"].count()
    assert lake_orders > 1

    shadow = """
    QUERY 'Fake' FROM GLOBAL (
        SELECT 1 AS o_orderkey, 'SHADOW' AS o_orderstatus
    );
    QUERY 'Shadowed' FROM BLOCK Fake AS orders (
        SELECT count(*) AS n, max(o_orderstatus) AS status FROM orders
    ) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
    """
    status, out = srv.handle("POST", "/run", {"script": shadow})
    assert status == 200
    assert _console_rows(out) == [{"n": 1, "status": "SHADOW"}]

    read_lake = """
    QUERY 'Lake' FROM GLOBAL (
        SELECT count(*) AS n FROM orders
    ) INTO CONSOLE WITH (OUTPUT_FORMAT = 'JSON')
    """
    status, out = srv.handle("POST", "/run", {"script": read_lake})
    assert status == 200
    assert _console_rows(out) == [{"n": lake_orders}]

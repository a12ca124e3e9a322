"""Load the driver-provided synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

At 100 TB these would be partitioned parquet/iceberg datasets; the
loader keeps the access pattern identical (``spark.read.parquet`` on a
path prefix) so the only change at scale is the path and partition
layout. All query code selects/filters through Catalyst so partition
pruning and predicate pushdown apply unchanged.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Repartition to the session's default shuffle parallelism.

    The driver testdata ships one unsplittable row-group per table, so
    every scan starts single-partition; any CPU-heavy per-row pipeline
    (md5 shingling, simhash bit-sums, vector math) must fan out first
    or it runs on one core. At 100 TB inputs arrive well-partitioned
    and this becomes a cheap no-op-ish balance step before heavy
    per-row compute — the standard skew guard, keyed by ``by`` to keep
    downstream groupBys co-partitioned.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # Note: no df.rdd.getNumPartitions() probe — converting the plan to
    # an RDD costs ~1s per call in Spark 4. The repartition itself is a
    # narrow-input shuffle AQE right-sizes, so just always insert it.
    return df.repartition(n, *by) if by else df.repartition(n)


def _ensure_read_confs(spark: SparkSession) -> None:
    """Normalize the SQL confs the loader's timestamp handling depends
    on. session.py sets all three at session setup; this exists because
    the external driver calls the contract with its OWN plain session.
    The NTZ->TIMESTAMP casts below are wall-clock-correct only under a
    UTC session — a non-UTC timezone would silently shift event
    timestamps against the DuckDB oracle, so it is forced (not merely
    asserted) here. Deliberate, idempotent, documented — not a hidden
    per-read side effect: the engine requires these on any session that
    reads its tables.

    - inferTimestampNTZ off: NTZ rejects half the timestamp expression
      surface (unix_micros, unix_timestamp, ...)
    - nanosAsLong: some testdata generators emit TIMESTAMP(NANOS),
      which the vectorized parquet reader rejects
    """
    if spark.conf.get("spark.sql.session.timeZone") not in (
        "UTC", "Etc/UTC", "GMT",
    ):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# SparkSession -> {path: ((st_ino, st_mtime_ns, st_size), schema)}.
# Weakly keyed, so the schemas live and die with the session that
# inferred them; a new or plain session infers again.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _file_stamp(path: str) -> tuple | None:
    """Identity of a regular file, or None for a directory or a path
    that is not there (those are never cached)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema this session
    already inferred for the same, unchanged file.

    Inference merges the parquet footers in a Spark job; with the
    schema supplied the relation resolves on the driver alone. Only a
    single regular file is cached: a directory (a partitioned dataset
    at scale) can gain files without its own stamp changing, so it is
    inferred on every read.

    The stamp is taken before the read, so a file rewritten mid-read is
    stored under its old stamp and inferred again next time. Two runs
    that miss at once both infer and store the same schema.
    """
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[path] = (stamp, df.schema)
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    _ensure_read_confs(spark)
    df = _read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns-epoch values exceed 2^53, so a
        # float divide rounds some timestamps off by 1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # belt-and-braces: if NTZ still slipped through (conf captured by an
    # earlier cached plan, or a future Spark ignores it), cast in-plan.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


class _LazyTables(dict):
    """Read each table only when a plan actually touches it.

    The first read of a table file in a session infers its schema from
    the parquet footer (one Spark job); later reads in the same session
    reuse that schema while the file's (path, inode, mtime_ns, size) is
    unchanged (``_read_parquet``). Each read still builds a new
    DataFrame: only the schema is shared, so no caller sees another's
    DataFrame attributes or a stale file listing.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self:
            if name not in TABLE_NAMES:
                raise KeyError(name)
            self[name] = _read(self._spark, self._sf_dir, name)
        return super().__getitem__(name)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return _LazyTables(spark, sf_dir or DEFAULT_SF_DIR)


def register_views(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` works on it.

    This is the Spark-native analog of the reference's "stage anything
    into SQLite then query it" path (engine/auto_sql_transform.go:21-30)
    — except distributed, lazy, and optimizer-visible.

    The server and scheduler call this before every run. After the
    first call on a session it launches no Spark job: each table's
    schema is reused from the session's schema cache (keyed by the
    file's path, inode, mtime_ns and size; directories are inferred on
    every read). The views themselves are re-created on every call: a
    script can rebind a lake view name through a ``QUERY ... FROM
    BLOCK b AS orders`` autosql body, and the next run must read the
    lake table again, not that block.
    """
    tables = load_tables(spark, sf_dir)
    for name in TABLE_NAMES:
        tables[name].createOrReplaceTempView(name)
    return tables


# |value| bound for the exact-integer-cents surrogate: cents =
# round(value*100) must stay well inside BIGINT and the float-exact
# integer range. 9e13 (cents ≤ 9e15 < 2^53) is far beyond any
# currency-like measurement; values outside it are data-quality
# rejects, not measurements.
CENTS_DOMAIN_MAX = 9e13


def cents_of(col) -> "F.Column":
    """Exact integer-cents surrogate of a 2-decimal double column —
    the order-free summation device the events family aggregates on.

    Values outside ``CENTS_DOMAIN_MAX`` map to NULL (excluded from
    sums/averages exactly like SQL NULL measurements) instead of
    killing the whole job: under ANSI arithmetic a single 1e18
    outlier crashed five operators with CAST_OVERFLOW in the r7
    extreme-value probe, and at 100 TB one poison row must never
    abort a scan. The DuckDB oracles guard with the same predicate.
    """
    v = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.abs(v) <= F.lit(CENTS_DOMAIN_MAX), F.round(v * 100).cast("long")
    )

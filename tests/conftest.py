import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# get_spark asks for a 32g JVM heap; the whole suite shares one JVM,
# which grows toward that cap and is killed mid-suite on a 15 GB host.
# The test corpora are KB-sized: cap the heap at launch (the submit
# argument wins over the memory setting get_spark configures).
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 4g pyspark-shell"
)

from analyst_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("analyst_spark_tests", cpus="8")
    # Test corpora are KB-sized: 4 shuffle partitions instead of 8
    # halves the per-exchange task count, which is pure scheduler
    # latency at this scale (VERDICT r14 #6 — the suite must fit the
    # driver's verify window). Runtime-settable conf; values are
    # partitioning-independent by the determinism contract, and the
    # explicit-partitioning assertions (JDBC, paged datasource) set
    # their own counts.
    s.conf.set("spark.sql.shuffle.partitions", "4")
    return s


SF_DIR = "/root/testdata/sf0.001"


# Shared near-dup text fixture (r12 review: it had been copy-pasted
# between the incremental-lifecycle and advice suites): 36 distinct
# tokens, long enough that dropping the first token leaves a heavily
# overlapping shingle set.
NEARDUP_LONG_A = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))


def drop_first_token(text: str) -> str:
    return text.split(" ", 1)[1]


def persistent_rdds(spark) -> dict:
    """{RDD id: storage level} of every RDD the session holds
    persisted — caches and local checkpoints alike."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): rdds[k].getStorageLevel() for k in rdds}

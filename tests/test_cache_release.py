"""``release_cached`` ends every query with no persisted RDD left.

The catalog runs in long-lived sessions (bench, the AQL server, the
scheduler), so a cache or local checkpoint an entry leaves behind
stays pinned for the life of the session. These are the entries that
persist or checkpoint intermediates across days, clusters and
projections; each is built and forced exactly as the bench does, in
one session, and must release every RDD it added. Ids are compared,
not counts: the ContextCleaner may drop older RDDs meanwhile.
"""

import pytest

from analyst_spark.plans.catalog import QUERIES
from tests.conftest import SF_DIR, persistent_rdds

ENTRIES = [
    "dedup_incremental_embedding_multiday",
    "multimodal_incremental_multiday",
    "dedup_incremental_clusters",
    "dedup_incremental_multiday",
    "docs_split_leakage",
    "dedup_pipeline_e2e",
    "dedup_embedding",
    "dedup_clusters",
    "dedup_cluster_quality_rep",
    "dedup_incremental_embedding",
]


@pytest.mark.parametrize("entry", ENTRIES)
def test_entry_leaves_no_persisted_rdd(spark, entry):
    import bench

    before = persistent_rdds(spark)
    df = QUERIES[entry](spark, SF_DIR)
    bench.force(df)
    left = persistent_rdds(spark).keys() - before.keys()
    assert not left, f"{entry} left persisted RDDs {sorted(left)}"


def test_release_through_projection(spark):
    """A projection of the result releases the intermediates built for
    it — release covers the session, not an attribute of one frame."""
    from analyst_spark.functions.dedup import lsh_verified_pairs, release_cached

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap here"),
        ],
        ["doc_id", "text"],
    )
    before = persistent_rdds(spark)
    out = lsh_verified_pairs(df, collapse_exact=False)
    ids = out.select("id_a")
    assert [r.id_a for r in ids.collect()] == [1]
    held = persistent_rdds(spark).keys() - before.keys()
    assert held, "the shingle and bucket tables are persisted"
    release_cached(ids)
    assert not held & persistent_rdds(spark).keys()

"""Dedup strategy tests on planted duplicates."""

from pyspark.sql import functions as F

from analyst_spark.functions.dedup import (
    exact_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    shingle_tokens,
    simhash_signatures,
)
from tests.conftest import persistent_rdds

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different content about spark query engines at scale"


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, "  the quick brown fox jumps over the lazy dog again and again today "),
        (3, NEAR),                      # near dup of 0
        (4, OTHER),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark)).select("doc_id").collect()
    ids = sorted(r.doc_id for r in out)
    # 1 and 2 (whitespace-normalized) collapse into 0
    assert ids == [0, 3, 4]


def test_exact_dedup_fast_path(spark):
    out = exact_dedup(_docs(spark), fast=True).select("doc_id").collect()
    assert sorted(r.doc_id for r in out) == [0, 3, 4]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    out = df.select(shingle_tokens("text", 3).alias("sh")).collect()
    assert out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == []  # shorter than n -> empty, not garbage


def test_minhash_finds_near_dups(spark):
    pairs = minhash_pairs(_docs(spark), bands=4, rows_per_band=2).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact dups share every band
    assert (0, 1) in found and (0, 2) in found
    by_pair = {(r.id_a, r.id_b): r.n_bands for r in pairs}
    assert by_pair[(0, 1)] == 4
    # unrelated doc never pairs with anything
    assert not any(4 in p for p in found)


def test_simhash_identical_docs_same_signature(spark):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    # near-dup within small hamming distance
    ham = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham <= 8
    assert sigs[0] != sigs[4]


def test_ngram_jaccard_values(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.2).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical shingle sets
    assert 0.5 < pairs[(0, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)


def test_connected_components_chain_and_islands(spark):
    from analyst_spark.functions.cluster import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3, needs multiple rounds) + island 8-9
        [(1, 2), (2, 3), (3, 4), (8, 9)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_connected_components_non_integral_ids(spark):
    # ADVICE r14: the label-sum convergence shortcut is only sound for
    # integral ids (string labels cast to NULL and fractional labels
    # round under decimal(38,0)); non-integral node columns must take
    # the join-based check and still return correct components.
    from analyst_spark.functions.cluster import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    frac = spark.createDataFrame(
        # 2.4 vs 2.0: a decimal(38,0) cast would see no sum change
        [(2.4, 3.5), (2.0, 2.4)], "id_a double, id_b double"
    )
    got_f = {
        r.node: r.component for r in connected_components(frac).collect()
    }
    assert got_f == {2.0: 2.0, 2.4: 2.0, 3.5: 2.0}


def test_release_cached_unpersists_intermediates(spark):
    from analyst_spark.functions.dedup import minhash_pairs, release_cached

    before = persistent_rdds(spark)
    out = minhash_pairs(_docs(spark))
    out.collect()
    held = {k: v for k, v in persistent_rdds(spark).items() if k not in before}
    assert held and all(level.useMemory() for level in held.values())
    release_cached(out)
    assert not held.keys() & persistent_rdds(spark).keys()


def test_exact_dedup_single_shuffle(spark):
    """min_by formulation: exactly one exchange (keyed on the
    fingerprint), no join-back, no persist."""
    import contextlib, io

    df = exact_dedup(_docs(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re

    # formatted output lists each node twice (tree + details); count
    # actual Exchange nodes: the spread() repartition + the min_by agg
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Join" not in plan
    assert "InMemoryRelation" not in plan


def test_minhash_arbitrary_signature_width(spark):
    """The universal-hash family generates coefficients on demand —
    signature widths beyond the old 64-entry table work."""
    from analyst_spark.functions.dedup import MINHASH_A, MINHASH_B, minhash_signatures

    assert MINHASH_A[100] % 2 == 1 and 0 <= MINHASH_B[100] < (1 << 30)
    df = spark.createDataFrame(
        [(0, "w1 w2 w3 w4 w5"), (1, "w1 w2 w3 w4 w5 w6")], ["doc_id", "text"]
    )
    sigs = minhash_signatures(df, num_hashes=80).collect()
    assert len(sigs) == 2 and len(sigs[0]) == 81  # doc_id + 80 hashes


def test_lsh_verified_composes_candidates_and_exact_jaccard(spark):
    """dedup_lsh_verified = exact-jaccard restricted to LSH
    candidates: every output pair must be an LSH candidate AND carry
    the exact ngram_jaccard value; planted exact/near dups survive,
    the unrelated doc never appears."""
    from analyst_spark.functions.dedup import lsh_verified_pairs, release_cached

    docs = _docs(spark)
    out = lsh_verified_pairs(docs, threshold=0.2, bands=4, rows_per_band=2)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    release_cached(out)
    cand = minhash_pairs(docs, bands=4, rows_per_band=2)
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    from analyst_spark.functions.dedup import release_cached as _rc
    _rc(cand)
    exact = ngram_jaccard_pairs(docs, threshold=0.2)
    exact_pairs = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    _rc(exact)
    # chain output == exact jaccard restricted to the candidate list
    assert got == {p: j for p, j in exact_pairs.items() if p in cand_pairs}
    # exact duplicates collide in every band and survive verification
    assert got[(0, 1)] == 1.0 and got[(0, 2)] == 1.0
    assert not any(4 in p for p in got)


def test_lsh_verified_collapse_exact_equals_uncollapsed(spark):
    """r7 hardening: the exact-fingerprint collapse pre-step must not
    change the output pair set — byte-identical groups (including
    shingle-less short texts, which must NOT pair), near-dups across
    groups, and singletons all compared against collapse_exact=False."""
    from analyst_spark.functions.dedup import lsh_verified_pairs, release_cached

    rows = [
        # exact group A (3 members, shingled)
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        # near-dup of group A (one word changed)
        (3, "the quick brown fox leaps over the lazy dog"),
        # exact group B (2 members) near group A? no — distinct topic
        (4, "spark catalyst optimizer rewrites logical plans fast"),
        (5, "spark catalyst optimizer rewrites logical plans fast"),
        # shingle-less exact group (2 tokens < n=3): must never pair
        (6, "too short"),
        (7, "too short"),
        # singleton
        (8, "completely unrelated text about marine biology and reefs"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.2, bands=4, rows_per_band=2)
    out_c = lsh_verified_pairs(docs, collapse_exact=True, **kw)
    got_c = {(r.id_a, r.id_b): r.jaccard for r in out_c.collect()}
    release_cached(out_c)
    out_u = lsh_verified_pairs(docs, collapse_exact=False, **kw)
    got_u = {(r.id_a, r.id_b): r.jaccard for r in out_u.collect()}
    release_cached(out_u)
    assert got_c == got_u
    # intra-group pairs all present at 1.0
    for p in [(0, 1), (0, 2), (1, 2), (4, 5)]:
        assert got_c[p] == 1.0
    # shingle-less identical docs never pair
    assert (6, 7) not in got_c


def test_lsh_bucket_cap_bounds_storm_with_accounting(spark):
    """r8 (VERDICT r7 #4): the opt-in max_bucket_size cap skips
    oversized LSH buckets, reports the dropped candidate count, and
    leaves results untouched when no bucket exceeds the cap."""
    from analyst_spark.functions.dedup import lsh_verified_pairs, release_cached

    # a near-clone storm: 12 docs, all near-identical (one trailing
    # word varies) -> they share band buckets of size ~12
    base = "the quick brown fox jumps over the lazy dog variant"
    storm = [(i, f"{base} {i % 3}") for i in range(12)]
    # plus an unrelated tight pair that lives in its own small bucket
    storm += [
        (100, "spark catalyst optimizer rewrites logical query plans"),
        (101, "spark catalyst optimizer rewrites logical query plans"),
    ]
    docs = spark.createDataFrame(storm, ["doc_id", "text"])
    kw = dict(threshold=0.2, bands=4, rows_per_band=2, collapse_exact=False)

    uncapped = lsh_verified_pairs(docs, **kw)
    full = {(r.id_a, r.id_b) for r in uncapped.collect()}
    release_cached(uncapped)
    assert not hasattr(uncapped, "_asp_dropped_buckets")

    capped = lsh_verified_pairs(docs, max_bucket_size=6, **kw)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    dropped = capped._asp_dropped_buckets.collect()
    release_cached(capped)
    # the storm bucket(s) were skipped: fewer pairs, and the small
    # bucket's pair survives untouched
    assert got < full
    assert (100, 101) in got
    # accounting: every dropped bucket reports its C(bsz, 2) pairs
    assert dropped and all(
        r.bsz > 6 and r.dropped_pairs == r.bsz * (r.bsz - 1) // 2
        for r in dropped
    )

    # a cap nothing exceeds changes nothing (pure accounting path)
    loose = lsh_verified_pairs(docs, max_bucket_size=1000, **kw)
    assert {(r.id_a, r.id_b) for r in loose.collect()} == full
    assert loose._asp_dropped_buckets.count() == 0
    release_cached(loose)


def test_lsh_bucket_cap_through_collapse_path(spark):
    """The cap threads through the exact-collapse pre-step: dropped
    accounting is propagated from the representative-level chain."""
    from analyst_spark.functions.dedup import lsh_verified_pairs, release_cached

    # >5% byte-identical so the collapse engages, plus a near-clone
    # storm among the representatives
    rows = [(i, "byte identical clone text for the collapse group") for i in range(10)]
    rows += [(50 + i, f"near clone storm document trailing {i % 2}") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = lsh_verified_pairs(
        docs, threshold=0.2, bands=4, rows_per_band=2,
        collapse_exact=True, max_bucket_size=3,
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert hasattr(out, "_asp_dropped_buckets")
    # the exact clone group still expands fully (collapse handles it;
    # the cap only bounds representative-level candidates)
    assert (0, 1) in pairs and (0, 9) in pairs
    release_cached(out)

"""Round-10 advisor items (ADVICE.md after round 9), each pinned:

1. (medium) quote_ident's pre-quoted escape hatch validates that the
   segment parses as ONE well-formed quoted identifier (interior
   quotes strictly doubled, closing quote final); anything malformed
   — including the injection shape '"a"; DROP TABLE t; --"' — falls
   back to full quoting with doubling.
2. (low) quote_ident raises ValueError when an unterminated quote
   swallowed a '.' separator (silent segmentation change); a lone
   odd quote without a dot keeps the pre-r9 safe-doubling behavior.
3. (low) jaccard_prefix_pairs persists + materializes the prefix
   frame before the self-join (real statistics; computed once, not
   once per join side) and release_cached releases it.
"""

import pytest

from analyst_spark.sources.pgwire import quote_ident
from tests.conftest import persistent_rdds


class TestQuoteIdentHardening:
    def test_injection_shape_is_requoted_not_passed_through(self):
        evil = '"a"; DROP TABLE t; --"'
        out = quote_ident(evil)
        # must NOT appear verbatim: the interior lone quote gets doubled
        assert out != evil
        assert out == '"' + evil.replace('"', '""') + '"'
        # the doubled form round-trips as a single identifier: no
        # unescaped quote ends the identifier mid-string
        assert out[1:-1].replace('""', "") .count('"') == 0

    def test_wellformed_prequoted_still_verbatim(self):
        assert quote_ident('"MyTable"') == '"MyTable"'
        assert quote_ident('"My""Quoted"') == '"My""Quoted"'
        assert quote_ident('"My.Table"') == '"My.Table"'
        assert quote_ident('s."My.Table"') == 's."My.Table"'

    def test_lone_interior_quote_in_prequoted_requotes(self):
        # starts and ends with '"' but body has an UNdoubled quote
        bad = '"a"b"'
        assert quote_ident(bad) == '"""a""b"""'

    def test_empty_quoted_pair_requotes(self):
        # '""' is not a valid identifier (empty body)
        assert quote_ident('""') == '""""""'

    def test_unterminated_quote_swallowing_dot_raises(self):
        with pytest.raises(ValueError, match="unterminated"):
            quote_ident('a"b.c')

    def test_lone_odd_quote_without_dot_keeps_safe_doubling(self):
        # pre-r9 behavior preserved: only one possible segmentation
        assert quote_ident('we"ird') == '"we""ird"'

    def test_dot_before_unterminated_quote_still_splits(self):
        # the dot is OUTSIDE the quote; the trailing odd-quote
        # segment has one segmentation and is safely doubled
        assert quote_ident('a.b"c') == 'a."b""c"'


class TestPairBuilderLaziness:
    def test_prefix_frame_is_cached_dep(self, spark):
        from analyst_spark.functions.dedup import (
            jaccard_prefix_pairs,
            release_cached,
        )

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different text with no overlap here"),
            ],
            ["doc_id", "text"],
        )
        before = persistent_rdds(spark)
        out = jaccard_prefix_pairs(df, "text", "doc_id", n=3)
        # both fills ran at construction: shingles AND prefix are held
        held = {
            k: v for k, v in persistent_rdds(spark).items() if k not in before
        }
        assert len(held) == 2, "shingles AND prefix must be cached"
        assert all(level.useMemory() for level in held.values())
        rows = out.collect()
        assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
        release_cached(out)
        assert not held.keys() & persistent_rdds(spark).keys()


class TestContainmentCap:
    def test_max_posting_df_bounds_and_accounts(self, spark):
        from analyst_spark.functions.dedup import (
            containment_pairs,
            release_cached,
        )

        # doc 1 contained in doc 2 via RARE shingles; docs 3..8 are
        # IDENTICAL near-clones, so their prefixes are hot shingles
        # and the cap removes real candidate work (r11: the corrected
        # accounting counts prefix×postings rows actually removed, so
        # the storm must reach the prefixes, not just the postings)
        hot = "common boiler plate text here"
        rows = [
            (1, "rare alpha beta gamma delta"),
            (2, "rare alpha beta gamma delta extra tail words"),
        ] + [(i, hot + " a b") for i in range(3, 9)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])

        uncapped = containment_pairs(df, threshold_num=4, threshold_den=5)
        capped = containment_pairs(
            df, threshold_num=4, threshold_den=5, max_posting_df=2
        )
        # the rare-shingle pair survives the cap (its df is 2)
        got = {
            (r.id_contained, r.id_container) for r in capped.collect()
        }
        assert (1, 2) in got
        # dropped-work accounting present and non-trivial: the hot
        # shingles appear in 6 documents (df=6 > cap)
        acct = capped._asp_dropped_postings.collect()
        assert acct, "cap must report dropped postings"
        assert all(r.df > 2 for r in acct)
        # r11 tightened the accounting to prefix_occ × (df − 1)
        # (exact removed-candidate rows); the old df·(df−1) figure is
        # now a strict upper bound — exact formula pinned in
        # tests/test_advice_r11.py
        assert all(0 < r.dropped_rows <= r.df * (r.df - 1) for r in acct)
        release_cached(uncapped)
        release_cached(capped)

    def test_default_none_is_exact_and_unannotated(self, spark):
        from analyst_spark.functions.dedup import (
            containment_pairs,
            release_cached,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e f g")],
            ["doc_id", "text"],
        )
        out = containment_pairs(df)
        assert not hasattr(out, "_asp_dropped_postings")
        assert out.count() >= 1
        release_cached(out)

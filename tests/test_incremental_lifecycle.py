"""Shared incremental-ingest lifecycle (VERDICT r11 #7/#2):
functions/incremental.py — one implementation of probe/append/ledger
semantics behind the text, perceptual, and embedding ingests, plus
the storage-backed state API (save_state/load_state) whose absence
the r11 multiday probe measured at 421s/day by day 6 when state
chained through cached lineage instead.

Contracts pinned here:
* each family's ingest finds cross pairs (batch vs history), intra
  pairs (same day, earlier id = history role), and nothing for
  unrelated items;
* a REPLAYED day is a full no-op: no pairs, index row set unchanged
  (no double-insert), ledger key set unchanged;
* save_state -> load_state -> ingest is row-identical to running the
  same ingest on the in-memory state (the storage backing changes
  lineage, never results);
* an empty ledger round-trips storage so day 0 saves uniformly.
"""

import shutil

import pytest

from analyst_spark.functions.dedup import (
    incremental_neardup_ingest,
    neardup_signature_index,
    release_cached,
)
from analyst_spark.functions.incremental import (
    empty_ledger,
    load_state,
    save_state,
)

from tests.conftest import NEARDUP_LONG_A as LONG_A
from tests.conftest import drop_first_token as _drop_first


class TestPerceptualIngest:
    def _frames(self, spark):
        idx = spark.createDataFrame(
            [(1, 7, 7, 7, 7), (2, 100, 200, 300, 400)],
            ["doc_id", "b0", "b1", "b2", "b3"],
        )
        batch = spark.createDataFrame(
            [
                (100, 7, 7, 7, 6),        # hamming 1 from hist 1
                (105, 100, 200, 300, 400),  # exact copy of hist 2
                (106, 100, 200, 300, 401),  # hamming 1 from 2 AND 105
                (107, 9999, 8888, 7777, 6666),  # unrelated
            ],
            ["doc_id", "b0", "b1", "b2", "b3"],
        )
        return idx, batch

    def test_cross_intra_and_replay(self, spark):
        from analyst_spark.functions.multimodal import (
            incremental_hamming_ingest,
        )

        idx, batch = self._frames(spark)
        p, i1, r1 = incremental_hamming_ingest(idx, batch, None)
        got = sorted((r.id_batch, r.id_hist, r.hamming) for r in p.collect())
        assert got == [
            (100, 1, 1),
            (105, 2, 0),
            (106, 2, 1),
            (106, 105, 1),  # intra: later id is the batch role
        ]
        idx_ids = sorted(r.doc_id for r in i1.collect())
        assert idx_ids == [1, 2, 100, 105, 106, 107]
        led = sorted(tuple(r) for r in r1.collect())
        assert led == [(1, 100), (2, 105), (2, 106), (105, 106)]
        # replay: no pairs, identical state
        p2, i2, r2 = incremental_hamming_ingest(i1, batch, r1)
        assert p2.collect() == []
        assert sorted(r.doc_id for r in i2.collect()) == idx_ids
        assert sorted(tuple(r) for r in r2.collect()) == led
        release_cached(p)
        release_cached(p2)


class TestEmbeddingIngest:
    def _frames(self, spark):
        from analyst_spark.functions.similarity import embedding_index

        hist = spark.createDataFrame(
            [(1, [1.0] * 8 + [0.0] * 56), (2, [0.0] * 56 + [1.0] * 8)],
            ["vec_id", "embedding"],
        )
        batch = spark.createDataFrame(
            [
                (100, [2.0] * 8 + [0.0] * 56),   # colinear with hist 1
                (105, [0.0] * 56 + [3.0] * 8),   # colinear with hist 2
                (106, [0.0] * 56 + [6.0] * 8),   # colinear with 2 AND 105
                (107, [1.0, -1.0] * 32),          # unrelated
            ],
            ["vec_id", "embedding"],
        )
        return embedding_index(hist), batch

    def test_cross_intra_and_replay(self, spark):
        from analyst_spark.functions.similarity import (
            incremental_embedding_ingest,
        )

        hidx, batch = self._frames(spark)
        p, i1, r1 = incremental_embedding_ingest(hidx, batch, 0.9)
        got = sorted(
            (r.id_batch, r.id_hist, r.cosine_sim) for r in p.collect()
        )
        assert got == [
            (100, 1, 1.0),
            (105, 2, 1.0),
            (106, 2, 1.0),
            (106, 105, 1.0),
        ]
        n_idx = i1.count()
        assert n_idx == 6
        led = sorted(tuple(r) for r in r1.collect())
        p2, i2, r2 = incremental_embedding_ingest(i1, batch, 0.9, r1)
        assert p2.collect() == []
        assert i2.count() == n_idx
        assert sorted(tuple(r) for r in r2.collect()) == led
        release_cached(p)
        release_cached(p2)

    def test_index_drops_null_vectors(self, spark):
        from analyst_spark.functions.similarity import embedding_index

        df = spark.createDataFrame(
            [(1, [1.0] * 64), (2, None)], "vec_id long, embedding array<double>"
        )
        assert [r.vec_id for r in embedding_index(df).collect()] == [1]


class TestStorageBackedState:
    @pytest.fixture()
    def state_dir(self, tmp_path):
        d = str(tmp_path / "state")
        yield d
        shutil.rmtree(d, ignore_errors=True)

    def test_save_load_probe_equivalence(self, spark, state_dir):
        """The VERDICT r11 #2 'Done' pin: an ingest fed storage-loaded
        state returns exactly the rows the in-memory form returns."""
        hist = spark.createDataFrame([(1, LONG_A)], ["doc_id", "text"])
        index0 = neardup_signature_index(hist)
        batch = spark.createDataFrame(
            [(100, _drop_first(LONG_A)), (105, _drop_first(LONG_A))],
            ["doc_id", "text"],
        )
        save_state(index0, None, f"{state_dir}/d0")
        idx_l, led_l = load_state(spark, f"{state_dir}/d0")
        p_mem, i_mem, r_mem = incremental_neardup_ingest(
            index0, batch, None, min_match=5
        )
        p_st, i_st, r_st = incremental_neardup_ingest(
            idx_l, batch, led_l, min_match=5
        )
        mem = sorted((r.id_batch, r.id_hist, r.n_match) for r in p_mem.collect())
        st = sorted((r.id_batch, r.id_hist, r.n_match) for r in p_st.collect())
        assert mem == st == [(100, 1, 8), (105, 1, 8), (105, 100, 8)]
        assert sorted(tuple(r) for r in i_mem.collect()) == sorted(
            tuple(r) for r in i_st.collect()
        )
        assert sorted(tuple(r) for r in r_mem.collect()) == sorted(
            tuple(r) for r in r_st.collect()
        )
        # day 2 through storage: replay of day 1 is a no-op
        save_state(i_st, r_st, f"{state_dir}/d1")
        idx2, led2 = load_state(spark, f"{state_dir}/d1")
        p2, _, _ = incremental_neardup_ingest(
            idx2, batch, led2, min_match=5
        )
        assert p2.collect() == []
        release_cached(p_mem)
        release_cached(p_st)
        release_cached(p2)

    def test_empty_ledger_round_trip(self, spark, state_dir):
        led = empty_ledger(spark)
        assert led.columns == ["pair_lo", "pair_hi"]
        hist = spark.createDataFrame([(1, LONG_A)], ["doc_id", "text"])
        save_state(neardup_signature_index(hist), None, f"{state_dir}/d0")
        _idx, led2 = load_state(spark, f"{state_dir}/d0")
        assert led2.columns == ["pair_lo", "pair_hi"]
        assert led2.count() == 0


class TestCatalogMultidayEntries:
    """Plant-and-recover pins for the two r12 gated lifecycles —
    the day-boundary plants can only surface if prior days'
    signatures actually reached the index (the append proof), and
    the same-day plants only via the intra-batch path."""

    def test_perceptual_multiday_plants(self, spark):
        from pyspark.sql import functions as F

        from analyst_spark.plans.catalog import QUERIES
        from analyst_spark.plans.multimodal_plans import _IPD_OFFSET
        from analyst_spark.tables import load_tables

        sf = "/root/testdata/sf0.001"
        out = QUERIES["multimodal_incremental_multiday"](spark, sf)
        got = {(r.day, r.id_batch, r.id_hist) for r in out.collect()}
        release_cached(out)
        docs = load_tables(spark, sf)["documents"]
        day2_src = [
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 60 == 0).collect()
        ]
        day3_same = [
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 60 == 20).collect()
        ]
        assert day2_src and day3_same, "fixture must plant twins"
        # perceptual recall is 1 (pigeonhole): EVERY plant surfaces
        for h in day2_src:
            assert (2, h + 2 * _IPD_OFFSET, h) in got, h
        for h in day3_same:
            assert (3, h + 4 * _IPD_OFFSET, h) in got, h
        assert all(day in (1, 2, 3) for day, _b, _h in got)
        # no pair points forward in time: every partner id entered on
        # an earlier day or is a smaller same-day id (plant offsets
        # keep batch ids above their sources)
        assert all(b != h for _d, b, h in got)

    def test_embedding_multiday_plants(self, spark):
        from pyspark.sql import functions as F

        from analyst_spark.plans.catalog import QUERIES
        from analyst_spark.plans.text_plans import _EMB_MD_OFF
        from analyst_spark.tables import load_tables

        sf = "/root/testdata/sf0.001"
        out = QUERIES["dedup_incremental_embedding_multiday"](spark, sf)
        rows = out.collect()
        release_cached(out)
        got = {(r.day, r.id_batch, r.id_hist) for r in rows}
        emb = load_tables(spark, sf)["embeddings"]
        day2_src = [
            r.vec_id
            for r in emb.filter(F.col("vec_id") % 60 == 0).collect()
        ]
        day3_same = [
            r.vec_id
            for r in emb.filter(F.col("vec_id") % 60 == 20).collect()
        ]
        assert day2_src and day3_same, "fixture must plant twins"
        # colinear twins share every sign bit: recall exactly 1
        for h in day2_src:
            assert (2, h + 2 * _EMB_MD_OFF, h) in got, h
        for h in day3_same:
            assert (3, h + 4 * _EMB_MD_OFF, h) in got, h
        # every reported pair is a planted colinear pair: cosine 1.0
        assert all(r.cosine_sim == 1.0 for r in rows)


class TestLedgerCompaction:
    """VERDICT r12 #4: compact_ledger retires pair keys whose docs
    left the corpus. The pin: a 30-day ingest with a 10-day retention
    window, compacting every 10 days, emits EXACTLY the pairs the
    uncompacted run emits — including on replays of days inside the
    replay horizon — while the compacted ledger stays bounded by the
    retention window instead of growing with corpus lifetime."""

    DAY_SIZE = 12
    DAYS = 30
    RETENTION = 10  # days a doc stays in the corpus / replay horizon

    def _day_batch(self, spark, day):
        """Deterministic signature batch for one day: doc ids are
        day*DAY_SIZE + i; every third doc is a hamming-0 member of the
        LINEAGE seeded by day-0 doc i (same signature every day), so
        each day's twins pair with every still-live earlier member of
        their lineage — cross pairs every day for the whole 30-day
        run, with candidate volume bounded by the retention window.
        The rest are unique. Pure integers — no image decode."""
        rows = []
        for i in range(self.DAY_SIZE):
            doc_id = day * self.DAY_SIZE + i
            base = i if (day > 0 and i % 3 == 0) else doc_id
            sig = [base * 4 + k for k in range(4)]
            rows.append((doc_id,) + tuple(sig))
        return spark.createDataFrame(
            rows, ["doc_id", "b0", "b1", "b2", "b3"]
        )

    def test_30_day_compaction_equivalence(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from analyst_spark.functions.incremental import (
            compact_ledger,
            load_state,
            save_state,
        )
        from analyst_spark.functions.multimodal import (
            incremental_hamming_ingest,
        )

        state_u = str(tmp_path / "uncompacted")
        state_c = str(tmp_path / "compacted")
        day0 = self._day_batch(spark, 0)
        # per-day state paths: save_state(overwrite) to the path the
        # new state's lineage is lazily READING deletes its own input
        for p in (state_u, state_c):
            save_state(day0, None, f"{p}/s0")

        ledger_sizes = {"u": [], "c": []}
        all_emitted: set = set()
        horizon_ids = {}
        for day in range(1, self.DAYS):
            batch = self._day_batch(spark, day)
            emitted = {}
            for tag, path in (("u", state_u), ("c", state_c)):
                idx, led = load_state(spark, f"{path}/s{day - 1}")
                pairs, new_idx, new_led = incremental_hamming_ingest(
                    idx, batch, led, max_distance=0
                )
                emitted[tag] = sorted(
                    (r.id_batch, r.id_hist) for r in pairs.collect()
                )
                # shared corpus event in BOTH runs: docs older than
                # RETENTION days leave the corpus (drop from index)
                horizon_id = (day - self.RETENTION + 1) * self.DAY_SIZE
                new_idx = new_idx.filter(F.col("doc_id") >= horizon_id)
                # only the compacted run also retires ledger keys;
                # departed docs' batches are beyond the replay
                # horizon, so the contract at compact_ledger's
                # definition holds
                if tag == "c" and day % 10 == 0:
                    new_led = compact_ledger(
                        new_led, new_idx.select("doc_id")
                    )
                # KB-sized day state: write one file per table instead
                # of one per lineage partition (test speed only — the
                # 60 save/load round-trips dominated the suite's
                # slowest test at 8-16 near-empty tasks per write)
                save_state(
                    new_idx.coalesce(1),
                    None if new_led is None else new_led.coalesce(1),
                    f"{path}/s{day}",
                )
                ledger_sizes[tag].append(
                    load_state(spark, f"{path}/s{day}")[1].count()
                )
                # after the state write: new_led reads this day's
                # ledger checkpoint, which release frees
                release_cached(pairs)
            assert emitted["u"] == emitted["c"], f"day {day} diverged"
            assert emitted["u"], f"day {day} found no twins (fixture)"
            all_emitted.update(emitted["u"])
            horizon_ids[day] = (day - self.RETENTION + 1) * self.DAY_SIZE
            # replay the SAME day right after each compaction point:
            # a no-op in both runs (suppression keys for live docs
            # survive compaction)
            if day % 10 == 1 and day > 1:
                for tag, path in (("u", state_u), ("c", state_c)):
                    idx, led = load_state(spark, f"{path}/s{day}")
                    p_r, _, _ = incremental_hamming_ingest(
                        idx, batch, led, max_distance=0
                    )
                    assert p_r.collect() == [], f"{tag} replay day {day}"
                    release_cached(p_r)
        # the uncompacted ledger carries every pair ever emitted...
        assert ledger_sizes["u"][-1] == len(all_emitted), ledger_sizes
        # ...while right after each compaction the compacted ledger
        # holds EXACTLY the emitted pairs both of whose endpoints are
        # still live — retention-window-bounded, lifetime-independent
        # per-compaction expectation recomputed from the pair ids:
        # live = id >= that day's horizon; pairs emitted after day d
        # are excluded via the batch id (batch ids grow with the day)
        for day, sc in zip(range(1, self.DAYS), ledger_sizes["c"]):
            if day % 10 == 0:
                horizon = horizon_ids[day]
                expect = {
                    (b, h)
                    for (b, h) in all_emitted
                    if b >= horizon and h >= horizon
                    and b < (day + 1) * self.DAY_SIZE
                }
                assert sc == len(expect), (day, sc, len(expect))
        assert ledger_sizes["c"][-1] < ledger_sizes["u"][-1]

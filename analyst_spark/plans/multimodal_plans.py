"""Oracle-checked plans for the multimodal binary-column operators.

The image bytes are the deterministic fake codec from
:mod:`analyst_spark.functions.multimodal` (pixel i of doc d =
``(d*31 + i*7) % 251``), so every stage of the binary pipeline —
encode, decode/feature-extract, resize — has a closed-form ANSI-SQL
twin DuckDB can compute from ``documents.doc_id`` alone. That makes
the mapInPandas plumbing itself hash-verifiable, not just rows-only.

Image sizes are powers of two (8x8 → 4x4) so pixel means are exact
binary fractions and float hashing can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analyst_spark.functions.multimodal import (
    audio_features,
    frame_sample_plan,
    image_features,
    resize_images,
)
from analyst_spark.tables import load_tables, spread


def _fake_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mime, image binary) — synthetic images generated
    executor-side (mapInPandas), one per document row; stands in for
    reading a binary column out of parquet."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def gen(batches):
        import pandas as pd

        from analyst_spark.functions.multimodal import (
            encode_fake_images_batch,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "mime": "image/x-fake",
                    "image": encode_fake_images_batch(
                        pdf["doc_id"].to_numpy(dtype="int64"), 8, 8
                    ),
                }
            )

    return spread(docs, "doc_id").mapInPandas(
        gen, "doc_id long, mime string, image binary"
    )


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode + feature extraction over Arrow batches."""
    return image_features(_fake_corpus(spark, sf_dir))


# pixel i of doc d is (d*31 + i*7) % 251; 8x8x1 image, 20-byte header.
MULTIMODAL_FEATURES_ORACLE = """
SELECT d.doc_id,
       8 AS width, 8 AS height, 1 AS channels,
       round(avg(CAST((d.doc_id * 31 + g.i * 7) % 251 AS DOUBLE)), 6)
           AS mean_luma,
       CAST(84 AS BIGINT) AS n_bytes
FROM documents d
CROSS JOIN (SELECT unnest(range(64)) AS i) g
GROUP BY d.doc_id
"""


def multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained binary ops: 8x8 → 4x4 nearest-neighbor resize, then
    feature-extract the resized bytes — verifies the binary-out path
    end-to-end (the resized payload feeds a second decode)."""
    resized = resize_images(_fake_corpus(spark, sf_dir), 4, 4)
    return image_features(resized)


# nearest-neighbor 8→4: output pixel (y,x) samples source index
# (2y)*8 + 2x = 16*(i//4) + 2*(i%4) for flat output index i in 0..15.
MULTIMODAL_RESIZE_ORACLE = """
SELECT d.doc_id,
       4 AS width, 4 AS height, 1 AS channels,
       round(avg(CAST(
           (d.doc_id * 31 + (16 * (g.i // 4) + 2 * (g.i % 4)) * 7) % 251
           AS DOUBLE)), 6) AS mean_luma,
       CAST(36 AS BIGINT) AS n_bytes
FROM documents d
CROSS JOIN (SELECT unnest(range(16)) AS i) g
GROUP BY d.doc_id
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: binary PCM decode + RMS / zero-crossing /
    duration extraction over Arrow batches."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def gen(batches):
        import pandas as pd

        from analyst_spark.functions.multimodal import (
            encode_fake_audios_batch,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "audio": encode_fake_audios_batch(
                        pdf["doc_id"].to_numpy(dtype="int64")
                    ),
                }
            )

    corpus = spread(docs, "doc_id").mapInPandas(
        gen, "doc_id long, audio binary"
    )
    return audio_features(corpus)


# sample i of doc d = ((d*17 + i*13) % 201) - 100; 1000 samples @16kHz
MULTIMODAL_AUDIO_ORACLE = """
WITH s AS (
    SELECT d.doc_id, g.i, ((d.doc_id * 17 + g.i * 13) % 201) - 100 AS v
    FROM documents d
    CROSS JOIN (SELECT unnest(range(1000)) AS i) g
), lagged AS (
    SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM s
)
SELECT doc_id,
       CAST(1000 AS BIGINT) AS n_samples,
       16000 AS sample_rate,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / 1000), 6) AS rms,
       CAST(count(CASE WHEN prev IS NOT NULL
                        AND ((prev < 0) <> (v < 0)) THEN 1 END) AS BIGINT)
           AS zero_crossings,
       0.0625 AS duration_s
FROM lagged
GROUP BY doc_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: every 10th frame index, generated in
    Catalyst BEFORE any decode — the prune-then-decode shape that
    matters at 100 TB (frames you drop are never read)."""
    videos = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", (F.col("doc_id") % 240 + 1).alias("n_frames")
    )
    return frame_sample_plan(videos, every_n=10)


MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id,
       unnest(range(0, (doc_id % 240) + 1, 10)) AS frame_idx
FROM documents
"""


_PDUP_OFFSET = 20_000_000
_PDUP_STEP = 7
_PDUP_MAX_DIST = 3


def multimodal_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image NEAR-dup (VERDICT r9 #3): dHash signatures +
    banded Hamming join (functions/multimodal.py
    perceptual_dedup_pairs has the pigeonhole recall-1 proof) —
    the near-dup complement of ``multimodal_binary_dedup``'s exact
    md5-of-bytes pass.

    Plant-and-recover: every doc_id % 7 == 0 image reappears under
    doc_id + 20M with ONE pixel overwritten (pixel 0 := 255) — the
    bytes differ (md5 dedup is blind to it) but at most 2 of the 64
    gradient bits flip (the two comparisons pixel 0 participates
    in), so every twin MUST surface at hamming <= 2. The fake-codec
    arithmetic (pixel i of doc d = (d*31 + i*7) % 251, true content
    key d % 251) makes the ENTIRE chain — decode, resample identity,
    gradient bits, bands, Hamming — closed-form in SQL, so the
    oracle is brute-force all-pairs over arithmetic-derived
    signatures and hash equality checks the recall-1 claim, the
    plant recovery, AND the byte-identical (d, d+251) generator
    collisions nobody planted.
    """
    from analyst_spark.functions.multimodal import perceptual_dedup_pairs

    fc = _fake_corpus(spark, sf_dir)

    def perturb(batches):
        import pandas as pd

        for pdf in batches:
            imgs = []
            for buf in pdf["image"]:
                b = bytearray(bytes(buf))
                b[20] = 255  # pixel 0 (20-byte header) := 255
                imgs.append(bytes(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"] + _PDUP_OFFSET,
                    "mime": pdf["mime"],
                    "image": imgs,
                }
            )

    twins = fc.filter(F.col("doc_id") % _PDUP_STEP == 0).mapInPandas(
        perturb, "doc_id long, mime string, image binary"
    )
    corpus = fc.unionByName(twins)
    # fan_out=False: the corpus was just produced by spread()+
    # mapInPandas branches — the signature pass must not shuffle the
    # image bytes a second time (r15, guide §2.4)
    return perceptual_dedup_pairs(
        corpus, max_distance=_PDUP_MAX_DIST, fan_out=False
    )


def _dhash_sql_fragments(alias: str, band_bits: int = 16):
    """The dHash-arithmetic SQL fragments every image oracle shares
    (r12 review: four inline copies had accumulated): pixel
    expressions for a gradient bit and its wraparound neighbor under
    the fake-codec arithmetic (pixel i of class src = (src*31 + i*7)
    % 251; perturbed classes override pixel 0 with 255), the four
    band-column aggregates, and the xor/bit_count Hamming sum.
    ``alias`` is the class/doc table alias carrying src+pert;
    ``band_bits`` picks 16 (64-bit dHash, INT bands) or 32 (128-bit,
    BIGINT bands). Returns (px1, px2, band_cols, ham)."""
    px1 = (
        f"CASE WHEN {alias}.pert AND g.b = 0 THEN 255 "
        f"ELSE ({alias}.src * 31 + g.b * 7) % 251 END"
    )
    nbr = "((g.b // 8) * 8 + ((g.b % 8) + 1) % 8)"
    px2 = (
        f"CASE WHEN {alias}.pert AND {nbr} = 0 THEN 255 "
        f"ELSE ({alias}.src * 31 + {nbr} * 7) % 251 END"
    )
    cast = "INT" if band_bits == 16 else "BIGINT"
    band_cols = ", ".join(
        f"CAST(max(CASE WHEN band = {k} THEN v END) AS {cast}) AS b{k}"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4))
    return px1, px2, band_cols, ham


def _perceptual_oracle() -> str:
    # pixel i: originals (src*31 + i*7) % 251; twins override i=0
    # with 255. dHash bit b compares flat index b against its
    # horizontal wraparound neighbor (b DIV 8)*8 + ((b%8)+1)%8.
    px1, px2, band_cols, ham = _dhash_sql_fragments("d")
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id % 251 AS src, false AS pert FROM documents
    UNION ALL
    SELECT doc_id + {_PDUP_OFFSET}, doc_id % 251, true FROM documents
    WHERE doc_id % {_PDUP_STEP} = 0
), bits AS (
    SELECT d.doc_id, g.b // 16 AS band, g.b % 16 AS pos,
           CASE WHEN ({px1}) > ({px2}) THEN 1 ELSE 0 END AS bit
    FROM all_docs d CROSS JOIN (SELECT unnest(range(64)) AS b) g
), bands AS (
    SELECT doc_id, band, sum(bit * (1 << pos)) AS v
    FROM bits GROUP BY doc_id, band
), sigs AS (
    SELECT doc_id, {band_cols} FROM bands GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({ham} AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {ham} <= {_PDUP_MAX_DIST}
"""


MULTIMODAL_PDUP_ORACLE = _perceptual_oracle()


_WDUP_OFFSET = 60_000_000
_WDUP_STEP = 7
_WDUP_MAX_DIST = 3


def multimodal_perceptual_dedup_wide(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WIDE-BAND perceptual image near-dup (r12, VERDICT r11 #1):
    the 128-bit dHash variant — 16×8 gradient grid, four 32-bit
    bands — through the SAME banded Hamming engine and recall
    contract as ``multimodal_perceptual_dedup``. The point of the
    width is scale: random band collisions cost 4·C(n,2)/2^band_bits
    candidate pairs, so at ≥10M corpus signatures the 16-bit form
    drowns in ~3e9 spurious candidates while the 32-bit form stays
    bounded (tools/r12_probe.py wideband, SCALE.md r12 row). This
    entry pins the wide path's exact semantics at gate scale.

    Corpus: 8×16 fake images (so the 16-row grid is non-degenerate;
    pixel i of doc d = (d*31 + i*7) % 251, flat index = grid index).
    Plant-and-recover: every 7th doc reappears under doc_id + 60M
    with pixel 0 := 255 — at most 2 of the 128 bits flip, so every
    twin surfaces at hamming <= 2; byte-identical (d, d+251)
    generator collisions must surface at hamming 0. Oracle derives
    every signature arithmetically per (content-class, perturbed)
    pair."""
    from analyst_spark.functions.multimodal import (
        banded_hamming_pairs,
        encode_fake_images_batch,
        image_dhash_bands,
    )

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            bufs = encode_fake_images_batch(ids, 8, 16)
            tsel = np.nonzero(ids % _WDUP_STEP == 0)[0]
            # twin = same bytes with pixel 0 (20-byte header) := 255
            twins = [
                bufs[i][:20] + b"\xff" + bufs[i][21:] for i in tsel
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(
                        [ids, ids[tsel] + _WDUP_OFFSET]
                    ),
                    "mime": "image/x-fake",
                    "image": bufs + twins,
                }
            )

    corpus = spread(docs, "doc_id").mapInPandas(
        gen, "doc_id long, mime string, image binary"
    )
    return banded_hamming_pairs(
        image_dhash_bands(corpus, band_bits=32, fan_out=False),
        max_distance=_WDUP_MAX_DIST,
    )


def _perceptual_wide_oracle() -> str:
    # 8×16 image, 16×8 grid ⇒ the sampled pixel of bit b IS flat
    # index b; neighbor = horizontal wraparound within the 8-pixel
    # row. Signatures depend on doc_id only through (doc_id % 251,
    # pert) — derive the 502 classes, join classes, expand to docs.
    px1, px2, band_cols, ham = _dhash_sql_fragments("c", band_bits=32)
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id % 251 AS src, false AS pert FROM documents
    UNION ALL
    SELECT doc_id + {_WDUP_OFFSET}, doc_id % 251, true FROM documents
    WHERE doc_id % {_WDUP_STEP} = 0
), classes AS (
    SELECT DISTINCT src, pert FROM all_docs
), bits AS (
    SELECT c.src, c.pert, g.b // 32 AS band, g.b % 32 AS pos,
           CASE WHEN ({px1}) > ({px2}) THEN 1 ELSE 0 END AS bit
    FROM classes c CROSS JOIN (SELECT unnest(range(128)) AS b) g
), bands AS (
    SELECT src, pert, band,
           sum(bit * (CAST(1 AS BIGINT) << pos)) AS v
    FROM bits GROUP BY src, pert, band
), sigs AS (
    SELECT src, pert, {band_cols} FROM bands GROUP BY src, pert
), cp AS (
    SELECT a.src AS src_a, a.pert AS pert_a,
           b.src AS src_b, b.pert AS pert_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM sigs a CROSS JOIN sigs b
    WHERE {ham} <= {_WDUP_MAX_DIST}
)
SELECT da.doc_id AS id_a, db.doc_id AS id_b, cp.hamming
FROM cp
JOIN all_docs da ON da.src = cp.src_a AND da.pert = cp.pert_a
JOIN all_docs db ON db.src = cp.src_b AND db.pert = cp.pert_b
WHERE da.doc_id < db.doc_id
"""


MULTIMODAL_WDUP_ORACLE = _perceptual_wide_oracle()


_APD_OFFSET = 30_000_000
_APD_STEP = 9
_APD_MAX_DIST = 3


def multimodal_audio_perceptual_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual AUDIO near-dup: energy-delta fingerprints + the
    same banded Hamming join as the image entry
    (functions/multimodal.py banded_hamming_pairs — the pigeonhole
    recall-1 engine is shared; only the signature function differs).

    Plant-and-recover: every doc_id % 9 == 0 clip reappears under
    doc_id + 30M with ONE sample overwritten (sample 0 := 100) —
    bytes differ, at most 1 of the 64 energy-gradient bits flips
    (only frame 0's energy changes), so every twin must surface at
    hamming <= 1. Sample arithmetic ((d*17 + i*13) % 201 - 100)
    makes frame energies closed-form in SQL: the oracle is
    brute-force all-pairs over arithmetic-derived fingerprints —
    hash equality checks recall-1, the plant, and the unplanted
    (d, d+201) generator collisions at once.
    """
    from analyst_spark.functions.multimodal import (
        audio_fingerprint_bands,
        banded_hamming_pairs,
    )

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from analyst_spark.functions.multimodal import (
            encode_fake_audios_batch,
        )

        s0 = (100).to_bytes(2, "little", signed=True)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            bufs = encode_fake_audios_batch(ids)
            tsel = np.nonzero(ids % _APD_STEP == 0)[0]
            # twin = same bytes, sample 0 (int16 LE at offset 16) := 100
            twins = [bufs[i][:16] + s0 + bufs[i][18:] for i in tsel]
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(
                        [ids, ids[tsel] + _APD_OFFSET]
                    ),
                    "audio": bufs + twins,
                }
            )

    corpus = spread(docs, "doc_id").mapInPandas(
        gen, "doc_id long, audio binary"
    )
    return banded_hamming_pairs(
        audio_fingerprint_bands(corpus, fan_out=False),
        max_distance=_APD_MAX_DIST,
    )


def _audio_perceptual_oracle() -> str:
    # sample i of doc d: ((d*17 + i*13) % 201) - 100; twins override
    # i=0 with 100. 65 frames x 15 samples (1000 DIV 65 = 15; the
    # trailing 25 samples are ignored, matching the Spark reshape).
    v = (
        "CASE WHEN d.pert AND g.i = 0 THEN 100 "
        "ELSE ((d.doc_src * 17 + g.i * 13) % 201) - 100 END"
    )
    band_cols = ", ".join(
        f"CAST(max(CASE WHEN band = {k} THEN v END) AS INT) AS b{k}"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4))
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id AS doc_src, false AS pert FROM documents
    UNION ALL
    SELECT doc_id + {_APD_OFFSET}, doc_id, true FROM documents
    WHERE doc_id % {_APD_STEP} = 0
), samp AS (
    SELECT d.doc_id, g.i // 15 AS f, CAST(({v}) AS BIGINT) AS v
    FROM all_docs d CROSS JOIN (SELECT unnest(range(975)) AS i) g
), energy AS (
    SELECT doc_id, f, sum(v * v) AS e FROM samp GROUP BY doc_id, f
), bits AS (
    SELECT doc_id, b, b // 16 AS band, b % 16 AS pos, bit FROM (
        SELECT doc_id, f AS b,
               CASE WHEN e > lead(e) OVER (
                   PARTITION BY doc_id ORDER BY f) THEN 1 ELSE 0 END AS bit
        FROM energy
    ) WHERE b < 64
), bands AS (
    SELECT doc_id, band, sum(bit * (1 << pos)) AS v
    FROM bits GROUP BY doc_id, band
), sigs AS (
    SELECT doc_id, {band_cols} FROM bands GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({ham} AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {ham} <= {_APD_MAX_DIST}
"""


MULTIMODAL_APD_ORACLE = _audio_perceptual_oracle()


_IPD_OFFSET = 50_000_000
_IPD_STEP = 7
_IPD_MAX_DIST = 3


def _ipd_corpus(spark: SparkSession, sf_dir: str):
    """(history, batch) image corpora for the incremental perceptual
    entries — ONE construction shared by the batch entry and the
    streaming twin (r11 review: both register against the same
    oracle, so a divergent copy of the plant would fail as a
    confusing cross-entry hash mismatch). History = doc_id % 4 != 0;
    batch = % 4 == 0 plus a 1-pixel-perturbed twin of every
    ``_IPD_STEP``-th history image under doc_id + ``_IPD_OFFSET``."""
    fc = _fake_corpus(spark, sf_dir)
    is_new = F.col("doc_id") % 4 == 0
    hist = fc.filter(~is_new)

    def perturb(batches):
        import pandas as pd

        for pdf in batches:
            imgs = []
            for buf in pdf["image"]:
                b = bytearray(bytes(buf))
                b[20] = 255  # pixel 0 (20-byte header) := 255
                imgs.append(bytes(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"] + _IPD_OFFSET,
                    "mime": pdf["mime"],
                    "image": imgs,
                }
            )

    twins = hist.filter(F.col("doc_id") % _IPD_STEP == 0).mapInPandas(
        perturb, "doc_id long, mime string, image binary"
    )
    batch = fc.filter(is_new).unionByName(twins)
    return hist, batch


def multimodal_incremental_perceptual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental PERCEPTUAL ingest (r11) — the multimodal twin of
    ``dedup_incremental_neardup``: probe a new crawl batch's dHash
    signatures against the MAINTAINED history signature index
    (functions/multimodal.py incremental_hamming_pairs). History
    contributes 16 bytes + id per image, appended per ingest; its
    bytes are never re-decoded, and the cross join is band-bucketed
    with the pigeonhole recall-1 guarantee.

    History = doc_id % 4 != 0 images; batch = doc_id % 4 == 0 plus a
    planted 1-pixel-perturbed twin of every 7th history image under
    doc_id + 50M — bytes differ, at most 2 gradient bits flip, so
    every twin must surface at hamming <= 2 across the
    batch/history boundary. The fake-codec arithmetic keeps every
    signature closed-form, so the oracle is the brute-force
    new×history join over arithmetic-derived signatures."""
    from analyst_spark.functions.multimodal import (
        image_dhash_bands,
        incremental_hamming_pairs,
    )

    hist, batch = _ipd_corpus(spark, sf_dir)
    return incremental_hamming_pairs(
        image_dhash_bands(hist, fan_out=False),
        image_dhash_bands(batch, fan_out=False),
        max_distance=_IPD_MAX_DIST,
    )


def _incremental_perceptual_oracle() -> str:
    px1, px2, band_cols, ham = _dhash_sql_fragments("d")
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id % 251 AS src, false AS pert,
           (doc_id % 4 = 0) AS is_new
    FROM documents
    UNION ALL
    SELECT doc_id + {_IPD_OFFSET}, doc_id % 251, true, true
    FROM documents
    WHERE doc_id % 4 <> 0 AND doc_id % {_IPD_STEP} = 0
), bits AS (
    SELECT d.doc_id, g.b // 16 AS band, g.b % 16 AS pos,
           CASE WHEN ({px1}) > ({px2}) THEN 1 ELSE 0 END AS bit
    FROM all_docs d CROSS JOIN (SELECT unnest(range(64)) AS b) g
), bands AS (
    SELECT doc_id, band, sum(bit * (1 << pos)) AS v
    FROM bits GROUP BY doc_id, band
), sigs AS (
    SELECT doc_id, {band_cols} FROM bands GROUP BY doc_id
)
SELECT a.doc_id AS id_batch, b.doc_id AS id_hist,
       CAST({ham} AS BIGINT) AS hamming
FROM sigs a
JOIN all_docs da ON da.doc_id = a.doc_id AND da.is_new
JOIN sigs b ON {ham} <= {_IPD_MAX_DIST}
JOIN all_docs db ON db.doc_id = b.doc_id AND NOT db.is_new
"""


MULTIMODAL_IPD_ORACLE = _incremental_perceptual_oracle()


# ------------------- multi-day perceptual lifecycle (r12, VERDICT r11 #3)
#
# Three tagged ingest days over the image corpus, mirroring the text
# entry dedup_incremental_multiday: history = doc_id % 4 != 0 (day 0);
# real new docs doc_id % 4 == 0 land on day 1 + (doc_id DIV 4) % 3.
# Day-boundary plants (pixel 0 := 255, at most 2 gradient bits flip):
#   day 1 gets twins of every 7th HISTORY image        (factor 1)
#   day 2 gets twins of day-1 images with id % 60 = 0  (factor 2)
#   day 3 gets twins of day-2 images with id % 60 = 40 (factor 3)
#   day 3 gets SAME-DAY twins of day-3 images % 60 = 20 (factor 4)
# twin id = doc_id + factor * 50M — disjoint ranges far above real
# ids. The factor-2/3 plants prove the INDEX APPEND (their sources
# entered the index as prior-day batches); factor 4 proves same-day
# intra-batch pairing. Because fake-image content is doc_id mod 251,
# unplanted cross-day and same-day byte-duplicates (hamming 0) also
# exist and must all be recovered — the oracle derives them from the
# generator arithmetic.


def multimodal_incremental_multiday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-day incremental PERCEPTUAL lifecycle (VERDICT r11 #3):
    three consecutive crawl days folded through
    :func:`~analyst_spark.functions.multimodal.incremental_hamming_ingest`
    — each day's batch images are decoded ONCE into dHash signatures,
    probed against the maintained index (initial history ∪ every
    prior day's signatures), appended, and the already-reported
    ledger threaded through (a no-op on disjoint ids; replay
    idempotence is pinned in tests/test_incremental_lifecycle.py).
    Day-boundary plants make the append observable exactly as in the
    text twin ``dedup_incremental_multiday``.

    Output (day, id_batch, id_hist, hamming): bucket-colliding pairs
    where the batch image's day is LATER (or equal with a larger id,
    the intra-batch case) at hamming <= 3 — per-day pigeonhole
    recall-1, so the DuckDB arithmetic twin is exact. History bytes
    are never re-decoded: each day's state is 16 bytes + id per
    image."""
    from analyst_spark.functions.dedup import checkpoint, persist
    from analyst_spark.functions.multimodal import (
        image_dhash_bands,
        incremental_hamming_ingest,
    )

    # ONE corpus materialization + ONE signing pass (r13, VERDICT r12
    # #7 profiling): filters cannot push through mapInPandas, so the
    # lazy corpus used to REGENERATE (and the day slices re-decode)
    # once per consumer — 7 referencing branches across the three
    # days. Generating once and signing once is also the plan shape
    # the docstring promises at 100 TB (decode each asset once; day
    # slices are signature-table reads).
    fc = persist(_fake_corpus(spark, sf_dir), fill=False)
    is_new = F.col("doc_id") % 4 == 0
    day_of = F.expr("doc_id DIV 4") % 3
    hist = fc.filter(~is_new)
    sigs_all = persist(image_dhash_bands(fc, fan_out=False), fill=True)
    sig_of = lambda cond: sigs_all.filter(cond)  # noqa: E731

    def perturb(src: DataFrame, factor: int) -> DataFrame:
        def run(batches):
            import pandas as pd

            for pdf in batches:
                imgs = []
                for buf in pdf["image"]:
                    b = bytearray(bytes(buf))
                    b[20] = 255  # pixel 0 (20-byte header) := 255
                    imgs.append(bytes(b))
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"] + factor * _IPD_OFFSET,
                        "mime": pdf["mime"],
                        "image": imgs,
                    }
                )

        return src.mapInPandas(run, "doc_id long, mime string, image binary")

    # per-day batch SIGNATURES: unperturbed slices come from the one
    # signed table; only the perturbed twins (modified bytes) decode.
    # Each day's union is coalesced to the session parallelism: the
    # cached-slice + decode branches concatenate partitions (193 by
    # day 3 at sf0.1), and every downstream AQE stage over the cached
    # batch re-launches that many near-empty tasks (r14 job
    # decomposition). One wave of defaultParallelism tasks is the
    # right width at any scale.
    n_state = spark.sparkContext.defaultParallelism
    batch_sigs = [
        sig_of(is_new & (day_of == 0))
        .unionByName(
            image_dhash_bands(
                perturb(hist.filter(F.col("doc_id") % _IPD_STEP == 0), 1),
                fan_out=False,
            )
        )
        .coalesce(n_state),
        sig_of(is_new & (day_of == 1))
        .unionByName(
            image_dhash_bands(
                perturb(fc.filter(F.col("doc_id") % 60 == 0), 2),
                fan_out=False,
            )
        )
        .coalesce(n_state),
        sig_of(is_new & (day_of == 2))
        .unionByName(
            image_dhash_bands(
                perturb(fc.filter(F.col("doc_id") % 60 == 40), 3),
                fan_out=False,
            )
        )
        .unionByName(
            image_dhash_bands(
                perturb(fc.filter(F.col("doc_id") % 60 == 20), 4),
                fan_out=False,
            )
        )
        .coalesce(n_state),
    ]
    index = persist(sig_of(~is_new), fill=True)
    # State partition bound (r14, guide §2.2/§6): each day's index and
    # ledger are UNIONS of cached frames, so their partition counts
    # accumulate (~+96/day at sf0.1 — the r14 job decomposition
    # measured day-state jobs at 225→289→353→417 tasks over KB-sized
    # state, 91 jobs total for this entry). Bound state partitions at
    # the session's parallelism before checkpointing: every downstream
    # job over the state runs that many tasks instead of the
    # lineage-accumulated concatenation. defaultParallelism scales
    # with the cluster; at 100 TB the state is storage-backed
    # (save_state) and the reader sizes partitions from bytes.
    reported = None
    out = None
    for day, bsig in enumerate(batch_sigs, start=1):
        pairs, index, reported = incremental_hamming_ingest(
            index,
            bsig,
            reported,
            max_distance=_IPD_MAX_DIST,
            # the batch is a slice of the cached signature table plus
            # a twin decode — the cache fills on first use; a
            # dedicated per-day count is one fixed-latency job each
            # (r14 sibling A/B: wall-neutral, fewer jobs)
            eager_batch_count=False,
        )
        # persist each day's pairs: the next day's ledger anti-join
        # and the final union both re-read them (the
        # dedup_incremental_multiday lesson — unpersisted, the probe
        # recomputes per consumer). The cache fills on first use (r14:
        # a dedicated count job per day bought nothing downstream).
        pairs = persist(pairs, fill=False)
        # Day-boundary lineage truncation (VERDICT r12 #7): each day's
        # ingest re-plans the whole prior-day index/ledger chain
        # without a checkpoint. r14: LAZY checkpoints — the state
        # materializes inside its first consumer's job instead of a
        # dedicated per-day job, and day 3's index/ledger (dead state:
        # the entry returns only pairs) never materializes at all.
        # Checkpointed state is materialized (on first use) and
        # KB-sized; being recorded, it skips the engine's per-day stats
        # count — AQE sizes the probe joins from runtime shuffle stats.
        index = checkpoint(index.coalesce(n_state))
        reported = checkpoint(reported.coalesce(n_state))
        tagged = pairs.select(
            F.lit(day).alias("day"), "id_batch", "id_hist", "hamming"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _incremental_multiday_perceptual_oracle() -> str:
    # Signatures depend on doc_id only through (doc_id % 251, pert):
    # derive the 502 signature CLASSES once, Hamming-join the classes
    # (252k evals instead of |docs|²), then expand to doc pairs with
    # the day ordering — same result as the brute-force join, decades
    # faster in DuckDB.
    px1, px2, band_cols, ham = _dhash_sql_fragments("c")
    plant = (
        "SELECT doc_id + {f} * {off} AS doc_id, doc_id % 251 AS src,\n"
        "           true AS pert, {day} AS day\n"
        "    FROM documents WHERE {cond}"
    )
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id % 251 AS src, false AS pert,
           CASE WHEN doc_id % 4 = 0
                THEN 1 + CAST((doc_id // 4) % 3 AS INT)
                ELSE 0 END AS day
    FROM documents
    UNION ALL
    {plant.format(f=1, off=_IPD_OFFSET, day=1,
                  cond=f"doc_id % 4 <> 0 AND doc_id % {_IPD_STEP} = 0")}
    UNION ALL
    {plant.format(f=2, off=_IPD_OFFSET, day=2, cond="doc_id % 60 = 0")}
    UNION ALL
    {plant.format(f=3, off=_IPD_OFFSET, day=3, cond="doc_id % 60 = 40")}
    UNION ALL
    {plant.format(f=4, off=_IPD_OFFSET, day=3, cond="doc_id % 60 = 20")}
), classes AS (
    SELECT DISTINCT src, pert FROM all_docs
), bits AS (
    SELECT c.src, c.pert, g.b // 16 AS band, g.b % 16 AS pos,
           CASE WHEN ({px1}) > ({px2}) THEN 1 ELSE 0 END AS bit
    FROM classes c CROSS JOIN (SELECT unnest(range(64)) AS b) g
), bands AS (
    SELECT src, pert, band, sum(bit * (1 << pos)) AS v
    FROM bits GROUP BY src, pert, band
), sigs AS (
    SELECT src, pert, {band_cols} FROM bands GROUP BY src, pert
), cp AS (
    SELECT a.src AS src_a, a.pert AS pert_a,
           b.src AS src_b, b.pert AS pert_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM sigs a CROSS JOIN sigs b
    WHERE {ham} <= {_IPD_MAX_DIST}
)
SELECT db.day, db.doc_id AS id_batch, dh.doc_id AS id_hist, cp.hamming
FROM cp
JOIN all_docs db ON db.src = cp.src_a AND db.pert = cp.pert_a
                AND db.day >= 1
JOIN all_docs dh ON dh.src = cp.src_b AND dh.pert = cp.pert_b
WHERE dh.day < db.day OR (dh.day = db.day AND dh.doc_id < db.doc_id)
"""


MULTIMODAL_IMD_ORACLE = _incremental_multiday_perceptual_oracle()


_VDUP_OFFSET = 40_000_000
_VDUP_STEP = 11
_VDUP_MAX_DIST = 3
_VDUP_EVERY_N = 2
_VDUP_DOC_MOD = 3  # every 3rd document owns a clip (bounds the oracle)


def multimodal_video_perceptual_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual VIDEO near-dup (VERDICT r10 #5) — completes the
    image/audio pair: every-2nd-frame dHash signatures
    (functions/multimodal.py video_frame_dhash_bands — sampling
    BEFORE decode, the frame_sample_plan prune shape) joined
    frame-ALIGNED through the SAME banded_hamming_pairs engine
    (group_col='frame_idx'), then clip pairs decided by STRICT
    frame-majority agreement (2·matched > shared; per-frame recall 1
    by the pigeonhole argument ⇒ the majority count is exact and
    clip-level recall is 1).

    Corpus: every 3rd document owns a clip of doc_id % 24 + 8 frames
    (8×8, frame f pixel i = (d·31 + f·11 + i·7) % 251 — closed-form,
    so the oracle derives every frame signature in SQL).
    Plant-and-recover: every 11th clip-owning doc reappears under
    doc_id + 40M with frame 0 REPLACED by a flat 123-gray frame —
    that frame's gradient bits all drop to 0 while the original's
    frame 0 carries EXACTLY one set bit per 8-pixel dHash row
    (sampled pixels step by +7, so each row either stays monotone
    with only the row-end wraparound bit set, or wraps mod 251 once
    and sets only the wrap bit — ADVICE r11 corrected an earlier
    "≥ 6 set bits per row" claim): frame 0 disagrees by exactly 8
    bits, comfortably past max_distance 3 (pinned in
    tests/test_advice_r12.py), so the twin must surface with
    n_frames_matched = n_shared_frames − 1 — the majority rule
    observed, not just pure duplication."""
    from analyst_spark.functions.multimodal import (
        encode_fake_videos_batch,
        video_frame_dhash_bands,
        video_perceptual_pairs,
    )

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id").filter(
        F.col("doc_id") % _VDUP_DOC_MOD == 0
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        flat0 = bytes([123]) * 64
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            bufs = encode_fake_videos_batch(ids, ids % 24 + 8)
            tsel = np.nonzero(ids % _VDUP_STEP == 0)[0]
            # twin = same bytes with frame 0 flattened to 123s
            twins = [bufs[i][:20] + flat0 + bufs[i][84:] for i in tsel]
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(
                        [ids, ids[tsel] + _VDUP_OFFSET]
                    ),
                    "video": bufs + twins,
                }
            )

    corpus = spread(docs, "doc_id").mapInPandas(
        gen, "doc_id long, video binary"
    )
    return video_perceptual_pairs(
        video_frame_dhash_bands(corpus, every_n=_VDUP_EVERY_N, fan_out=False),
        max_distance=_VDUP_MAX_DIST,
    )


def _video_perceptual_oracle() -> str:
    # frame f pixel i of source doc s: (s*31 + f*11 + i*7) % 251;
    # twins replace frame 0 with constant 123. dHash bit b compares
    # flat index b with its horizontal wraparound neighbor.
    px1 = (
        "CASE WHEN d.pert AND d.f = 0 THEN 123 "
        "ELSE (d.src * 31 + d.f * 11 + g.b * 7) % 251 END"
    )
    nbr = "((g.b // 8) * 8 + ((g.b % 8) + 1) % 8)"
    px2 = (
        f"CASE WHEN d.pert AND d.f = 0 THEN 123 "
        f"ELSE (d.src * 31 + d.f * 11 + {nbr} * 7) % 251 END"
    )
    band_cols = ", ".join(
        f"CAST(max(CASE WHEN band = {k} THEN v END) AS INT) AS b{k}"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4))
    return f"""
WITH all_docs AS (
    SELECT doc_id, doc_id AS src, false AS pert FROM documents
    WHERE doc_id % {_VDUP_DOC_MOD} = 0
    UNION ALL
    SELECT doc_id + {_VDUP_OFFSET}, doc_id, true FROM documents
    WHERE doc_id % {_VDUP_DOC_MOD} = 0 AND doc_id % {_VDUP_STEP} = 0
), sampled AS (
    SELECT doc_id, src, pert,
           unnest(range(0, (src % 24) + 8, {_VDUP_EVERY_N})) AS f
    FROM all_docs
), bits AS (
    SELECT d.doc_id, d.f, g.b // 16 AS band, g.b % 16 AS pos,
           CASE WHEN ({px1}) > ({px2}) THEN 1 ELSE 0 END AS bit
    FROM sampled d CROSS JOIN (SELECT unnest(range(64)) AS b) g
), bands AS (
    SELECT doc_id, f, band, sum(bit * (1 << pos)) AS v
    FROM bits GROUP BY doc_id, f, band
), sigs AS (
    SELECT doc_id, f, {band_cols} FROM bands GROUP BY doc_id, f
), counts AS (
    SELECT doc_id, count(*) AS nf FROM sigs GROUP BY doc_id
), frame_match AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.f = b.f AND a.doc_id < b.doc_id
    WHERE {ham} <= {_VDUP_MAX_DIST}
), agg AS (
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frames_matched
    FROM frame_match GROUP BY id_a, id_b
)
SELECT g.id_a, g.id_b, g.n_frames_matched,
       CAST(least(ca.nf, cb.nf) AS BIGINT) AS n_shared_frames
FROM agg g
JOIN counts ca ON ca.doc_id = g.id_a
JOIN counts cb ON cb.doc_id = g.id_b
WHERE 2 * g.n_frames_matched > least(ca.nf, cb.nf)
"""


MULTIMODAL_VDUP_ORACLE = _video_perceptual_oracle()


_BDUP_OFFSET = 10_000_000
_BDUP_STEP = 5


def multimodal_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-content dedup — the first pass every multimodal
    corpus runs (identical bytes re-crawled under new ids): md5 over
    the RAW image bytes, min-doc_id survivor per digest, one
    map-side-combined aggregation (the same shape as text
    dedup_exact; md5(binary) is a JVM expression, no Python).

    Plant-and-recover contract: every doc_id % 5 == 0 image reappears
    under doc_id + 10M with byte-identical content (the copy branch
    reuses the generator output of the ORIGINAL id, then renames).
    The operator sees only bytes; the oracle reconstructs the
    expected grouping from the generator arithmetic — pixels depend
    on doc_id only through doc_id mod 251 (31 is invertible mod the
    prime), so the TRUE content key is doc_id % 251 and cross-id
    collisions (d, d+251) are genuine byte-level duplicates the
    operator must also discover. Same device as dedup_embedding's
    colinear twins, with the added wrinkle that the dedup has to find
    duplicates nobody explicitly planted.

    Output: (keep_id, n_copies) per distinct content.
    """
    fc = _fake_corpus(spark, sf_dir)
    copies = fc.filter(F.col("doc_id") % _BDUP_STEP == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_BDUP_OFFSET)
    )
    corpus = fc.unionByName(copies)
    return (
        corpus.groupBy(F.md5("image").alias("__digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


MULTIMODAL_BDUP_ORACLE = f"""
WITH all_docs AS (
    SELECT doc_id, doc_id % 251 AS src FROM documents
    UNION ALL
    SELECT doc_id + {_BDUP_OFFSET}, doc_id % 251 FROM documents
    WHERE doc_id % {_BDUP_STEP} = 0
)
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM all_docs GROUP BY src
"""

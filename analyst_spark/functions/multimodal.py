"""Multimodal columns: image/audio/video as opaque ``binary`` cells
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side plumbing here is real and tested — schema contracts,
partition-balanced batching, UDF signatures, metadata extraction.
The codec layer (actual JPEG/audio decode) is NOT available in this
container (no PIL/cv2/ffmpeg), so `decode_image` ships two modes:

* ``fake`` (default): a deterministic stand-in that parses our own
  tiny header format — exercises every byte of the pipeline.
* ``pil``: reserved for a real decoder; rejected outright with
  NotImplementedError until a worker-side decode branch exists
  (ADVICE r10 — an import-only gate would pass with Pillow installed
  and then fail per-row inside the executor).

At 100 TB: binaries live in parquet/iceberg with the metadata columns
beside them, so planning prunes on metadata (width/duration/mime)
WITHOUT touching bytes; only surviving rows' binary cells are read
(parquet column projection), then decoded executor-side in Arrow
batches.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import persist

FAKE_MAGIC = b"FAKEIMG1"

FEATURE_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "mean_luma double, n_bytes long"
)


def encode_fake_image(doc_id: int, width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic synthetic 'image': header + u8 pixel payload.
    Stands in for JPEG bytes so the binary-column pipeline is testable
    in this container."""
    n = width * height
    payload = bytes(((doc_id * 31 + seed + i * 7) % 251) for i in range(n))
    return FAKE_MAGIC + struct.pack("<iii", width, height, 1) + payload


def encode_fake_images_batch(ids, width: int, height: int, seed: int = 0) -> list:
    """Vectorized :func:`encode_fake_image` for a whole Arrow batch
    (guide §4.2: one numpy pass instead of a per-row Python loop;
    r14 profiling showed the per-row generators dominating the
    multimodal entries' Python stages). Byte-identical per id —
    pinned in tests/test_multimodal_vectorized.py."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    n = width * height
    i = np.arange(n, dtype=np.int64)
    px = (ids[:, None] * 31 + seed + i[None, :] * 7) % 251
    hdr = np.frombuffer(
        FAKE_MAGIC + struct.pack("<iii", width, height, 1), dtype=np.uint8
    )
    mat = np.empty((len(ids), 20 + n), dtype=np.uint8)
    mat[:, :20] = hdr
    mat[:, 20:] = px.astype(np.uint8)
    return [row.tobytes() for row in mat]


def _fake_matrix_groups(bufs, magic: bytes, hdr_ints: int, hdr_off: int = 8):
    """Group a batch of same-format fake-media buffers into
    homogeneous (indices, header-tuple, row-matrix) groups so every
    downstream decode is one numpy slice instead of a per-row loop.

    Yields ``(idx, hdr, mat)``: ``idx`` — positions into ``bufs``
    (np.int64 array); ``hdr`` — the ``hdr_ints`` little-endian int32
    header fields shared by the group; ``mat`` — (len(idx), L) uint8
    matrix of the raw buffer bytes. Raises ValueError on a magic
    mismatch exactly like the per-row decoders did; ``magic=None``
    skips the check (the audio fingerprint path never checked)."""
    import numpy as np

    n = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    for L in np.unique(lens):
        sel = np.nonzero(lens == L)[0]
        mat = np.frombuffer(
            b"".join(bytes(bufs[i]) for i in sel), dtype=np.uint8
        ).reshape(len(sel), int(L))
        if magic is not None:
            mg = np.frombuffer(magic, dtype=np.uint8)
            if int(L) < hdr_off + 4 * hdr_ints or not (
                mat[:, :8] == mg
            ).all():
                raise ValueError(_MAGIC_ERR[magic])
        hdr = mat[:, hdr_off : hdr_off + 4 * hdr_ints].copy().view("<i4")
        for h in np.unique(hdr, axis=0):
            g = np.nonzero((hdr == h).all(axis=1))[0]
            yield sel[g], tuple(int(x) for x in h), mat[g]


def fake_images_frame(spark, n: int = 64, width: int = 8, height: int = 8) -> DataFrame:
    """A binary-column DataFrame shaped like a multimodal corpus:
    (doc_id, mime, image binary)."""
    rows = [
        (i, "image/x-fake", bytearray(encode_fake_image(i, width, height)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, mime string, image binary")


def _decode_fake(buf: bytes) -> tuple[int, int, int, float]:
    if buf[:8] != FAKE_MAGIC:
        raise ValueError("not a fake image")
    w, h, c = struct.unpack("<iii", buf[8:20])
    pixels = buf[20 : 20 + w * h * c]
    mean = sum(pixels) / max(len(pixels), 1)
    return w, h, c, mean


def _require_fake_decoder(decoder: str) -> None:
    """Every worker below decodes with :func:`_decode_fake`
    unconditionally, so ``decoder='pil'`` must be rejected OUTRIGHT
    (ADVICE r10: the old import-only gate passed when Pillow was
    installed, then failed per-row inside the executor with
    'not a fake image'). The PIL path stays NotImplementedError until
    a real run() branch exists, whether or not Pillow imports."""
    if decoder == "pil":
        raise NotImplementedError(
            "the 'pil' decode path is not implemented (workers decode "
            "the deterministic fake format only); use decoder='fake' "
            "for the pipeline plumbing"
        )
    if decoder != "fake":
        raise ValueError(f"unknown decoder {decoder!r}; expected 'fake'")


def image_features(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "doc_id",
    decoder: str = "fake",
) -> DataFrame:
    """Decode + feature-extract binary images via mapInPandas
    (Arrow-batched; one python worker per partition, no per-row
    pickling)."""
    _require_fake_decoder(decoder)

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        # vectorized (r14, guide §4.2): one numpy pass per
        # homogeneous (size, header) group instead of a per-row
        # decode loop; sums are integer-exact so mean/round are the
        # same single FP ops the per-row path computed
        for pdf in batches:
            bufs = list(pdf[image_col])
            ids = pdf[id_col].to_numpy(dtype="int64")
            out = [None] * len(bufs)
            for idx, (w, h, c), mat in _fake_matrix_groups(
                bufs, FAKE_MAGIC, 3
            ):
                px = mat[:, 20 : 20 + w * h * c]
                np_len = max(px.shape[1], 1)
                means = px.sum(axis=1, dtype=np.int64) / np_len
                for j, m in zip(idx, means):
                    out[int(j)] = (
                        int(ids[j]), w, h, c,
                        round(float(m), 6), mat.shape[1],
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "mean_luma", "n_bytes",
                ],
            )

    from analyst_spark.tables import spread

    return spread(df, id_col).mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    image_col: str = "image",
    id_col: str = "doc_id",
) -> DataFrame:
    """Nearest-neighbor resize of fake images (the transform-shaped
    multimodal op: binary in → binary out, metadata updated)."""

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        # vectorized (r14, guide §4.2): one gather per homogeneous
        # group; the sample-index arithmetic is unchanged
        for pdf in batches:
            bufs = list(pdf[image_col])
            ids = pdf[id_col].to_numpy(dtype="int64")
            out_ids = [None] * len(bufs)
            out_bufs = [None] * len(bufs)
            hdr_out = FAKE_MAGIC + struct.pack(
                "<iii", target_w, target_h, 1
            )
            hdr_mat = np.frombuffer(hdr_out, dtype=np.uint8)
            for idx, (w, h, c), mat in _fake_matrix_groups(
                bufs, FAKE_MAGIC, 3
            ):
                ys = np.minimum(
                    (np.arange(target_h) * h) // target_h, h - 1
                )
                xs = np.minimum(
                    (np.arange(target_w) * w) // target_w, w - 1
                )
                sel = (ys[:, None] * w + xs[None, :]).ravel()
                px = mat[:, 20:][:, sel]
                res = np.empty(
                    (len(idx), 20 + target_w * target_h), dtype=np.uint8
                )
                res[:, :20] = hdr_mat
                res[:, 20:] = px
                for j, row in zip(idx, res):
                    out_ids[int(j)] = int(ids[j])
                    out_bufs[int(j)] = row.tobytes()
            yield pd.DataFrame({"doc_id": out_ids, "image": out_bufs})

    from analyst_spark.tables import spread

    return spread(df, id_col).mapInPandas(run, schema="doc_id long, image binary")


# ------------------------------------------ perceptual image dedup

DHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"
# 32-bit band values exceed a signed int — the wide signature frame
# carries its bands as longs (the Hamming engine is width-agnostic:
# xor + bit_count over whatever integer arrives)
DHASH128_SCHEMA = "doc_id long, b0 long, b1 long, b2 long, b3 long"


def image_dhash_bands(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "doc_id",
    decoder: str = "fake",
    band_bits: int = 16,
    fan_out: bool = True,
) -> DataFrame:
    """dHash perceptual signature of a binary image column (VERDICT
    r9 #3): decode → luma grid → nearest-neighbor resample →
    horizontal-gradient bits (bit y*8+x is
    ``p[y][x] > p[y][(x+1) % 8]`` — the wraparound variant keeps a
    full bit per grid cell; classic dHash samples one extra column
    for the same reason) — returned as FOUR band integers (b0..b3),
    never as one packed value: the bands are the LSH join key and
    band ints hash cleanly cross-engine.

    ``band_bits`` picks the signature WIDTH (VERDICT r11 #1 — the
    wide-band option):

    * ``16`` (default) — 8×8 grid, 64 bits, four 16-bit bands. Every
      pre-r12 gate hash is under this default.
    * ``32`` — 16×8 grid, 128 bits, four 32-bit bands. Same recall
      contract (the pigeonhole proof in
      :func:`banded_hamming_pairs` depends only on the band COUNT),
      but the RANDOM band-collision coefficient drops from
      4·C(n,2)/2^16 to 4·C(n,2)/2^32 — the r11 decade probe measured
      ~62M spurious candidates at 1.43M diverse 16-bit signatures
      (8.2s, SCALE.md), which extrapolates unworkably at ≥10M
      signatures; at 32-bit bands the same corpus produces ~a
      thousandth of that. Sign at 32 bits for ≥10M-asset corpora.

    Gradient signs survive re-encoding/brightness shifts that change
    raw bytes — the property that makes dHash a NEAR-dup key where
    md5(bytes) (multimodal_binary_dedup) is the exact-dup key.

    Arrow-batched mapInPandas, numpy-vectorized across the batch
    (one comparison matrix per batch, no per-pixel Python); `pil`
    decoder is rejected outright like :func:`image_features`.
    """
    _require_fake_decoder(decoder)
    if band_bits not in (16, 32):
        raise ValueError(
            f"band_bits={band_bits}: the 4-band split supports 16 "
            "(64-bit dHash) or 32 (128-bit dHash)"
        )

    from analyst_spark.tables import spread

    # fan_out=False (r15, guide §2.4): callers whose input is already
    # well-partitioned — a corpus just produced by spread()+
    # mapInPandas, or slices of a cached frame — skip the repartition,
    # which otherwise shuffles every IMAGE BYTE a second time for
    # nothing (the signatures it produces are 40 bytes/row).
    src = spread(df, id_col) if fan_out else df
    return src.mapInPandas(
        _dhash_worker(image_col, id_col, band_bits),
        schema=DHASH_SCHEMA if band_bits == 16 else DHASH128_SCHEMA,
    )


def _dhash_worker(image_col: str, id_col: str, band_bits: int = 16):
    """The dHash mapInPandas generator, factored so the batch entry
    (:func:`image_dhash_bands`) and the STREAMING twin (stateless
    per-row signatures — mapInPandas is stream-legal, spread() is
    pointless per micro-batch) compute byte-identical signatures.
    ``band_bits=16`` → 8×8 grid / 64 bits; ``32`` → 16×8 grid /
    128 bits (each band covers 4 grid rows instead of 2)."""
    n_rows = 8 if band_bits == 16 else 16
    n_bits = n_rows * 8

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        # output pixel (y, x) of the grid resample reads source index
        # (y*h DIV n_rows)*w + (x*w DIV 8); comparison partner is
        # x+1 mod 8 within the row. Vectorized across the batch (r14,
        # guide §4.2): one gather + one comparison matrix per
        # homogeneous (size, header) group — no per-row decode loop.
        idx = np.arange(n_bits)
        nbr = (idx // 8) * 8 + ((idx % 8) + 1) % 8
        weights = np.int64(1) << (idx % band_bits)
        for pdf in batches:
            bufs = list(pdf[image_col])
            all_ids = pdf[id_col].to_numpy(dtype="int64")
            if not len(bufs):
                continue
            ids_parts, band_parts = [], []
            for gsel, (w, h, c), mat in _fake_matrix_groups(
                bufs, FAKE_MAGIC, 3
            ):
                sy = (np.arange(n_rows) * h) // n_rows
                sx = (np.arange(8) * w) // 8
                sel = (sy[:, None] * w + sx[None, :]).ravel()
                g = mat[:, 20 : 20 + w * h][:, sel].astype(np.int32)
                bits = (g > g[:, nbr]).astype(np.int64)
                band_parts.append(
                    [
                        (
                            bits[:, k * band_bits : (k + 1) * band_bits]
                            * weights[:band_bits]
                        ).sum(axis=1)
                        for k in range(4)
                    ]
                )
                ids_parts.append(all_ids[gsel])
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_parts),
                    "b0": np.concatenate([p[0] for p in band_parts]),
                    "b1": np.concatenate([p[1] for p in band_parts]),
                    "b2": np.concatenate([p[2] for p in band_parts]),
                    "b3": np.concatenate([p[3] for p in band_parts]),
                }
            )

    return run


def perceptual_dedup_pairs(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "doc_id",
    max_distance: int = 3,
    decoder: str = "fake",
    fan_out: bool = True,
) -> DataFrame:
    """Perceptual image near-dup pairs via a banded Hamming join —
    NEVER all-pairs (VERDICT r9 #3).

    Completeness (pigeonhole, the prefix-family proof style): the
    64-bit dHash is split into 4 disjoint 16-bit bands; a pair at
    Hamming distance <= 3 has its differing bits in at most 3 bands,
    so AT LEAST ONE band is bit-identical and the equi-join on
    (band_idx, band_value) finds the pair — recall exactly 1 for
    ``max_distance <= 3`` (more generally, distance < #bands).
    Verification computes the exact distance with 4 xor+bit_count
    JVM expressions per candidate — no Python, no image bytes.

    Scale shape: the signature pass reads each image once
    (Arrow-batched); candidates are bucket-join-bounded (a bucket =
    images sharing one band value); verify cost is candidates × 4
    integer ops. The signature frame is persisted and materialized
    before the self-join plans (the ``persist(fill=True)`` discipline
    from functions/dedup.py — same static mis-broadcast hazard class).

    Output: (id_a, id_b, hamming), id_a < id_b,
    hamming <= max_distance.
    """
    return banded_hamming_pairs(
        image_dhash_bands(df, image_col, id_col, decoder, fan_out=fan_out),
        max_distance,
    )


def signature_bands(
    sigs: DataFrame,
    id_alias: str = "doc_id",
    group_cols: tuple = (),
    keep_signature: bool = False,
    sig_prefix: str = "b",
) -> DataFrame:
    """(id, [groups...], band, val) rows from a (doc_id, b0..b3)
    signature frame — THE banding step, factored once (r11 review:
    it had grown three inline copies) for the self-join engine, the
    incremental cross probe, and the streaming twin, so a banding
    change cannot silently diverge between them.

    ``keep_signature=True`` carries the four signature bands on every
    exploded row as ``{sig_prefix}0..{sig_prefix}3`` — the
    stream-static device (functions/dedup.py band_buckets, r12/r13
    review): a streaming probe that later needs the full signature
    must NOT join band rows back to the signature frame, because both
    derive from the stream and Spark plans that as a symmetric hash
    join buffering unbounded state."""
    carry = (
        [F.col(f"b{k}").alias(f"{sig_prefix}{k}") for k in range(4)]
        if keep_signature
        else []
    )
    return sigs.select(
        F.col("doc_id").alias(id_alias),
        *group_cols,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"), F.col(f"b{k}").alias("val")
                    )
                    for k in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        id_alias,
        *group_cols,
        *([f"{sig_prefix}{k}" for k in range(4)] if keep_signature else []),
        "bb.band",
        "bb.val",
    )


def _class_bands(cls: DataFrame, gcols: list[str]) -> DataFrame:
    """(band, val) explosion of a DISTINCT-signature (class) frame —
    the class-level twin of :func:`signature_bands` (r15, guide §8):
    4 rows per class, each carrying the full b0..b3 key so the banded
    class join can verify hamming inline and expand back to ids."""
    return cls.select(
        *gcols,
        *[f"b{k}" for k in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"), F.col(f"b{k}").alias("val")
                    )
                    for k in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        *gcols, *[f"b{k}" for k in range(4)], "bb.band", "bb.val"
    )


def hamming_expr(a_prefix: str = "__a", b_prefix: str = "__b"):
    """The 4× xor+bit_count verification expression over prefixed
    band columns — the shared verify arithmetic (same factoring
    rationale as :func:`signature_bands`)."""
    return sum(
        F.expr(f"bit_count({a_prefix}{k} ^ {b_prefix}{k})") for k in range(4)
    ).cast("long")


def banded_hamming_pairs(
    sigs: DataFrame,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Banded Hamming self-join over ANY (doc_id, b0..b3) signature
    frame — the shared engine under the image dHash and audio
    fingerprint near-dup joins. Pigeonhole recall-1: a pair at
    distance <= 3 differs in at most 3 of the 4 disjoint bands, so at
    least one band is identical and the (band, value) equi-join finds
    it; verification is 4 xor+bit_count JVM ops per candidate. The
    signature frame is persisted and materialized before the
    self-join plans (the ``persist(fill=True)`` discipline; a frame
    its owner already persisted or checkpointed is used as it is).

    The engine is band-WIDTH agnostic (r12, VERDICT r11 #1): the
    recall proof depends only on the band COUNT (4), while the
    random-collision coefficient is 4·C(n,2)/2^band_bits — width is
    chosen where signatures are made
    (:func:`image_dhash_bands(band_bits=32)` emits a 128-bit dHash
    as four 32-bit long bands through this identical join). The r11
    decade probe measured ~62M collision candidates at 1.43M diverse
    16-bit signatures; the r12 wide-band probe (SCALE.md,
    tools/r12_probe.py wideband) shows the 32-bit form bounded with
    planted recall 1.0 at 10M signatures, where 16-bit banding is
    untenable (~3.1e9 expected candidates).

    ``max_distance`` must be < 4 (the band count): at distance >= 4
    every band can differ and the pigeonhole guarantee evaporates —
    rejected explicitly (ADVICE r10) rather than silently losing
    recall, mirroring the prefix-join family's recall contract.

    ``max_bucket_size`` (opt-in, VERDICT r10 #1 — the
    ``max_bucket_size`` storm discipline from
    :func:`~analyst_spark.functions.dedup.minhash_pairs` ported to
    the perceptual join): a degenerate corpus (solid-color images,
    constant-energy audio) collapses whole corpora into one
    (band, val) bucket, and the self-join goes quadratic in that
    bucket. With the cap set, buckets holding more than
    ``max_bucket_size`` signatures are SKIPPED in the candidate join
    and reported on the result as ``result._asp_dropped_buckets`` —
    a lazy (band, val, bsz, dropped_pairs = C(bsz, 2)) frame so the
    recall trade is measured, never silent. Recall stays 1 for any
    pair that shares at least one NON-hot band; only pairs whose
    every identical band is hot can be missed. Default None keeps
    the exact pigeonhole proof and every gate hash untouched.

    ``group_col`` (r11, the video extension): when set, the frame
    carries one signature per (doc, group) — e.g. per sampled VIDEO
    FRAME — and pairing is group-ALIGNED: the candidate join and the
    verify join both require equal group values, so a clip's frame f
    only ever meets other clips' frame f (temporal alignment, the
    standard video-fingerprint rule). Output gains the group column:
    (group, id_a, id_b, hamming). The pigeonhole recall-1 proof
    applies PER GROUP unchanged.
    """
    if not 0 <= max_distance < 4:
        raise ValueError(
            f"max_distance={max_distance} outside the pigeonhole "
            "recall-1 range of the 4-band split; distance must be "
            "< 4 (at >= 4 all bands can differ and the banded join "
            "silently loses pairs)"
        )
    sigs = persist(sigs, fill=True)  # real stats before the self-join
    gcols = [group_col] if group_col else []
    if max_bucket_size is None:
        # Class-level candidates (r15, guide §8 "decide with small
        # rows"): dedup corpora carry heavy signature multiplicity
        # (byte-dup storms are the workload), and the id-level banded
        # self-join pays |classA|x|classB| candidate rows through the
        # distinct exchange for every colliding class pair. Generate
        # and VERIFY candidates over DISTINCT signatures instead —
        # the hamming filter runs before the distinct, so the
        # exchange carries only true class pairs — then expand back
        # to id pairs with two joins on the signature key. Measured
        # on the multiday probe: 5.35M candidate rows / 102.7 MiB
        # distinct exchange -> class pairs in the thousands. The
        # expansion emits each unordered id pair exactly once (a doc
        # has one signature per group, so an id pair maps to one
        # class pair), oriented id_a < id_b exactly like the id-level
        # join; hamming is integer arithmetic, so values are
        # identical. Cost at unique-signature corpora: one extra
        # narrow distinct of the 16-byte signatures — bounded; the
        # capped path below keeps the id-level bucket-occupancy
        # semantics untouched.
        sig_cols = [f"b{k}" for k in range(4)]
        cls = sigs.select(*gcols, *sig_cols).distinct()
        cbands = _class_bands(cls, gcols)
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (
                F.struct(*[F.col(f"a.b{k}") for k in range(4)])
                <= F.struct(*[F.col(f"b.b{k}") for k in range(4)])
            )
        )
        for g in gcols:
            cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
        hamming = hamming_expr()
        cpairs = (
            cbands.alias("a")
            .join(cbands.alias("b"), cond)
            .select(
                *[F.col(f"a.{g}") for g in gcols],
                *[F.col(f"a.b{k}").alias(f"__a{k}") for k in range(4)],
                *[F.col(f"b.b{k}").alias(f"__b{k}") for k in range(4)],
            )
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_distance)
            .distinct()
        )
        ia = sigs.select(
            F.col("doc_id").alias("id_a"),
            *gcols,
            *[F.col(f"b{k}").alias(f"__a{k}") for k in range(4)],
        )
        ib = sigs.select(
            F.col("doc_id").alias("id_b"),
            *gcols,
            *[F.col(f"b{k}").alias(f"__b{k}") for k in range(4)],
        )
        same_class = None
        for k in range(4):
            eq = F.col(f"__a{k}") == F.col(f"__b{k}")
            same_class = eq if same_class is None else (same_class & eq)
        out = (
            cpairs.join(ia, gcols + [f"__a{k}" for k in range(4)])
            .join(ib, gcols + [f"__b{k}" for k in range(4)])
            # same-class pairs are generated once (A, A): order them
            # here; cross-class pairs are generated once per
            # canonical class order and oriented by least/greatest
            .filter(~same_class | (F.col("id_a") < F.col("id_b")))
            .select(
                *gcols,
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "hamming",
            )
        )
        return out
    bands = signature_bands(sigs, "doc_id", tuple(gcols))
    bucket_key = gcols + ["band", "val"]
    dropped = None
    join_src = bands
    if max_bucket_size is not None:
        bsz = bands.groupBy(*bucket_key).agg(
            F.count(F.lit(1)).alias("bsz")
        )
        keep = bsz.filter(F.col("bsz") <= max_bucket_size).select(
            *bucket_key
        )
        dropped = bsz.filter(F.col("bsz") > max_bucket_size).select(
            *bucket_key,
            "bsz",
            (F.col("bsz") * (F.col("bsz") - 1) / 2)
            .cast("long")
            .alias("dropped_pairs"),
        )
        # co-partitioned hash join on the bucket key; the kept-set is
        # corpus-derived, AQE decides broadcast
        join_src = bands.join(keep, bucket_key)
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for g in gcols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    cand = (
        join_src.alias("a")
        .join(join_src.alias("b"), cond)
        .select(
            *[F.col(f"a.{g}") for g in gcols],
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *gcols,
        *[F.col(f"b{k}").alias(f"__a{k}") for k in range(4)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *gcols,
        *[F.col(f"b{k}").alias(f"__b{k}") for k in range(4)],
    )
    hamming = hamming_expr()
    out = (
        cand.join(sa, gcols + ["id_a"])
        .join(sb, gcols + ["id_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select(*gcols, "id_a", "id_b", "hamming")
    )
    if dropped is not None:
        out._asp_dropped_buckets = dropped  # type: ignore[attr-defined]
    return out


AUDIO_FP_FRAMES = 65  # 65 frame energies -> 64 delta bits


def audio_fingerprint_bands(
    df: DataFrame,
    audio_col: str = "audio",
    id_col: str = "doc_id",
    fan_out: bool = True,
) -> DataFrame:
    """Perceptual audio fingerprint of a binary PCM column — the
    audio sibling of :func:`image_dhash_bands` (the chromaprint
    idea reduced to its energy-delta core): split the signal into
    65 equal frames, take each frame's energy (Σ v², exact int64),
    and set bit b to ``E[b] > E[b+1]`` — 64 energy-GRADIENT signs,
    robust to gain changes the way dHash gradients are robust to
    brightness. Returned as the same four 16-bit band integers, so
    :func:`banded_hamming_pairs` joins them with the identical
    pigeonhole recall-1 guarantee.

    Frame length = n_samples DIV 65 (trailing remainder ignored);
    clips shorter than 65 samples are dropped — they cannot carry
    the 64-bit fingerprint, matching the shingle-less-document rule.
    Arrow-batched mapInPandas, numpy-vectorized per batch.
    """

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        # vectorized (r14, guide §4.2): frame energies are exact
        # int64 sums — one reshape/sum per homogeneous group instead
        # of a per-row loop. Clips shorter than 65 samples are still
        # dropped; no magic check, exactly like the per-row form.
        w16 = np.arange(16)
        for pdf in batches:
            bufs = list(pdf[audio_col])
            all_ids = pdf[id_col].to_numpy(dtype="int64")
            ids_parts, band_parts = [], []
            for idx, (_sr, n), mat in _fake_matrix_groups(
                bufs, None, 2
            ):
                if n < AUDIO_FP_FRAMES:
                    continue
                flen = n // AUDIO_FP_FRAMES
                s = (
                    mat[:, 16 : 16 + 2 * AUDIO_FP_FRAMES * flen]
                    .copy().view("<i2").astype(np.int64)
                )
                e = (
                    (s * s)
                    .reshape(len(idx), AUDIO_FP_FRAMES, flen)
                    .sum(axis=2)
                )
                bits = (e[:, :64] > e[:, 1:]).astype(np.int64)
                band_parts.append(
                    [
                        (bits[:, k * 16 : (k + 1) * 16] << w16).sum(axis=1)
                        for k in range(4)
                    ]
                )
                ids_parts.append(all_ids[idx])
            if not ids_parts:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_parts),
                    "b0": np.concatenate([p[0] for p in band_parts]),
                    "b1": np.concatenate([p[1] for p in band_parts]),
                    "b2": np.concatenate([p[2] for p in band_parts]),
                    "b3": np.concatenate([p[3] for p in band_parts]),
                }
            )

    from analyst_spark.tables import spread

    # see image_dhash_bands: fan_out=False skips the second shuffle
    # of the audio bytes when the input is already well-partitioned
    src = spread(df, id_col) if fan_out else df
    return src.mapInPandas(run, schema=DHASH_SCHEMA)


FAKE_AUDIO_MAGIC = b"FAKEAUD1"

AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_samples long, sample_rate int, "
    "rms double, zero_crossings long, duration_s double"
)


def encode_fake_audio(
    doc_id: int, n_samples: int = 1000, sample_rate: int = 16000
) -> bytes:
    """Deterministic synthetic 'audio': header + int16 PCM samples in
    [-100, 100]. Sample i of doc d = ((d*17 + i*13) % 201) - 100 —
    integer-exact, so every derived feature has a closed-form SQL
    twin."""
    samples = [((doc_id * 17 + i * 13) % 201) - 100 for i in range(n_samples)]
    return (
        FAKE_AUDIO_MAGIC
        + struct.pack("<ii", sample_rate, n_samples)
        + struct.pack(f"<{n_samples}h", *samples)
    )


def encode_fake_audios_batch(
    ids, n_samples: int = 1000, sample_rate: int = 16000
) -> list:
    """Vectorized :func:`encode_fake_audio` (guide §4.2) —
    byte-identical per id, one numpy pass per Arrow batch."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    i = np.arange(n_samples, dtype=np.int64)
    s = ((ids[:, None] * 17 + i[None, :] * 13) % 201) - 100
    hdr = np.frombuffer(
        FAKE_AUDIO_MAGIC + struct.pack("<ii", sample_rate, n_samples),
        dtype=np.uint8,
    )
    body = s.astype("<i2").view(np.uint8).reshape(len(ids), 2 * n_samples)
    mat = np.empty((len(ids), 16 + 2 * n_samples), dtype=np.uint8)
    mat[:, :16] = hdr
    mat[:, 16:] = body
    return [row.tobytes() for row in mat]


def _decode_fake_audio(buf: bytes) -> tuple[int, tuple]:
    if buf[:8] != FAKE_AUDIO_MAGIC:
        raise ValueError("not a fake audio buffer")
    sr, n = struct.unpack("<ii", buf[8:16])
    return sr, struct.unpack(f"<{n}h", buf[16 : 16 + 2 * n])


def audio_features(
    df: DataFrame, audio_col: str = "audio", id_col: str = "doc_id"
) -> DataFrame:
    """Decode + feature-extract binary audio via mapInPandas: RMS
    level, zero-crossing count, duration. Integer accumulation then
    one exactly-rounded division/sqrt, so results match a SQL oracle
    bit-for-bit (sums stay < 2^53)."""

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import math

        import numpy as np
        import pandas as pd

        # vectorized (r14, guide §4.2): integer accumulation is
        # order-free (exact int64 sums < 2^53), so the numpy batch
        # form is value-identical to the old per-sample Python loop;
        # sqrt/round stay the same single FP ops per row
        for pdf in batches:
            bufs = list(pdf[audio_col])
            ids = pdf[id_col].to_numpy(dtype="int64")
            out = [None] * len(bufs)
            for idx, (sr, n), mat in _fake_matrix_groups(
                bufs, FAKE_AUDIO_MAGIC, 2
            ):
                # truncation guard (ADVICE r14): a buffer shorter than
                # its header's sample count must fail loudly like the
                # old per-row struct.unpack did, not silently average
                # over fewer samples
                if mat.shape[1] < 16 + 2 * n:
                    raise struct.error(
                        f"fake audio buffer truncated: {mat.shape[1]}"
                        f" bytes < 16 + 2*{n}"
                    )
                s = (
                    mat[:, 16 : 16 + 2 * n].copy().view("<i2")
                    .astype(np.int64)
                )
                sq = (s * s).sum(axis=1)
                neg = s < 0
                zc = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
                for j, sqv, zcv in zip(idx, sq, zc):
                    out[int(j)] = (
                        int(ids[j]), n, sr,
                        round(math.sqrt(int(sqv) / n), 6), int(zcv),
                        round(n / sr, 6),
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_samples", "sample_rate",
                    "rms", "zero_crossings", "duration_s",
                ],
            )

    from analyst_spark.tables import spread

    return spread(df, id_col).mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


def frame_sample_plan(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Video frame-sampling *plan* shape: explode (id, frame_idx) for
    idx % every_n == 0 — pure Catalyst, the decode happens in a later
    mapInPandas over the sampled (id, idx) pairs only. Demonstrates
    pruning-before-decode: at scale you never decode frames you drop."""
    return (
        df.select(F.col(id_col), F.col("n_frames"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


# ------------------------------------------ perceptual video dedup

FAKE_VIDEO_MAGIC = b"FAKEVID1"

# magic -> the error message the per-row decoders raised (kept
# verbatim by the vectorized _fake_matrix_groups path)
_MAGIC_ERR = {
    FAKE_MAGIC: "not a fake image",
    FAKE_AUDIO_MAGIC: "not a fake audio buffer",
    FAKE_VIDEO_MAGIC: "not a fake video",
}

VIDEO_DHASH_SCHEMA = "doc_id long, frame_idx int, b0 int, b1 int, b2 int, b3 int"


def encode_fake_video(
    doc_id: int, n_frames: int, width: int = 8, height: int = 8
) -> bytes:
    """Deterministic synthetic 'video': header + n_frames contiguous
    u8 frame payloads. Frame f, pixel i = (doc_id*31 + f*11 + i*7)
    % 251 — closed-form per (doc, frame, pixel), the property that
    lets the catalog oracle derive every frame signature in SQL."""
    n = width * height
    frames = bytearray()
    for f in range(n_frames):
        base = doc_id * 31 + f * 11
        frames.extend(bytes((base + i * 7) % 251 for i in range(n)))
    return (
        FAKE_VIDEO_MAGIC
        + struct.pack("<iii", width, height, n_frames)
        + bytes(frames)
    )


def encode_fake_videos_batch(ids, n_frames, width: int = 8, height: int = 8) -> list:
    """Vectorized :func:`encode_fake_video` (guide §4.2) —
    byte-identical per (id, n_frames); ``n_frames`` may be a scalar
    or a per-id array (rows grouped by frame count internally)."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    nf = np.broadcast_to(
        np.asarray(n_frames, dtype=np.int64), ids.shape
    )
    n = width * height
    i = np.arange(n, dtype=np.int64)
    res: list = [None] * len(ids)
    for nfv in np.unique(nf):
        sel = np.nonzero(nf == nfv)[0]
        f = np.arange(nfv, dtype=np.int64)
        base = ids[sel, None, None] * 31 + f[None, :, None] * 11
        px = ((base + i[None, None, :] * 7) % 251).astype(np.uint8)
        hdr = np.frombuffer(
            FAKE_VIDEO_MAGIC
            + struct.pack("<iii", width, height, int(nfv)),
            dtype=np.uint8,
        )
        mat = np.empty((len(sel), 20 + int(nfv) * n), dtype=np.uint8)
        mat[:, :20] = hdr
        mat[:, 20:] = px.reshape(len(sel), int(nfv) * n)
        for j, row in zip(sel, mat):
            res[int(j)] = row.tobytes()
    return res


def video_frame_dhash_bands(
    df: DataFrame,
    video_col: str = "video",
    id_col: str = "doc_id",
    every_n: int = 2,
    decoder: str = "fake",
    fan_out: bool = True,
) -> DataFrame:
    """dHash bands of every ``every_n``-th frame of a binary video
    column — :func:`image_dhash_bands` lifted to (doc, frame) rows
    (VERDICT r10 #5). Sampling happens BEFORE decode: only the
    sampled frames' byte ranges are sliced out of the buffer (the
    frame_sample_plan prune-then-decode shape; a real codec seeks to
    the sampled keyframes). Arrow-batched mapInPandas, one numpy
    comparison matrix per batch across ALL sampled frames.

    Output one row per sampled frame: (doc_id, frame_idx, b0..b3) —
    the group-keyed signature frame
    :func:`banded_hamming_pairs(group_col='frame_idx')` joins
    frame-aligned."""
    _require_fake_decoder(decoder)

    def run(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        # vectorized (r14, guide §4.2): one gather + one comparison
        # matrix per homogeneous (size, header) group — the sampled
        # frames' byte ranges are gathered as column indices, so
        # only sampled frames are touched (prune-then-decode kept)
        nbr = (np.arange(64) // 8) * 8 + ((np.arange(64) % 8) + 1) % 8
        weights = 1 << (np.arange(64) % 16)
        for pdf in batches:
            bufs = list(pdf[video_col])
            all_ids = pdf[id_col].to_numpy(dtype="int64")
            ids_parts, fidx_parts, band_parts = [], [], []
            for idx, (w, h, nf), mat in _fake_matrix_groups(
                bufs, FAKE_VIDEO_MAGIC, 3
            ):
                fsz = w * h
                sy = (np.arange(8) * h) // 8
                sx = (np.arange(8) * w) // 8
                sel = (sy[:, None] * w + sx[None, :]).ravel()
                fs = np.arange(0, nf, every_n, dtype=np.int64)
                if not len(fs):
                    continue
                cols = (20 + fs[:, None] * fsz + sel[None, :]).ravel()
                g = (
                    mat[:, cols]
                    .reshape(len(idx) * len(fs), 64)
                    .astype(np.int32)
                )
                bits = (g > g[:, nbr]).astype(np.int64)
                band_parts.append(
                    [
                        (bits[:, k * 16 : (k + 1) * 16] * weights[:16]).sum(axis=1)
                        for k in range(4)
                    ]
                )
                ids_parts.append(np.repeat(all_ids[idx], len(fs)))
                fidx_parts.append(np.tile(fs, len(idx)))
            if not ids_parts:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_parts),
                    "frame_idx": np.concatenate(fidx_parts).astype("int32"),
                    "b0": np.concatenate([p[0] for p in band_parts]),
                    "b1": np.concatenate([p[1] for p in band_parts]),
                    "b2": np.concatenate([p[2] for p in band_parts]),
                    "b3": np.concatenate([p[3] for p in band_parts]),
                }
            )

    from analyst_spark.tables import spread

    # see image_dhash_bands: fan_out=False skips the second shuffle
    # of the video bytes when the input is already well-partitioned
    src = spread(df, id_col) if fan_out else df
    return src.mapInPandas(run, schema=VIDEO_DHASH_SCHEMA)


def video_perceptual_pairs(
    frame_sigs: DataFrame,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Clip-level perceptual near-dup by FRAME-MAJORITY Hamming
    agreement (VERDICT r10 #5): per-frame matches come from the
    shared :func:`banded_hamming_pairs` engine run frame-aligned
    (``group_col='frame_idx'``) — a clip's frame f only meets other
    clips' frame f, with the per-frame pigeonhole recall-1 guarantee
    intact — then clip pairs aggregate their matching-frame count
    and keep a STRICT majority: 2 × n_frames_matched >
    n_shared_frames, where n_shared_frames = the smaller clip's
    sampled-frame count (aligned sampling grids share exactly the
    shorter prefix). Every quantity is an integer, so the decision
    is cross-engine exact.

    Because per-frame recall is 1, n_frames_matched is EXACT for
    every candidate clip pair, and a clip pair with a majority of
    matching frames has >= 1 matching frame, so it IS a candidate —
    clip-level recall 1.

    Output (id_a, id_b, n_frames_matched, n_shared_frames),
    id_a < id_b."""
    frame_pairs = banded_hamming_pairs(
        frame_sigs,
        max_distance,
        max_bucket_size=max_bucket_size,
        group_col="frame_idx",
    )
    counts = frame_sigs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__nf")
    )
    matched = frame_pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames_matched")
    )
    na = counts.select(
        F.col("doc_id").alias("id_a"), F.col("__nf").alias("__na")
    )
    nb = counts.select(
        F.col("doc_id").alias("id_b"), F.col("__nf").alias("__nb")
    )
    out = (
        matched.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "n_shared_frames", F.least("__na", "__nb").cast("long")
        )
        .filter(2 * F.col("n_frames_matched") > F.col("n_shared_frames"))
        .select("id_a", "id_b", "n_frames_matched", "n_shared_frames")
    )
    if hasattr(frame_pairs, "_asp_dropped_buckets"):
        out._asp_dropped_buckets = (  # type: ignore[attr-defined]
            frame_pairs._asp_dropped_buckets
        )
    return out


def incremental_hamming_pairs(
    index_sigs: DataFrame,
    batch_sigs: DataFrame,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Probe a NEW batch's perceptual signatures against a MAINTAINED
    history signature index — the multimodal twin of
    :func:`~analyst_spark.functions.dedup.incremental_neardup_pairs`
    (r11): which images/audio clips of today's crawl are perceptual
    near-dups of anything already ingested?

    History participates ONLY as its (doc_id, b0..b3) signature
    index — 16 bytes + id per asset, appended per ingest, bytes never
    re-decoded. Candidates come from the (band, val) equi-join of
    batch bands against index bands (the pigeonhole recall-1
    argument is unchanged: a cross pair at distance <= 3 shares at
    least one identical band); verification is the same 4
    xor+bit_count JVM ops. ``max_bucket_size`` caps hot INDEX
    buckets with the dropped accounting (``_asp_dropped_buckets``,
    here (band, val, bsz = index occupancy, dropped_rows = the
    batch×index candidate rows removed)).

    Output (id_batch, id_hist, hamming); id spaces must be disjoint
    (new ingest ids by construction)."""
    if not 0 <= max_distance < 4:
        raise ValueError(
            f"max_distance={max_distance} outside the pigeonhole "
            "recall-1 range of the 4-band split"
        )
    # idempotent stats fill (r14): a frame the caller (or an earlier
    # probe in the same lifecycle) already recorded is not counted
    # again — re-counting it is a pure scheduler-overhead job at gate
    # scale (the r14 job decomposition measured the multiday entries
    # at 66-91 jobs each, mostly re-materializations of already-cached
    # state)
    index_sigs = persist(index_sigs, fill=True)
    batch_sigs = persist(batch_sigs, fill=True)
    if max_bucket_size is None:
        # Class-level probe (r15, guide §8 — same device as the
        # banded_hamming_pairs rewrite above): band-join DISTINCT
        # batch signatures against DISTINCT index signatures, verify
        # hamming on class pairs before the distinct, then expand to
        # (id_batch, id_hist) with two signature-keyed joins. The
        # probe is directed (batch x index), so no canonical-order
        # device is needed; each id pair maps to exactly one class
        # pair, so the expansion multiset equals the id-level join's.
        cb = batch_sigs.select("b0", "b1", "b2", "b3").distinct()
        ch = index_sigs.select("b0", "b1", "b2", "b3").distinct()
        hamming = hamming_expr()
        cpairs = (
            _class_bands(cb, []).alias("a")
            .join(
                _class_bands(ch, []).alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.val") == F.col("b.val")),
            )
            .select(
                *[F.col(f"a.b{k}").alias(f"__a{k}") for k in range(4)],
                *[F.col(f"b.b{k}").alias(f"__b{k}") for k in range(4)],
            )
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_distance)
            .distinct()
        )
        sb = batch_sigs.select(
            F.col("doc_id").alias("id_batch"),
            *[F.col(f"b{k}").alias(f"__a{k}") for k in range(4)],
        )
        sh = index_sigs.select(
            F.col("doc_id").alias("id_hist"),
            *[F.col(f"b{k}").alias(f"__b{k}") for k in range(4)],
        )
        out = (
            cpairs.join(sb, [f"__a{k}" for k in range(4)])
            .join(sh, [f"__b{k}" for k in range(4)])
            .select("id_batch", "id_hist", "hamming")
        )
        return out
    hb = signature_bands(index_sigs, "id_hist")
    bb = signature_bands(batch_sigs, "id_batch")
    dropped = None
    if max_bucket_size is not None:
        bsz = hb.groupBy("band", "val").agg(F.count(F.lit(1)).alias("bsz"))
        keep = bsz.filter(F.col("bsz") <= max_bucket_size).select(
            "band", "val"
        )
        hot = bsz.filter(F.col("bsz") > max_bucket_size)
        # dropped candidate rows = batch occupancy × index occupancy
        # of the hot bucket (the rows the cap removes from THIS join)
        bocc = bb.groupBy("band", "val").agg(
            F.count(F.lit(1)).alias("__bocc")
        )
        dropped = hot.join(bocc, ["band", "val"]).select(
            "band",
            "val",
            "bsz",
            (F.col("bsz") * F.col("__bocc")).cast("long").alias(
                "dropped_rows"
            ),
        )
        hb = hb.join(keep, ["band", "val"])
    cand = (
        bb.join(hb, ["band", "val"])
        .select("id_batch", "id_hist")
        .distinct()
    )
    sb = batch_sigs.select(
        F.col("doc_id").alias("id_batch"),
        *[F.col(f"b{k}").alias(f"__a{k}") for k in range(4)],
    )
    sh = index_sigs.select(
        F.col("doc_id").alias("id_hist"),
        *[F.col(f"b{k}").alias(f"__b{k}") for k in range(4)],
    )
    hamming = hamming_expr()
    out = (
        cand.join(sb, "id_batch")
        .join(sh, "id_hist")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("id_batch", "id_hist", "hamming")
    )
    if dropped is not None:
        out._asp_dropped_buckets = dropped  # type: ignore[attr-defined]
    return out


def incremental_hamming_ingest(
    index_sigs: DataFrame,
    batch_sigs: DataFrame,
    reported: DataFrame | None = None,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
    include_intra_batch: bool = True,
    eager_batch_count: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE DAY of the incremental PERCEPTUAL lifecycle (VERDICT r11
    #3) — the multimodal member of the family whose text form is
    :func:`~analyst_spark.functions.dedup.incremental_neardup_ingest`:
    probe the new crawl batch's dHash/audio-fingerprint signatures
    against the maintained history index, append the batch
    signatures (16 bytes + id per asset, bytes never re-decoded),
    extend the already-reported ledger. Returns
    ``(pairs, new_index, new_reported)`` with pairs =
    (id_batch, id_hist, hamming) — cross pairs against everything
    ingested before plus, with ``include_intra_batch``, same-day
    pairs via :func:`banded_hamming_pairs` (the earlier id plays the
    history role, matching the family convention).

    The lifecycle plumbing (self-pair suppression, unordered-pair-key
    ledger anti-join, replay-safe append, storage-backed state via
    save_state/load_state) is the SHARED
    :mod:`analyst_spark.functions.incremental` implementation — this
    function contributes only the Hamming probes. Pigeonhole
    recall-1 per probe is unchanged; ``max_bucket_size`` caps hot
    buckets with the usual dropped accounting on ``pairs``.
    """
    from analyst_spark.functions.incremental import lifecycle_day

    # shared by cross probe, intra join, append; recorded, so the
    # probe engines don't re-count the same frame (r14: the cross
    # probe re-ran a dedicated count job per day). Callers whose batch
    # derives from an already-cached signature table pass
    # ``eager_batch_count=False``: the cache fills on first use, and
    # at gate scale every eager action is a fixed-latency job (r13
    # trim).
    batch_sigs = persist(batch_sigs, fill=eager_batch_count)
    dropped: list[DataFrame] = []

    def cross(idx: DataFrame, bs: DataFrame) -> DataFrame:
        out = incremental_hamming_pairs(
            idx, bs, max_distance, max_bucket_size
        )
        if hasattr(out, "_asp_dropped_buckets"):
            dropped.append(out._asp_dropped_buckets)
        return out

    def intra(bs: DataFrame) -> DataFrame:
        out = banded_hamming_pairs(
            bs, max_distance, max_bucket_size=max_bucket_size
        )
        if hasattr(out, "_asp_dropped_buckets"):
            dropped.append(out._asp_dropped_buckets)
        return out.select(
            F.col("id_b").alias("id_batch"),
            F.col("id_a").alias("id_hist"),
            "hamming",
        )

    def fused(idx: DataFrame, bs: DataFrame) -> DataFrame:
        # ONE banded probe for cross + intra (r14, guide §2.4 — two
        # operations keyed the same way share one exchange): the
        # history side of the (band, val) equi-join is index ∪ batch
        # with a provenance flag; batch-side collisions additionally
        # require id_hist < id_batch (the family's intra orientation:
        # the earlier id plays the history role). Candidates are
        # distinct per (pair, provenance) and the verify join resolves
        # signatures on (id_hist, provenance), so the emitted multiset
        # is exactly cross ∪ intra even when batch ids already sit in
        # the index (replay). Halves the per-day join pipelines the
        # split form ran (each was its own AQE job chain at gate
        # scale).
        idx = persist(idx, fill=True)
        # Class-level candidates (r15, guide §8 — the same
        # distinct-signature device as banded_hamming_pairs): the
        # (band, val) equi-join and the hamming verify run over
        # DISTINCT signatures (hamming filtered BEFORE the distinct,
        # so the exchange carries only true class pairs), and two
        # signature-keyed joins expand back to ids. The provenance
        # flag and the intra orientation are preserved: class pairs
        # keep __hist, the (id_hist < id_batch) batch-side filter is
        # applied at expansion time (it is an id-level predicate),
        # and each (id_batch, id_hist, __hist) row expands exactly
        # once — the emitted multiset is unchanged, including the
        # replay case where a batch id already sits in the index.
        cb = bs.select("b0", "b1", "b2", "b3").distinct()
        chb = (
            idx.select("b0", "b1", "b2", "b3")
            .distinct()
            .withColumn("__hist", F.lit(True))
            .unionByName(cb.withColumn("__hist", F.lit(False)))
        )
        hamming = hamming_expr()
        cpairs = (
            _class_bands(cb, []).alias("a")
            .join(
                _class_bands(chb, ["__hist"]).alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.val") == F.col("b.val")),
            )
            .select(
                *[F.col(f"a.b{k}").alias(f"__a{k}") for k in range(4)],
                *[F.col(f"b.b{k}").alias(f"__b{k}") for k in range(4)],
                F.col("b.__hist").alias("__hist"),
            )
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_distance)
            .distinct()
        )
        sb = bs.select(
            F.col("doc_id").alias("id_batch"),
            *[F.col(f"b{k}").alias(f"__a{k}") for k in range(4)],
        )
        sh = (
            idx.withColumn("__hist", F.lit(True))
            .unionByName(bs.withColumn("__hist", F.lit(False)))
            .select(
                F.col("doc_id").alias("id_hist"),
                "__hist",
                *[F.col(f"b{k}").alias(f"__b{k}") for k in range(4)],
            )
        )
        return (
            cpairs.join(sb, [f"__a{k}" for k in range(4)])
            .join(sh, ["__hist"] + [f"__b{k}" for k in range(4)])
            .filter(F.col("__hist") | (F.col("id_hist") < F.col("id_batch")))
            .select("id_batch", "id_hist", "hamming")
        )

    use_fused = include_intra_batch and max_bucket_size is None
    pairs, new_index, new_reported = lifecycle_day(
        index_sigs,
        batch_sigs,
        cross_fn=fused if use_fused else cross,
        intra_fn=intra if include_intra_batch and not use_fused else None,
        reported=reported,
        id_col="doc_id",
    )
    if dropped:
        d = dropped[0]
        for extra in dropped[1:]:
            d = d.unionByName(extra, allowMissingColumns=True)
        pairs._asp_dropped_buckets = d  # type: ignore[attr-defined]
    return pairs, new_index, new_reported

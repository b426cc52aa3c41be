"""Image payload handling — same discipline as audio (multimodal/audio.py):

* images travel as an opaque ``binary`` column with typed metadata
  (``width``, ``height``, ``codec``); operators select explicit columns
  so Parquet column pruning never drags the payload through text stages,
* decode happens only inside Arrow-batched UDFs,
* ``rgb8_raw`` (packed HxWx3 uint8) is implemented for real with numpy;
  ``jpeg``/``png`` decode is a clearly-marked STUB (NotImplementedError —
  no imaging libraries in this environment); the dispatch, schema,
  batching and partitioning are real and tested against both.

Video follows the same contract (binary + codec + fps/duration metadata,
frame-sample as a batch UDF); only the container parsers differ.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_net_spark.multimodal.verify import decoded, near_dup_pairs, pair_scores, verify_pairs

SUPPORTED_CODECS = ("rgb8_raw",)
STUB_CODECS = ("jpeg", "png")


def decode_image(codec: str, blob: bytes, width: int, height: int) -> np.ndarray:
    """-> (H, W, 3) uint8. jpeg/png are STUBS (no imaging libs here)."""
    if codec == "rgb8_raw":
        arr = np.frombuffer(blob, dtype=np.uint8)
        if arr.size != width * height * 3:
            raise ValueError(f"rgb8_raw size mismatch: {arr.size} != {width}x{height}x3")
        return arr.reshape(height, width, 3)
    if codec in STUB_CODECS:
        # STUB: real decode needs libjpeg/libpng bindings, unavailable in
        # this environment. Dispatch/schema/batching are real.
        raise NotImplementedError(f"decode for codec '{codec}' is stubbed out")
    raise ValueError(f"unknown codec: {codec}")


def encode_rgb8(img: np.ndarray) -> bytes:
    return np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def resize_images(
    images: DataFrame, out_w: int, out_h: int, id_col: str = "img_id"
) -> DataFrame:
    """(id, bytes, width, height, codec) with the payload resized
    (nearest-neighbor). Stub codecs yield no row (counted upstream via
    image_meta's ok flag)."""
    src = images.select(id_col, "bytes", "width", "height", "codec")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_image(r.codec, bytes(r.bytes), r.width, r.height)
                except NotImplementedError:
                    continue
                out = resize_nearest(img, out_w, out_h)
                rows.append((getattr(r, id_col), encode_rgb8(out), out_w, out_h, "rgb8_raw"))
            yield pd.DataFrame(
                rows, columns=[id_col, "bytes", "width", "height", "codec"]
            )

    return src.mapInPandas(
        compute,
        schema=f"{id_col} string, bytes binary, width int, height int, codec string",
    )


def byte_checksums(
    df: DataFrame, id_col: str = "img_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(id, byte_sum, weighted_sum): exact integer checksums of a binary
    payload — byte_sum = Σ b[i], weighted_sum = Σ b[i]·(i+1) (the weight
    makes the checksum sensitive to byte ORDER, so a permuted payload
    can't pass). Pure integer arithmetic: re-derivable bit-identically
    by a SQL oracle decoding the same bytes, which is what makes a
    transform like ``resize_images`` differentially verifiable
    end-to-end (payloads themselves can't ride the driver's value-hash
    compare). Vectorized numpy over Arrow batches."""
    src = df.select(id_col, bytes_col)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bs, ws = [], [], []
            for i, blob in zip(pdf[id_col], pdf[bytes_col]):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.int64)
                ids.append(i)
                bs.append(int(arr.sum()))
                ws.append(int((arr * (np.arange(arr.size) + 1)).sum()))
            yield pd.DataFrame(
                {id_col: ids,
                 "byte_sum": pd.Series(bs, dtype="int64"),
                 "weighted_sum": pd.Series(ws, dtype="int64")}
            )

    return src.mapInPandas(
        compute, schema=f"{id_col} string, byte_sum long, weighted_sum long"
    )


def image_features(images: DataFrame, id_col: str = "img_id") -> DataFrame:
    """(id, mean_r, mean_g, mean_b, luma_hist array<double>[8]) — batch
    UDF, numpy only; stub codecs yield nulls (plumbing exercised).

    The luma histogram bins an INTEGER milli-weight luma
    (299·R + 587·G + 114·B, range [0, 255000], 8 equal bins) with pure
    integer arithmetic — bin assignment is therefore exact and
    FP-edge-stable: a float 0.299R+0.587G+0.114B differs between
    engines in the last ulp, which flips bins for values landing on a
    bin edge (observed in practice), whereas the integer form is
    re-derivable bit-identically in any engine (the differential SQL
    oracle recomputes it from the raw bytes)."""
    src = images.select(id_col, "bytes", "width", "height", "codec")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w_milli = np.array([299, 587, 114], dtype=np.int64)
        for pdf in batches:
            ids, mr, mg, mb, hist = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                ids.append(getattr(r, id_col))
                try:
                    img = decode_image(r.codec, bytes(r.bytes), r.width, r.height)
                except NotImplementedError:
                    mr.append(None), mg.append(None), mb.append(None), hist.append(None)
                    continue
                flat = img.reshape(-1, 3).astype(np.int64)
                means = flat.mean(axis=0)
                mr.append(round(float(means[0]), 6))
                mg.append(round(float(means[1]), 6))
                mb.append(round(float(means[2]), 6))
                li = flat @ w_milli  # integer luma·1000 per pixel
                bins = np.minimum(li * 8 // 256000, 7)
                h = np.bincount(bins, minlength=8)
                hist.append((h / max(1, li.size)).round(6).tolist())
            yield pd.DataFrame(
                {id_col: ids, "mean_r": mr, "mean_g": mg, "mean_b": mb, "luma_hist": hist}
            )

    return src.mapInPandas(
        compute,
        schema=(
            f"{id_col} string, mean_r double, mean_g double, mean_b double,"
            " luma_hist array<double>"
        ),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection over the pixel payload — the
# image-axis analogue of the audio occupancy-fingerprint pass
# (multimodal/audio.py): dHash buckets -> capped candidate join -> exact
# pixel-PSNR verification.
# ---------------------------------------------------------------------------


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash (dHash, Krawetz 2013 — public algorithm):
    resize luma to 9x8 (nearest), bit (r, c) = luma[r, c+1] > luma[r, c].
    Robust to small per-pixel noise whenever adjacent sample contrasts
    exceed the noise floor; never the verdict — candidates are verified by
    exact pixel PSNR."""
    small = resize_nearest(img, 9, 8).astype(np.float64)
    luma = small @ np.array([0.299, 0.587, 0.114])
    bits = (luma[:, 1:] > luma[:, :-1]).ravel()
    weights = (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)
    return int((bits.astype(np.uint64) * weights).sum().astype(np.int64))


def image_fingerprints(images: DataFrame, id_col: str = "img_id") -> DataFrame:
    """(id, dhash long) — one Arrow-batched decode pass; stub codecs skip."""
    src = images.select(id_col, "bytes", "width", "height", "codec")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_image(r.codec, bytes(r.bytes), r.width, r.height)
                except NotImplementedError:
                    continue
                ids.append(getattr(r, id_col))
                hs.append(dhash64(img))
            yield pd.DataFrame({id_col: ids, "dhash": pd.Series(hs, dtype="int64")})

    return src.mapInPandas(compute, schema=f"{id_col} string, dhash long")


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images, in dB."""
    if a.shape != b.shape:
        return float("-inf")
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def pair_image_psnr(
    pairs: DataFrame, images: DataFrame, id_col: str = "img_id"
) -> DataFrame:
    """(id_a, id_b, psnr_db double) — exact pixel verification for
    candidate pairs (shared payload verify, ``verify.verify_pairs``);
    dimension mismatch => -inf (rejected)."""
    cols = ("codec", "bytes", "width", "height")
    return verify_pairs(
        pairs, images, id_col, cols, decoded(decode_image),
        lambda a, b: {"psnr_db": pair_scores(a, b, psnr_db, -np.inf)},
        "psnr_db double",
    )


def image_near_dup_pairs(
    images: DataFrame,
    id_col: str = "img_id",
    *,
    bucket_cap: int = 200,
    min_psnr_db: float = 30.0,
    with_metrics: bool = False,
):
    """Near-duplicate image pairs by PIXEL CONTENT: dHash buckets
    (skew-capped, the shared candidate machinery) -> exact pixel PSNR
    >= threshold. Mirrors ``audio_near_dup_pairs``; with_metrics returns
    (pairs, metrics) for the no-silent-truncation rule."""

    def verify(cand: DataFrame) -> DataFrame:
        return pair_image_psnr(cand, images, id_col).filter(
            F.col("psnr_db") >= min_psnr_db
        ).select("id_a", "id_b", F.round("psnr_db", 3).alias("psnr_db"))

    return near_dup_pairs(
        image_fingerprints(images, id_col), ["dhash"], id_col, verify,
        bucket_cap=bucket_cap, with_metrics=with_metrics,
    )


# roles per group in the planted image corpus: 0 base, 1 noisy near-dup,
# 2 unrelated, 3 jpeg stub (skip-path probe)
IMG_ROLES_PER_GROUP = 4


def random_walk_block_image(rng_key: list[int], bw: int, bh: int) -> np.ndarray:
    """The dHash-stable block construction shared by the planted image
    AND video corpora (video frames use it per frame): an 8-row x 9-col
    block grid whose horizontally adjacent blocks differ by exactly +-12
    gray levels along a seeded random walk from 128. The 9x8 nearest
    resize samples one pixel per block, so the 64 dHash bits ARE the walk
    signs — +-2 pixel noise moves a sampled difference by at most 4 < 12,
    so every bit is noise-invariant. The walk spans 128 +- 8*12 = [32,
    224], strictly inside [0, 255]: no clipping ever binds (asserted),
    which is what keeps adjacent blocks unequal and the invariance proof
    valid. Returns (8*bh, 9*bw, 3) uint8."""
    rng = np.random.default_rng(rng_key)
    steps = rng.choice([-12, 12], size=(8, 8))
    vals = np.empty((8, 9), dtype=np.float64)
    vals[:, 0] = 128.0
    for c in range(8):
        vals[:, c + 1] = vals[:, c] + steps[:, c]
    assert vals.min() >= 32 and vals.max() <= 224  # walk never saturates
    gray = np.repeat(np.repeat(vals, bh, axis=0), bw, axis=1)
    return np.repeat(gray[:, :, None], 3, axis=2).astype(np.uint8)


def generate_image_corpus(
    spark, n_rows: int, *, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic planted near-dup image corpus (index-math oracle).

    Group g owns ids [4g, 4g+4): role 0 is a block-structured base image,
    role 1 the same image + per-pixel noise in [-2, 2] (a true near-dup:
    PSNR ~45 dB, identical dHash), roles 2..3 unrelated (role 3 a jpeg
    stub). Expected near-dup pairs: exactly (4g, 4g+1).

    dHash stability by construction: the image is an 8-row x 9-col block
    grid whose width/height are multiples of 9/8, so the 9x8 nearest
    resize samples exactly one pixel per block; horizontally adjacent
    blocks differ by +-12 gray levels (a seeded random walk), far above
    the +-2 noise — every dHash bit is noise-invariant. Unrelated images
    use independent walks: their dHashes collide with probability ~2^-64
    and the PSNR verify would reject them anyway."""
    partitions = partitions or max(4, n_rows // 4096)
    base = spark.range(0, n_rows, 1, partitions)

    def _block_image(g: int) -> np.ndarray:
        rng = np.random.default_rng([seed, 12321, g])
        bw, bh = int(rng.integers(2, 4)), int(rng.integers(2, 4))  # block px
        return random_walk_block_image([seed, 12321, g, 1], bw, bh)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                g, r = divmod(i, IMG_ROLES_PER_GROUP)
                if r == 3:
                    rows.append((f"img-{i:06d}", b"\xff\xd8stub", 9, 8, "jpeg"))
                    continue
                key = g if r <= 1 else 1_000_000 + i
                img = _block_image(key)
                if r == 1:
                    rng = np.random.default_rng([seed, 888, i])
                    noise = rng.integers(-2, 3, size=img.shape)
                    img = np.clip(img.astype(np.int16) + noise, 0, 255).astype(
                        np.uint8
                    )
                h, w = img.shape[:2]
                rows.append((f"img-{i:06d}", encode_rgb8(img), w, h, "rgb8_raw"))
            yield pd.DataFrame(
                rows, columns=["img_id", "bytes", "width", "height", "codec"]
            )

    return base.mapInPandas(
        gen, schema="img_id string, bytes binary, width int, height int, codec string"
    )


def generate_images(
    spark, n_rows: int, *, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic synthetic image table (gradient + seeded noise);
    every 5th row is a jpeg STUB row so the skip path is always exercised."""
    partitions = partitions or max(4, n_rows // 4096)
    base = spark.range(0, n_rows, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([seed, i])
                w, h = int(rng.integers(16, 33)), int(rng.integers(16, 33))
                if i % 5 == 4:
                    rows.append((f"img-{i:06d}", b"\xff\xd8stub", w, h, "jpeg"))
                    continue
                grad = np.linspace(0, 255, w, dtype=np.uint8)[None, :, None]
                img = np.broadcast_to(grad, (h, w, 3)).copy()
                img = np.clip(
                    img.astype(np.int16) + rng.integers(-8, 9, size=img.shape), 0, 255
                ).astype(np.uint8)
                rows.append((f"img-{i:06d}", encode_rgb8(img), w, h, "rgb8_raw"))
            yield pd.DataFrame(
                rows, columns=["img_id", "bytes", "width", "height", "codec"]
            )

    return base.mapInPandas(
        gen, schema="img_id string, bytes binary, width int, height int, codec string"
    )

"""Video payload handling — third modality, same discipline as
audio.py / image.py:

* video travels as an opaque ``binary`` column with typed metadata
  (``width``, ``height``, ``fps``, ``n_frames``, ``codec``),
* decode only inside Arrow-batched UDFs; operators select explicit
  columns so the payload never rides through text stages,
* ``rgb8_frames`` (concatenated packed HxWx3 uint8 frames) is
  implemented for real with numpy; ``h264``/``vp9`` decode is a
  clearly-marked STUB (NotImplementedError — no codec libraries in this
  environment); dispatch, schema, batching and frame-stride plumbing
  are real and tested against both.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_net_spark.multimodal.verify import decoded, near_dup_pairs, pair_scores, verify_pairs

SUPPORTED_CODECS = ("rgb8_frames",)
STUB_CODECS = ("h264", "vp9")


def decode_video(
    codec: str, blob: bytes, width: int, height: int, n_frames: int
) -> np.ndarray:
    """-> (n_frames, H, W, 3) uint8. h264/vp9 are STUBS (no codec libs)."""
    if codec == "rgb8_frames":
        arr = np.frombuffer(blob, dtype=np.uint8)
        expect = n_frames * width * height * 3
        if arr.size != expect:
            raise ValueError(f"rgb8_frames size mismatch: {arr.size} != {expect}")
        return arr.reshape(n_frames, height, width, 3)
    if codec in STUB_CODECS:
        # STUB: real decode needs libavcodec bindings, unavailable here.
        raise NotImplementedError(f"decode for codec '{codec}' is stubbed out")
    raise ValueError(f"unknown codec: {codec}")


def frame_sample(
    videos: DataFrame, id_col: str = "vid_id", *, every: int = 4
) -> DataFrame:
    """(id, frame_idx, mean_luma, luma_milli_sum): keep every k-th frame
    with its mean luminance — the video frame-sampling primitive (one row
    per sampled frame; batch UDF, numpy only). Stub codecs yield no rows.

    ``luma_milli_sum`` is the EXACT integer sum of the frame's
    milli-weight luma (299·R + 587·G + 114·B per pixel, BIGINT) — the
    FP-free frame fingerprint a differential oracle can re-derive
    bit-identically from the raw bytes (a float mean wobbles in the 6th
    decimal between engines from summation order alone);
    ``mean_luma`` = luma_milli_sum / (1000·pixels) is the float
    convenience view."""
    src = videos.select(id_col, "bytes", "width", "height", "n_frames", "codec")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w_milli = np.array([299, 587, 114], dtype=np.int64)
        for pdf in batches:
            ids, idxs, lumas, sums = [], [], [], []
            for r in pdf.itertuples(index=False):
                try:
                    vid = decode_video(
                        r.codec, bytes(r.bytes), r.width, r.height, r.n_frames
                    )
                except NotImplementedError:
                    continue
                sel = np.arange(0, len(vid), every)
                li = (vid[sel].astype(np.int64) @ w_milli).sum(axis=(1, 2))
                npx = vid.shape[1] * vid.shape[2]
                vals = li / (1000.0 * npx)
                ids.extend([getattr(r, id_col)] * len(sel))
                idxs.extend(sel.tolist())
                lumas.extend(np.round(vals, 6).tolist())
                sums.extend(li.tolist())
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "mean_luma": lumas,
                 "luma_milli_sum": pd.Series(sums, dtype="int64")}
            )

    return src.mapInPandas(
        compute,
        schema=f"{id_col} string, frame_idx long, mean_luma double,"
               " luma_milli_sum long",
    )


# ---------------------------------------------------------------------------
# Frame-hash near-duplicate detection over the video payload — completes
# the modality triple (audio occupancy words, image dHash, video
# per-frame dHash words): sampled-frame dHash buckets -> capped candidate
# join -> exact aligned-frame PSNR verification.
# ---------------------------------------------------------------------------


def video_fingerprints(
    videos: DataFrame, id_col: str = "vid_id", *, every: int = 2
) -> DataFrame:
    """(id, frame_idx, fhash): 64-bit dHash of every ``every``-th frame —
    one Arrow-batched decode pass, no shuffle. A pair of videos sharing
    the same content shares (frame_idx, fhash) words; the words are the
    LSH candidate key, never the verdict."""
    from cc_net_spark.multimodal.image import dhash64

    src = videos.select(id_col, "bytes", "width", "height", "n_frames", "codec")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for r in pdf.itertuples(index=False):
                try:
                    vid = decode_video(
                        r.codec, bytes(r.bytes), r.width, r.height, r.n_frames
                    )
                except NotImplementedError:
                    continue
                for fi in range(0, len(vid), every):
                    ids.append(getattr(r, id_col))
                    idxs.append(fi)
                    hs.append(dhash64(vid[fi]))
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "fhash": pd.Series(hs, dtype="int64")}
            )

    return src.mapInPandas(
        compute, schema=f"{id_col} string, frame_idx long, fhash long"
    )


def pair_video_psnr(
    pairs: DataFrame, videos: DataFrame, id_col: str = "vid_id"
) -> DataFrame:
    """(id_a, id_b, psnr_db double) — exact aligned-frame verification for
    candidate pairs (shared payload verify, ``verify.verify_pairs``);
    shape mismatch (dims or frame count) => -inf."""
    from cc_net_spark.multimodal.image import psnr_db

    cols = ("codec", "bytes", "width", "height", "n_frames")
    return verify_pairs(
        pairs, videos, id_col, cols, decoded(decode_video),
        lambda a, b: {"psnr_db": pair_scores(a, b, psnr_db, -np.inf)},
        "psnr_db double",
    )


def video_near_dup_pairs(
    videos: DataFrame,
    id_col: str = "vid_id",
    *,
    every: int = 2,
    bucket_cap: int = 200,
    min_psnr_db: float = 30.0,
    with_metrics: bool = False,
):
    """Near-duplicate videos by FRAME CONTENT: sampled-frame dHash words
    (skew-capped candidate join, the shared machinery) -> exact aligned
    PSNR >= threshold. Mirrors audio_near_dup_pairs / image_near_dup_pairs;
    with_metrics returns (pairs, metrics)."""

    def verify(cand: DataFrame) -> DataFrame:
        return pair_video_psnr(cand, videos, id_col).filter(
            F.col("psnr_db") >= min_psnr_db
        ).select("id_a", "id_b", F.round("psnr_db", 3).alias("psnr_db"))

    return near_dup_pairs(
        video_fingerprints(videos, id_col, every=every), ["frame_idx", "fhash"],
        id_col, verify, bucket_cap=bucket_cap, with_metrics=with_metrics,
    )


# roles per group in the planted video corpus: 0 base, 1 noisy near-dup,
# 2 unrelated, 3 h264 stub (skip-path probe)
VID_ROLES_PER_GROUP = 4


def generate_video_corpus(
    spark, n_rows: int, *, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic planted near-dup video corpus (index-math oracle) —
    the video twin of image.generate_image_corpus: group g owns ids
    [4g, 4g+4); role 1 is role 0 plus per-pixel noise in [-2, 2] (PSNR
    ~45 dB, identical per-frame dHashes by the block construction);
    roles 2..3 unrelated / h264 stub. Expected pairs: exactly (4g, 4g+1)."""
    partitions = partitions or max(4, n_rows // 4096)
    base = spark.range(0, n_rows, 1, partitions)

    def _block_frame(g: int, fi: int) -> np.ndarray:
        # shared dHash-stable construction (see image.random_walk_block_image)
        from cc_net_spark.multimodal.image import random_walk_block_image

        return random_walk_block_image([seed, 777, g, fi], 2, 2)  # 16 x 18

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                g, r = divmod(i, VID_ROLES_PER_GROUP)
                if r == 3:
                    rows.append((f"vid-{i:06d}", b"\x00stub", 18, 16, 6, 12, "h264"))
                    continue
                key = g if r <= 1 else 1_000_000 + i
                nf = 6
                vid = np.stack([_block_frame(key, fi) for fi in range(nf)])
                if r == 1:
                    rng = np.random.default_rng([seed, 888, i])
                    noise = rng.integers(-2, 3, size=vid.shape)
                    vid = np.clip(vid.astype(np.int16) + noise, 0, 255).astype(
                        np.uint8
                    )
                rows.append(
                    (f"vid-{i:06d}", vid.tobytes(), 18, 16, nf, 12, "rgb8_frames")
                )
            yield pd.DataFrame(
                rows,
                columns=["vid_id", "bytes", "width", "height", "n_frames", "fps", "codec"],
            )

    return base.mapInPandas(
        gen,
        schema=(
            "vid_id string, bytes binary, width int, height int,"
            " n_frames int, fps int, codec string"
        ),
    )


def generate_videos(
    spark, n_rows: int, *, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic synthetic video table (per-frame brightness ramp +
    seeded noise); every 4th row is an h264 STUB row so the skip path is
    always exercised."""
    partitions = partitions or max(4, n_rows // 4096)
    base = spark.range(0, n_rows, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([seed, 17, i])
                w, h = int(rng.integers(8, 17)), int(rng.integers(8, 17))
                nf = int(rng.integers(8, 25))
                if i % 4 == 3:
                    rows.append((f"vid-{i:06d}", b"\x00stub", w, h, nf, 12, "h264"))
                    continue
                ramp = np.linspace(16, 240, nf)[:, None, None, None]
                vid = np.broadcast_to(ramp, (nf, h, w, 3)).copy()
                vid = np.clip(
                    vid + rng.integers(-6, 7, size=vid.shape), 0, 255
                ).astype(np.uint8)
                rows.append(
                    (f"vid-{i:06d}", vid.tobytes(), w, h, nf, 12, "rgb8_frames")
                )
            yield pd.DataFrame(
                rows,
                columns=["vid_id", "bytes", "width", "height", "n_frames", "fps", "codec"],
            )

    return base.mapInPandas(
        gen,
        schema=(
            "vid_id string, bytes binary, width int, height int,"
            " n_frames int, fps int, codec string"
        ),
    )

"""Audio payload handling.

Audio travels as an opaque ``binary`` column with typed metadata
(``sr_hz``, ``dur_ms``, ``codec``) per the input contract. Rules:

* ``bytes`` must never ride through text-only stages — every operator in
  this package selects explicit columns so Parquet column pruning drops
  the payload (SURVEY.md §7.3).
* Decode happens only inside Arrow-batched UDFs, only where an invariant
  or feature needs PCM.
* ``pcm_s16le`` in a WAV/RIFF container is implemented for real with
  numpy. ``flac``/``opus`` decode is a clearly-marked STUB
  (NotImplementedError): the codec libraries are not available in this
  environment; the Spark-side plumbing (schema, batching, dispatch) is
  real and tested against the stub.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_net_spark.multimodal.verify import decoded, near_dup_pairs, pair_scores, verify_pairs

SUPPORTED_CODECS = ("pcm_s16le",)
STUB_CODECS = ("flac", "opus")


# ---------------------------------------------------------------------------
# WAV/RIFF PCM16 codec (pure numpy)
# ---------------------------------------------------------------------------


def wav_encode_pcm16(pcm: np.ndarray, sr_hz: int) -> bytes:
    """float32 [-1, 1] mono -> WAV (RIFF, PCM16LE)."""
    x = np.clip(pcm, -1.0, 1.0)
    data = (x * 32767.0).astype("<i2").tobytes()
    n = len(data)
    hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", n) + data


def wav_decode_int16(blob: bytes) -> tuple[int, np.ndarray]:
    """WAV (RIFF, PCM16LE mono) -> (sr_hz, raw int16 samples) — the
    lossless decode (no float scaling), used where exact integer-domain
    math matters (resampling, differential checksums)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos = 12
    sr_hz = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, sr_hz = struct.unpack("<HHI", body[:8])
            if fmt_tag != 1 or channels != 1:
                raise ValueError(f"unsupported wav fmt tag={fmt_tag} ch={channels}")
        elif cid == b"data":
            if sr_hz is None:
                raise ValueError("data chunk before fmt chunk")
            return sr_hz, np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)
    raise ValueError("no data chunk")


def wav_encode_int16(samples: np.ndarray, sr_hz: int) -> bytes:
    """Raw int16 mono samples -> WAV (RIFF, PCM16LE), no scaling."""
    data = samples.astype("<i2").tobytes()
    n = len(data)
    hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", n) + data


def wav_decode_pcm16(blob: bytes) -> tuple[int, np.ndarray]:
    """WAV (RIFF, PCM16LE mono) -> (sr_hz, float32 pcm in [-1, 1])."""
    sr_hz, raw = wav_decode_int16(blob)
    return sr_hz, raw.astype(np.float32) / 32768.0


def decode_clip(codec: str, blob: bytes) -> tuple[int, np.ndarray]:
    """Dispatch decode by codec. flac/opus are STUBS (no codec libs here)."""
    if codec == "pcm_s16le":
        return wav_decode_pcm16(blob)
    if codec in STUB_CODECS:
        # STUB: real decode requires libsndfile/libopus, unavailable in this
        # environment. The dispatch, schema and batch plumbing are real.
        raise NotImplementedError(f"decode for codec '{codec}' is stubbed out")
    raise ValueError(f"unknown codec: {codec}")


def decode_clip_int16(codec: str, blob: bytes) -> np.ndarray:
    """``decode_clip``'s samples before float scaling: raw int16 for
    ``pcm_s16le``, the same errors (and stubs) for every other codec."""
    if codec == "pcm_s16le":
        return wav_decode_int16(blob)[1]
    return decode_clip(codec, blob)[1]


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of `test` against reference PCM, in dB."""
    n = min(len(ref), len(test))
    if n == 0:
        return float("-inf")
    ref, test = ref[:n].astype(np.float64), test[:n].astype(np.float64)
    noise = ref - test
    p_sig = float(np.mean(ref**2))
    p_noise = float(np.mean(noise**2))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_noise)


def snr_db_int16(ref: np.ndarray, test: np.ndarray) -> float:
    """``snr_db`` of two ``decode_clip_int16`` sample arrays, bit for bit
    the value over their ``decode_clip`` float32 PCM: int16 / 32768 is
    exact in float32, and float64 holds it unchanged."""
    return snr_db(ref / 32768.0, test / 32768.0)


# ---------------------------------------------------------------------------
# Spark-side operators
# ---------------------------------------------------------------------------


def with_audio_meta(df: DataFrame, *, bytes_col: str = "bytes") -> DataFrame:
    """Parse container metadata (parsed_sr_hz, n_samples) — batch UDF over
    the binary column; only this stage reads the payload."""
    cols = [c for c in df.columns]

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srs = np.zeros(len(pdf), dtype=np.int64)
            ns = np.zeros(len(pdf), dtype=np.int64)
            for i, (codec, blob) in enumerate(zip(pdf["codec"], pdf[bytes_col])):
                try:
                    sr, pcm = decode_clip(codec, bytes(blob))
                    srs[i], ns[i] = sr, len(pcm)
                except NotImplementedError:
                    srs[i], ns[i] = -1, -1
            out = pdf.copy()
            out["parsed_sr_hz"] = srs
            out["n_samples"] = ns
            yield out

    schema = df.schema.simpleString()[7:-1] + ", parsed_sr_hz long, n_samples long"
    return df.mapInPandas(compute, schema=schema)


def pair_audio_invariants(
    pairs: DataFrame, clips: DataFrame, id_col: str = "clip_id", *, min_snr_db: float = 30.0
) -> DataFrame:
    """Per-pair invariants for planted-equivalent clips: decoded-PCM
    allclose at SNR >= threshold + (normalized) transcript equality.

    Returns (id_a, id_b, snr_db double, transcript_equal boolean,
    pcm_ok boolean) through the shared payload verify
    (``verify.verify_pairs``). A clips frame without a transcript column
    (payload-only pipelines) yields transcript_equal = true for the
    empty-vs-empty comparison.
    """
    if "transcript" not in clips.columns:
        clips = clips.withColumn("transcript", F.lit(None).cast("string"))
    pcm = decoded(decode_clip_int16)

    def prepare(codec: str, blob: bytes, transcript: str | None) -> tuple:
        from cc_net_spark.functions.normalize import normalize_for_dedup

        return pcm(codec, bytes(blob)), normalize_for_dedup(transcript or "")

    def kernel(a: list, b: list) -> dict:
        # a stubbed codec scores NaN (null snr_db, pcm_ok false):
        # undecided, unlike the -1e9 of a measured mismatch
        snrs = pair_scores([x[0] for x in a], [y[0] for y in b], snr_db_int16, np.nan)
        return {
            "snr_db": snrs,
            "transcript_equal": [x[1] == y[1] for x, y in zip(a, b)],
            "pcm_ok": snrs >= min_snr_db,
        }

    return verify_pairs(
        pairs, clips, id_col, ("codec", "bytes", "transcript"), prepare, kernel,
        "snr_db double, transcript_equal boolean, pcm_ok boolean",
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting -> near-duplicate detection over the PCM payload
# (the audio-axis analogue of the transcript MinHash pass; fingerprint
# design follows Haitsma & Kalker, "A Highly Robust Audio Fingerprinting
# System", ISMIR 2002 — public literature, no reference counterpart)
# ---------------------------------------------------------------------------


def _occupancy_words(pcm: np.ndarray, frame: int, bands: int, rel: float) -> np.ndarray:
    """Per-frame band-occupancy word: bit i = band i's energy exceeds
    ``rel`` of the frame's max band energy. Robust to additive noise far
    below the signal floor (a 45 dB-SNR perturbation moves band energies
    by ~1e-4 of the signal — sign-stable at rel=0.01); coarse by design,
    it is the LSH *candidate* key, never the verdict."""
    n_frames = len(pcm) // frame
    if n_frames < 1:
        return np.empty(0, dtype=np.int64)
    spec = np.abs(np.fft.rfft(pcm[: n_frames * frame].reshape(n_frames, frame), axis=1))
    edges = np.linspace(1, spec.shape[1], bands + 1).astype(int)
    energies = np.add.reduceat(spec**2, edges[:-1], axis=1)  # (n_frames, bands)
    peak = np.maximum(energies.max(axis=1, keepdims=True), 1e-30)
    bits = energies > rel * peak
    weights = (1 << np.arange(bands, dtype=np.uint64)).astype(np.uint64)
    return (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def audio_fingerprints(
    clips: DataFrame,
    id_col: str = "clip_id",
    *,
    frame: int = 512,
    bands: int = 16,
    rel: float = 0.01,
    paired: bool = True,
) -> DataFrame:
    """(id, word): DISTINCT fingerprint keys per clip — one Arrow-batched
    decode pass, no shuffle. (Design after Haitsma & Kalker ISMIR'02,
    adapted to occupancy bits: the delta-sign bits of the original are
    noise-random on sparse stationary spectra.)

    ``paired=True`` (default) keys on CONSECUTIVE-frame word pairs
    (``word_t << bands | word_{t+1}``) — Haitsma-Kalker's actual
    time-sequence scheme. Single 16-bit occupancy words concentrate on
    few values over stationary tonal/speech content (the r2 verdict's
    scale watch-item); the 2×bands-bit time-paired key space keeps
    bucket sizes bounded at corpus scale while a true duplicate (same
    signal, noise below the occupancy threshold) still shares every
    pair. A one-frame clip falls back to its lone word."""
    src = clips.select(id_col, "codec", "bytes")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, words = [], []
            for cid, codec, blob in zip(pdf[id_col], pdf["codec"], pdf["bytes"]):
                try:
                    _, pcm = decode_clip(codec, bytes(blob))
                except NotImplementedError:
                    continue
                for k in np.unique(_fingerprint_keys(pcm, frame, bands, rel, paired)):
                    ids.append(cid)
                    words.append(int(k))
            yield pd.DataFrame({id_col: ids, "word": words})

    return src.mapInPandas(compute, schema=f"{id_col} string, word long")


def _fingerprint_keys(
    pcm: np.ndarray, frame: int, bands: int, rel: float, paired: bool
) -> np.ndarray:
    """Occupancy words -> (optionally time-paired) candidate keys — the
    ONE definition shared by the batch pass and the incremental state,
    so their key spaces can never desynchronize."""
    w = _occupancy_words(pcm, frame, bands, rel)
    return (w[:-1] << bands) | w[1:] if paired and len(w) >= 2 else w


def audio_signatures(
    clips: DataFrame,
    id_col: str = "clip_id",
    *,
    frame: int = 512,
    bands: int = 16,
    rel: float = 0.01,
    paired: bool = True,
    sketch_bits: int = 64,
) -> DataFrame:
    """(id, words array<long>, sketch long) — per-clip fingerprint word
    set PLUS a waveform sign sketch, from ONE decode pass.

    The sketch is the PCM's sign at ``sketch_bits`` equally spaced
    sample positions: a state-resident discriminator for fingerprint
    COLLISIONS — distinct signals whose coarse occupancy words coincide
    (stationary same-tone content). A true duplicate (same signal, noise
    floor below full scale) flips only the few sampled points near zero
    crossings; different signals differ in ~half the bits. Lets an
    incremental consumer verify candidates from persisted state without
    ever re-decoding history audio.

    A clip whose payload cannot be decoded — stub codec, malformed or
    null bytes — is emitted with ``decode_ok = false`` and empty
    words/zero sketch, NOT raised: in a foreachBatch stream a poison
    record would otherwise fail the batch and replay into the same crash
    forever. Callers filter on ``decode_ok`` and record the count."""
    src = clips.select(id_col, "codec", "bytes")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, oks, words, sketches = [], [], [], []
            for cid, codec, blob in zip(pdf[id_col], pdf["codec"], pdf["bytes"]):
                try:
                    _, pcm = decode_clip(codec, bytes(blob))
                except (NotImplementedError, ValueError, TypeError):
                    ids.append(cid)
                    oks.append(False)
                    words.append([])
                    sketches.append(0)
                    continue
                keys = _fingerprint_keys(pcm, frame, bands, rel, paired)
                if len(pcm):
                    pos = np.linspace(0, len(pcm) - 1, sketch_bits).astype(int)
                    bits = (pcm[pos] >= 0).astype(np.uint64)
                    sk = int((bits << np.arange(sketch_bits, dtype=np.uint64)).sum())
                else:
                    sk = 0
                ids.append(cid)
                oks.append(True)
                words.append(np.unique(keys).tolist())
                # two's-complement to signed int64 (bit 63 may be set)
                sketches.append(sk - (1 << 64) if sk >= (1 << 63) else sk)
            yield pd.DataFrame(
                {id_col: ids, "decode_ok": oks, "words": words, "sketch": sketches}
            )

    return src.mapInPandas(
        compute,
        schema=f"{id_col} string, decode_ok boolean, words array<long>, sketch long",
    )


def audio_near_dup_pairs(
    clips: DataFrame,
    id_col: str = "clip_id",
    *,
    frame: int = 512,
    bands: int = 16,
    bucket_cap: int = 200,
    min_snr_db: float = 30.0,
    with_metrics: bool = False,
):
    """Near-duplicate clip pairs by AUDIO CONTENT (payload, not
    transcript): occupancy-fingerprint buckets (skew-capped, the same
    candidate machinery as the text passes) -> EXACT decoded-PCM SNR
    verification. Pairs of the same underlying signal pass the >= 30 dB
    floor; unrelated clips that share a coarse occupancy pattern score
    ~0 dB and are rejected. Returns (id_a, id_b, snr_db).

    Keys are time-paired occupancy words (see ``audio_fingerprints``) —
    the 2×bands-bit pair space keeps bucket entropy high at corpus scale;
    exact-copy floods can still hit the cap, so ``with_metrics`` returns
    ``(pairs, metrics)`` (see ``verify.near_dup_pairs``) and callers (the
    pipeline stage manifest) record exactly how many buckets/rows the cap
    dropped — the repo's no-silent-truncation rule."""

    def verify(cand: DataFrame) -> DataFrame:
        return pair_audio_invariants(cand, clips, id_col, min_snr_db=min_snr_db).filter(
            F.col("pcm_ok")
        ).select("id_a", "id_b", F.round("snr_db", 3).alias("snr_db"))

    return near_dup_pairs(
        audio_fingerprints(clips, id_col, frame=frame, bands=bands), ["word"], id_col,
        verify, bucket_cap=bucket_cap, with_metrics=with_metrics,
    )


# ---------------------------------------------------------------------------
# Feature extraction (real, numpy-only) + frame sampling
# ---------------------------------------------------------------------------


def frame_sample(
    clips: DataFrame,
    id_col: str = "clip_id",
    *,
    frame: int = 512,
    every: int = 4,
) -> DataFrame:
    """(id, frame_idx, frame_rms): decode, split PCM into fixed frames and
    keep every k-th one — the frame-sampling primitive for multimodal
    pipelines (one row per sampled frame; batch UDF, numpy only)."""
    src = clips.select(id_col, "codec", "bytes")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, rms = [], [], []
            for cid, codec, blob in zip(pdf[id_col], pdf["codec"], pdf["bytes"]):
                try:
                    _, pcm = decode_clip(codec, bytes(blob))
                except NotImplementedError:
                    continue
                n_frames = len(pcm) // frame
                if not n_frames:
                    continue
                frames = pcm[: n_frames * frame].reshape(n_frames, frame)
                sel = np.arange(0, n_frames, every)
                # float64: the RMS is rounded to 6dp and compared against a
                # double-precision SQL oracle — float32 accumulation would
                # wobble the 6th decimal
                vals = np.sqrt((frames[sel].astype(np.float64) ** 2).mean(axis=1))
                ids.extend([cid] * len(sel))
                idxs.extend(sel.tolist())
                rms.extend(vals.tolist())
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame_rms": rms})

    return src.mapInPandas(
        compute, schema=f"{id_col} string, frame_idx long, frame_rms double"
    )


def audio_features(
    clips: DataFrame, id_col: str = "clip_id", *, frame: int = 512
) -> DataFrame:
    """(id, rms double, zero_crossings long, spectral_centroid double) —
    vectorized per clip; stubbed codecs yield nulls."""
    src = clips.select(id_col, "codec", "bytes")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rms, zc, cent = [], [], []
            for codec, blob in zip(pdf["codec"], pdf["bytes"]):
                try:
                    sr, pcm = decode_clip(codec, bytes(blob))
                except NotImplementedError:
                    rms.append(None), zc.append(None), cent.append(None)
                    continue
                rms.append(
                    float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
                    if len(pcm)
                    else 0.0
                )
                zc.append(int(np.count_nonzero(np.diff(np.signbit(pcm)))))
                if len(pcm) >= frame:
                    spec = np.abs(np.fft.rfft(pcm[: len(pcm) // frame * frame].reshape(-1, frame), axis=1))
                    freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
                    power = spec.sum(axis=0)
                    cent.append(float((freqs * power).sum() / power.sum()) if power.sum() else 0.0)
                else:
                    cent.append(0.0)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "rms": rms, "zero_crossings": zc, "spectral_centroid": cent}
            )

    return src.mapInPandas(
        compute,
        schema=f"{id_col} string, rms double, zero_crossings long, spectral_centroid double",
    )


# ---------------------------------------------------------------------------
# Resampling (exact integer-domain linear interpolation)
# ---------------------------------------------------------------------------


def _resample_int16(x: np.ndarray, sr_in: int, sr_out: int):
    """Linear-interpolate raw int16 samples from sr_in to sr_out with
    EXACT integer math (the audio analogue of image.resize's
    nearest-neighbor index contract — every intermediate is an int64,
    so an independent engine re-deriving the same formula matches bit
    for bit, no float summation-order wobble):

        n_out       = n * sr_out // sr_in
        pos(k)      = k * sr_in / sr_out   (rational, never materialized)
        i0, rem     = (k*sr_in) // sr_out, (k*sr_in) % sr_out
        y_scaled(k) = x[i0]*(sr_out-rem) + x[min(i0+1, n-1)]*rem
        y(k)        = y_scaled(k) // sr_out   (floor; |y| <= 32767 since
                      y_scaled is a convex combination scaled by sr_out)

    All // and % operands except y_scaled are non-negative — y_scaled is
    only ever divided HERE (numpy floor semantics); cross-engine
    checksums are taken over y_scaled itself because DuckDB's integer
    division truncates toward zero on negatives while Python floors.

    Returns (y int16 array, y_scaled int64 array).
    """
    n = len(x)
    n_out = n * sr_out // sr_in
    if n == 0 or n_out == 0:
        z = np.zeros(0, dtype=np.int64)
        return z.astype(np.int16), z
    k = np.arange(n_out, dtype=np.int64)
    num = k * sr_in
    i0 = num // sr_out
    rem = num - i0 * sr_out
    i1 = np.minimum(i0 + 1, n - 1)
    xs = x.astype(np.int64)
    y_scaled = xs[i0] * (sr_out - rem) + xs[i1] * rem
    return (y_scaled // sr_out).astype(np.int16), y_scaled


def resample(
    clips: DataFrame,
    target_hz: int,
    id_col: str = "clip_id",
    *,
    audit: bool = False,
) -> DataFrame:
    """Re-encode every clip at ``target_hz`` (linear interpolation in the
    int16 domain — see _resample_int16). Output schema mirrors the clips
    contract: (id, bytes WAV@target, sr_hz=target, dur_ms preserved,
    codec, n_out). Stubbed codecs pass through with null bytes + n_out.

    ``audit=True`` adds two exact-integer columns computed in the same
    decode pass — ``chk = Σ ((k%97)+1) · y_scaled(k)`` (order-weighted;
    bounded well inside int64) and ``abs_sum = Σ |y_scaled(k)|`` — the
    cross-engine fingerprint a differential oracle re-derives from the
    ORIGINAL bytes.
    """
    src = clips.select(id_col, "codec", "bytes", "dur_ms")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_bytes, n_outs, chks, abss = [], [], [], []
            for codec, blob in zip(pdf["codec"], pdf["bytes"]):
                if codec in STUB_CODECS:
                    # STUB passthrough: no codec lib to decode with
                    out_bytes.append(None), n_outs.append(None)
                    chks.append(None), abss.append(None)
                    continue
                if codec not in SUPPORTED_CODECS:
                    raise ValueError(f"unknown codec: {codec}")
                sr_in, x = wav_decode_int16(bytes(blob))
                y, y_scaled = _resample_int16(x, sr_in, target_hz)
                out_bytes.append(wav_encode_int16(y, target_hz))
                n_outs.append(len(y))
                if audit:
                    k = np.arange(len(y_scaled), dtype=np.int64)
                    chks.append(int(((k % 97 + 1) * y_scaled).sum()))
                    abss.append(int(np.abs(y_scaled).sum()))
            cols = {
                id_col: pdf[id_col],
                "bytes": out_bytes,
                "sr_hz": np.int32(target_hz),
                "dur_ms": pdf["dur_ms"],
                "codec": pdf["codec"],
                "n_out": pd.array(n_outs, dtype="Int64"),
            }
            if audit:
                cols["chk"] = pd.array(chks, dtype="Int64")
                cols["abs_sum"] = pd.array(abss, dtype="Int64")
            yield pd.DataFrame(cols)

    schema = (
        f"{id_col} string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, n_out long"
    )
    if audit:
        schema += ", chk long, abs_sum long"
    return src.mapInPandas(compute, schema=schema)

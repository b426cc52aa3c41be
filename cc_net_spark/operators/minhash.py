"""MinHash + LSH near-duplicate detection (SURVEY.md §7.1 step 4).

Extends the reference's exact SHA1-paragraph dedup (``cc_net/dedup.py``)
to near-dup detection over whole transcripts. Spark-first shape:

  scan -> ONE mapInPandas (normalize + shingle + hash + MinHash signature,
  all numpy-vectorized over the Arrow batch; no shuffle) ->
  JVM-side band keys (xxhash64 over signature slices) -> explode ->
  bucket self-join (candidate pairs, skew-capped) ->
  exact-Jaccard verification with native array_intersect/array_union.

Signature computation needs no groupBy/explode at all — the whole
signature stage is a narrow map, so at 10^12 rows it scales linearly with
no shuffle until the (much smaller) band table.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_net_spark.functions.hashing import (
    hash_str_array_u64,
    minhash_params,
    minhash_signatures,
    token_shingle_hashes,
    window_hashes,
)
from cc_net_spark.functions.normalize import normalize_for_dedup_series
from cc_net_spark.operators.pairs import candidate_pairs


def _batch_shingles(
    texts: pd.Series, n: int, mode: str
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """Distinct shingle hashes for a batch: (flat u64, offsets, per-row arrays).

    Word mode hashes each TOKEN once in ONE vectorized SipHash call over
    the whole batch and derives gram hashes as a rolling polynomial
    combine of the token hashes (``token_shingle_hashes`` — no n-gram
    strings are ever materialized; the string build dominated the kernel);
    char mode never materializes strings either (rolling polynomial hash
    over unicode codepoints).
    """
    norm = normalize_for_dedup_series(texts).fillna("")
    per_row: list[np.ndarray] = []
    if mode == "char":
        for t in norm:
            per_row.append(np.unique(window_hashes(t, n)))
    else:
        all_toks: list[str] = []
        tok_counts = np.zeros(len(norm), dtype=np.int64)
        for i, t in enumerate(norm):
            toks = t.split()
            all_toks.extend(toks)
            tok_counts[i] = len(toks)
        tok_flat = hash_str_array_u64(all_toks) if all_toks else np.empty(0, np.uint64)
        tok_offsets = np.concatenate([[0], np.cumsum(tok_counts)]).astype(np.int64)
        flat_all, bounds = token_shingle_hashes(tok_flat, tok_offsets, n)
        for i in range(len(norm)):
            per_row.append(np.unique(flat_all[bounds[i] : bounds[i + 1]]))
    offsets = np.concatenate([[0], np.cumsum([len(a) for a in per_row])]).astype(np.int64)
    flat = np.concatenate(per_row) if per_row else np.empty(0, np.uint64)
    return flat.astype(np.uint64), offsets, per_row


def shingle_signatures(
    df: DataFrame,
    field: str,
    id_col: str,
    *,
    shingle_size: int = 5,
    mode: str = "word",
    num_perm: int = 128,
    seed: int = 1337,
    keep_shingles: bool = True,
) -> DataFrame:
    """(id, n_shingles, [shingles], sig) — one narrow mapInPandas, no shuffle.

    ``shingles`` (distinct u64 shingle hashes, as signed int64) are kept by
    default for exact-Jaccard verification; at extreme scale pass
    ``keep_shingles=False`` and verify on signatures instead.

    ``sig`` stores the TOP 32 BITS of each slot's 64-bit minimum, as
    array<int>. Both consumers are equality-based — band keys hash slot
    values (``lsh_bands``), estimated Jaccard counts equal slots
    (``estimated_jaccard``) — and the same min shingle always yields the
    same prefix, so true matches are unaffected; two DIFFERENT minima
    sharing a prefix is 2^-32 per slot (a <=1/128 Jaccard overestimate at
    odds no corpus hits). The win: half the bytes in what is, at
    10^12-doc scale with keep_shingles=False, the pipeline's dominant
    table AND the verification join's shuffle payload.
    """
    a, b = minhash_params(num_perm, seed)
    shingle_cols = ", shingles array<long>" if keep_shingles else ""
    out_schema = f"{id_col} string, n_shingles int{shingle_cols}, sig array<int>"
    src = df.select(F.col(id_col).cast("string").alias(id_col), F.col(field))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, offsets, per_row = _batch_shingles(pdf[field], shingle_size, mode)
            sig = (minhash_signatures(flat, offsets, a, b) >> np.uint64(32)).astype(
                np.uint32
            ).view(np.int32)
            out = {
                id_col: pdf[id_col],
                "n_shingles": pd.Series(
                    (offsets[1:] - offsets[:-1]).astype(np.int32), index=pdf.index
                ),
            }
            if keep_shingles:
                out["shingles"] = pd.Series(
                    [arr.view(np.int64) for arr in per_row], index=pdf.index
                )
            out["sig"] = pd.Series(list(sig), index=pdf.index)
            yield pd.DataFrame(out)

    return src.mapInPandas(compute, schema=out_schema)


def band_structs(bands: int, rows_per_band: int, offset: int = 0) -> list[str]:
    """One SQL ``struct(band, key)`` per LSH band: key = xxhash64 over
    the band's signature slice, band numbered from ``offset`` (families
    sharing one bucket table keep disjoint band ranges)."""
    return [
        f"struct({offset + i} AS band, xxhash64(slice(sig, {i * rows_per_band + 1},"
        f" {rows_per_band})) AS key)"
        for i in range(bands)
    ]


def lsh_bands(sig_df: DataFrame, id_col: str, *, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key): band key = xxhash64 over a signature slice — JVM-side.

    The band array is ONE generated SQL expression rather than a python
    loop of Column builders: 32 bands of struct/xxhash64/slice cost
    ~300 ms of py4j round trips per plan construction (measured in the
    fused-leg driver-gap profile), vs one server-side parse here. Same
    analyzed plan either way."""
    parts = ", ".join(band_structs(bands, rows_per_band))
    return sig_df.select(
        id_col, F.explode(F.expr(f"array({parts})")).alias("_b")
    ).select(id_col, F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))


def minhash_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    *,
    bands: int = 32,
    rows_per_band: int = 4,
    bucket_cap: int = 200,
    with_metrics: bool = False,
):
    bands_df = lsh_bands(sig_df, id_col, bands=bands, rows_per_band=rows_per_band)
    # one row per (id, band) by construction -> skip the dedup shuffle
    return candidate_pairs(
        bands_df, ["band", "key"], id_col, bucket_cap=bucket_cap,
        with_metrics=with_metrics, assume_unique=True,
    )


def verify_jaccard(
    pairs: DataFrame, sig_df: DataFrame, id_col: str, *, threshold: float = 0.8
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with exact shingle-set Jaccard >= t.

    Runs entirely JVM-side: two joins to fetch shingle arrays + ONE
    ``array_intersect``. The union size is NOT computed with
    ``array_union`` (which allocates a merged array per pair just to be
    size()d — measured ~40% of the verify stage): shingle arrays are
    distinct by construction (``np.unique`` in every signature kernel),
    so ``|A ∪ B| = |A| + |B| - |A ∩ B|`` exactly, with the lengths read
    from the stored ``n_shingles`` column (or ``size()`` of the array
    when a caller passes a signature table without it). Identical
    integers => bit-identical jaccard doubles. The small side (pairs)
    usually broadcasts under AQE.
    """
    has_n = "n_shingles" in sig_df.columns
    n_src = "`n_shingles`" if has_n else "size(`shingles`)"
    sh = sig_df.selectExpr(
        f"`{id_col}`", "`shingles`", f"CAST({n_src} AS INT) AS _nsh"
    )
    a = sh.selectExpr(
        f"`{id_col}` AS id_a", "`shingles` AS _sh_a", "_nsh AS _na"
    )
    b = sh.selectExpr(
        f"`{id_col}` AS id_b", "`shingles` AS _sh_b", "_nsh AS _nb"
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    jac = (
        "CASE WHEN (_na + _nb - size(array_intersect(_sh_a, _sh_b))) > 0 "
        "THEN CAST(size(array_intersect(_sh_a, _sh_b)) AS DOUBLE) / "
        "CAST(_na + _nb - size(array_intersect(_sh_a, _sh_b)) AS DOUBLE) "
        "ELSE 0.0D END"
    )
    return (
        joined.selectExpr("*", f"{jac} AS jaccard")
        .filter(f"jaccard >= {threshold}")
        .select("id_a", "id_b", "jaccard")
    )


def estimated_jaccard(
    pairs: DataFrame, sig_df: DataFrame, id_col: str, *, threshold: float = 0.8
) -> DataFrame:
    """Signature-estimated Jaccard (fraction of agreeing minhashes) — the
    shingle-free verification path for extreme scale."""
    a = sig_df.selectExpr(f"`{id_col}` AS id_a", "`sig` AS _sig_a")
    b = sig_df.selectExpr(f"`{id_col}` AS id_b", "`sig` AS _sig_b")
    joined = pairs.join(a, "id_a").join(b, "id_b")
    est = (
        "CAST(size(filter(zip_with(_sig_a, _sig_b, (x, y) -> x = y),"
        " v -> v)) AS DOUBLE) / CAST(size(_sig_a) AS DOUBLE)"
    )
    return (
        joined.selectExpr("*", f"{est} AS jaccard_est")
        .filter(f"jaccard_est >= {threshold}")
        .select("id_a", "id_b", "jaccard_est")
    )

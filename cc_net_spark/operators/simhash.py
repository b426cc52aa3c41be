"""SimHash near-duplicate pass (SURVEY.md §7.1 step 6).

64-bit SimHash over the token multiset of the dedup-normalized text,
computed in one narrow mapInPandas (numpy bit-matrix, no shuffle).
Candidate generation for Hamming distance <= k uses the pigeonhole
banding trick: split the 64 bits into k+1 contiguous bands — two
signatures within distance k must agree exactly on at least one band, so
an equi-join per band finds all candidates. Verification is JVM-side:
``bit_count(sig_a ^ sig_b) <= k``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_net_spark.functions.hashing import hash_str_array_u64, simhash64
from cc_net_spark.functions.normalize import normalize_for_dedup_series
from cc_net_spark.operators.pairs import candidate_pairs


def simhash_signatures(
    df: DataFrame, field: str, id_col: str, *, ngram: int = 1
) -> DataFrame:
    """(id, simhash long) — narrow map. Features are whitespace tokens of
    the normalized text (``ngram=1``, the historical default) or joined
    word n-grams (``ngram>1``), weight = multiplicity.

    Why n-grams exist: a 64-bit SimHash over the UNIGRAM multiset of a
    long document converges to a fingerprint of the document's word
    DISTRIBUTION — two unrelated documents drawn from the same
    vocabulary land within small Hamming distance of each other (the
    bench corpus measured 1240 such cross-cluster pairs per 2000 docs at
    Hamming <= 4). Word n-grams decorrelate unrelated texts (two random
    docs share almost no trigrams) while keeping near-exact duplicates
    at Hamming ~0, which is what a web-scale SimHash pass actually uses
    phrase features for. The near-dup pipeline passes ngram=3
    (``NearDupConfig.simhash_ngram``); standalone callers keep the
    unigram default for backward compatibility."""
    src = df.select(F.col(id_col).cast("string").alias(id_col), F.col(field))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norm = normalize_for_dedup_series(pdf[field]).fillna("")
            all_toks: list[str] = []
            counts = np.zeros(len(norm), dtype=np.int64)
            for i, t in enumerate(norm):
                toks = t.split()
                all_toks.extend(toks)
                counts[i] = len(toks)
            flat = hash_str_array_u64(all_toks) if all_toks else np.empty(0, np.uint64)
            offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
            sig = simhash_from_token_hashes(flat, offsets, ngram)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sig})

    return src.mapInPandas(compute, schema=f"{id_col} string, simhash long")


def simhash_from_token_hashes(
    tok_flat: np.ndarray, tok_offsets: np.ndarray, ngram: int
) -> np.ndarray:
    """SimHash per row from pre-hashed tokens. ``ngram>1`` features are
    the rolling n-gram combines of the token hashes (the exact machinery
    minhash shingles use — ``token_shingle_hashes`` — so the fused
    signature stage shares this path bit-identically); multiplicity is
    preserved (SimHash weights are feature counts, unlike the minhash
    path which uniquifies)."""
    from cc_net_spark.functions.hashing import token_shingle_hashes

    if ngram > 1:
        feat_flat, feat_bounds = token_shingle_hashes(
            tok_flat, tok_offsets, ngram
        )
        return simhash64(feat_flat, feat_bounds.astype(np.int64))
    return simhash64(tok_flat, tok_offsets)


def band_structs(max_hamming: int, offset: int = 0) -> list[str]:
    """k+1 contiguous bit bands covering the 64-bit signature, one SQL
    ``struct(band, key)`` each, band numbered from ``offset`` (families
    sharing one bucket table keep disjoint band ranges)."""
    n_bands = max_hamming + 1
    widths = [64 // n_bands] * n_bands
    widths[-1] += 64 - sum(widths)
    structs = []
    start = 0
    for i, w in enumerate(widths):
        mask = (1 << w) - 1
        structs.append(
            f"struct({offset + i} AS band, shiftrightunsigned(simhash, {start})"
            f" & {mask}L AS key)"
        )
        start += w
    return structs


def _band_exprs(max_hamming: int) -> list:
    """``band_structs`` as Columns. Each band is one server-side-parsed
    SQL expression (not a py4j Column chain) — same plan, ~1 gateway
    round trip per band instead of ~6."""
    return [F.expr(s) for s in band_structs(max_hamming)]


def simhash_candidate_pairs(
    sim_df: DataFrame,
    id_col: str,
    *,
    max_hamming: int = 3,
    bucket_cap: int = 200,
    with_metrics: bool = False,
    salt_hot: bool = True,
    drop_above: int | None = None,
    inline_verify: bool = False,
):
    """Pigeonhole-banded candidate pairs for Hamming <= max_hamming.

    Scale note: k+1 contiguous bands over 64 bits means NARROW band keys
    (~13 bits at k=4, ~7 bits at k=8) — at 10^9 docs every band bucket
    holds ~n/2^width members by construction, so a size cap is a RECALL
    CLIFF, not boilerplate skimming. Default is therefore the salted
    join (``salted_candidate_pairs``): buckets above ``bucket_cap`` are
    tiled across a salt grid instead of dropped — every true pair is
    still produced, the quadratic work just lands on ~n_salts^2/2 tasks
    instead of one straggler.

    Salting spreads quadratic work; it cannot make it sub-quadratic. On
    a corpus whose simhashes CONCENTRATE (boilerplate, tiny vocabulary,
    templated text) a band bucket can hold a constant FRACTION of the
    corpus — genuinely pathological, and those pairs would overwhelmingly
    fail the Hamming verify anyway (precision boilerplate, not recall
    signal). ``drop_above`` is the pathological ceiling for that case:
    buckets above it are dropped even in salted mode (the near-dup
    pipeline sets it; the documents-table gate query leaves it None =
    full recall). ``salt_hot=False`` restores the plain capped join with
    drop metrics.

    ``inline_verify=True`` carries the 8-byte signature through the pair
    join and applies the Hamming verify BEFORE the pair distinct — with
    the usual LSH precision (most candidates fail), this shrinks the
    dedup shuffle from |candidates| to |matches| and removes the two
    verify join-backs entirely. Output then carries a ``hamming`` column
    (same rows as ``verify_hamming`` over the unverified pairs)."""
    bands = sim_df.select(
        id_col, "simhash", F.explode(F.array(*_band_exprs(max_hamming))).alias("_b")
    ).select(
        id_col, "simhash", F.col("_b.band").alias("band"), F.col("_b.key").alias("key")
    )
    extra = {}
    if inline_verify:
        extra = {
            "carry": ["simhash"],
            "pair_filter": (
                F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
                <= max_hamming
            ),
        }
    if salt_hot:
        from cc_net_spark.operators.pairs import salted_candidate_pairs

        out = salted_candidate_pairs(
            bands, ["band", "key"], id_col,
            hot_threshold=bucket_cap, bucket_cap=drop_above,
            with_metrics=with_metrics, assume_unique=True, **extra,
        )
    else:
        out = candidate_pairs(
            bands, ["band", "key"], id_col, bucket_cap=bucket_cap,
            with_metrics=with_metrics, assume_unique=True, **extra,
        )
    if not inline_verify:
        return out
    pairs, metrics = out if with_metrics else (out, None)
    pairs = pairs.select(
        "id_a", "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        .cast("int").alias("hamming"),
    )
    return (pairs, metrics) if with_metrics else pairs


def verify_hamming(
    pairs: DataFrame, sim_df: DataFrame, id_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """(id_a, id_b, hamming) with bit_count(xor) <= k — all JVM-side."""
    a = sim_df.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_s_a"))
    b = sim_df.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_s_b"))
    ham = F.bit_count(F.col("_s_a").bitwiseXOR(F.col("_s_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )

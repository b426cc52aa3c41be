"""The text pair families over the fused signatures table, and one
bucket join that builds any set of them.

A family is a way to put two documents in one bucket (MinHash LSH bands,
SimHash pigeonhole bands, the whole-text hash, winnowed substring grams)
plus what a bucket-mate pair must still pass to count. Each definition
gives its bucket structs ``(band, key)`` over a signatures row, its cap,
an optional inline pair filter, an optional verify and its ``kind``
label. ``family_pairs`` builds the pairs of any list of families in one
plan:

  one explode of every family's bucket structs (disjoint band ranges)
  -> one hash exchange on (band, key)
  -> one window: bucket size + the min id of the drop-metric Observation
  -> one merge self-join over the reused exchange
  -> id_a < id_b plus the inline filters
  -> one distinct on (kind, id_a, id_b)
  -> the verify join, for the families that have one (MinHash Jaccard).

The fused ``edges`` stage calls it with all four families, each staged
pair stage with its one (``plans/pipeline.py``). One shuffle of bucket
rows means one self-join stage, which AQE sizes by the bytes of every
family together: a small family's join is not left as a one-task
straggler beside idle slots.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cache, reduce
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cc_net_spark.operators import minhash as mh
from cc_net_spark.operators import simhash as sh
from cc_net_spark.operators.pairs import candidate_pairs

if TYPE_CHECKING:
    from cc_net_spark.plans.pipeline import NearDupConfig


@dataclass(frozen=True)
class TextFamily:
    kind: str
    n_bands: int
    # band offset -> SQL array<struct<band int, key long>> over a
    # signatures row, bands numbered offset .. offset + n_bands - 1
    buckets: Callable[[int], str]
    cap: int
    # SQL predicate over the pair row (carried ``simhash_a``/``simhash_b``),
    # applied before the pair distinct
    pair_filter: str | None = None
    # extra column of this family's own pair table, SQL over the pair row
    score: str | None = None
    # (pairs, signatures, id_col) -> (id_a, id_b, score) verified pairs
    verify: Callable[[DataFrame, DataFrame, str], DataFrame] | None = None


def text_families(cfg: NearDupConfig) -> list[TextFamily]:
    """The four text families of a ``NearDupConfig``, in staged order."""
    def verify(pairs: DataFrame, sig: DataFrame, idc: str) -> DataFrame:
        t = cfg.jaccard_threshold
        if cfg.keep_shingles:
            return mh.verify_jaccard(pairs, sig, idc, threshold=t)
        return mh.estimated_jaccard(
            pairs, sig, idc, threshold=t
        ).withColumnRenamed("jaccard_est", "jaccard")

    hamming = "bit_count(simhash_a ^ simhash_b)"
    return [
        # full-transcript exact duplicates under normalize_for_dedup:
        # bucket = tkey (sha1-u64 of the whole normalized transcript)
        TextFamily(
            "exact", 1, lambda o: f"array(struct({o} AS band, tkey AS key))",
            cfg.bucket_cap,
        ),
        TextFamily(
            "minhash", cfg.bands,
            lambda o: f"array({', '.join(mh.band_structs(cfg.bands, cfg.rows_per_band, o))})",
            cfg.bucket_cap, verify=verify,
        ),
        # Not salted: a bucket of at most bucket_cap members holds at most
        # cap*(cap-1)/2 pairs (19 900 at the default 200), never a
        # straggler, so the salted join's two extra exchanges bought
        # nothing; the pair set is the same (every pair of a 2..cap
        # bucket). Buckets above the cap are pathological concentrations
        # (templated text) and drop with counters, as in every family.
        TextFamily(
            "simhash", cfg.max_hamming + 1,
            lambda o: f"array({', '.join(sh.band_structs(cfg.max_hamming, o))})",
            cfg.bucket_cap,
            pair_filter=f"{hamming} <= {int(cfg.max_hamming)}",
            score=f"CAST({hamming} AS INT) AS hamming",
        ),
        # grams are winnowed + np.unique'd per doc, so (band, key, id) is
        # unique, as it is for the one-row-per-band families
        TextFamily(
            "substring", 1,
            lambda o: f"transform(grams, g -> struct({o} AS band, g AS key))",
            cfg.gram_cap,
        ),
    ]


def family_pairs(sig: DataFrame, families: list[TextFamily], id_col: str):
    """Pairs of every family in ``families`` from one bucket join over
    ``sig`` (one row per id). One family yields its own pair table:
    ``(id_a, id_b)`` plus its verify's or ``score`` column. Several yield
    ``(id_a, id_b, kind)``. Returns ``(pairs, resolve)``; after an
    action over ``pairs``, ``resolve()`` gives ``{kind: {n_buckets,
    n_buckets_dropped, n_rows_dropped, n_candidates}}`` — the cap drops
    and the pairs out of the bucket join (after the inline filter,
    before verify)."""
    groups, arrays, off = {}, [], 0
    for f in families:
        groups[f.kind] = f"band >= {off} AND band < {off + f.n_bands}"
        arrays.append(f.buckets(off))
        off += f.n_bands
    carry = ["simhash"] if any(f.pair_filter for f in families) else []
    buckets = arrays[0] if len(arrays) == 1 else f"concat({', '.join(arrays)})"
    rows = sig.selectExpr(f"`{id_col}`", *carry, f"inline({buckets})")
    filters = [
        f"(kind <> '{f.kind}' OR {f.pair_filter})" for f in families if f.pair_filter
    ]
    cand, drops = candidate_pairs(
        rows, ["band", "key"], id_col,
        bucket_cap={f.kind: f.cap for f in families},
        with_metrics="observe", carry=carry,
        pair_filter=" AND ".join(filters) or None,
        assume_unique=True, groups=groups,
    )
    # per-family candidate counts. The observe node is also a barrier:
    # the optimizer pushes no filter through it, so the kind filters of
    # the verify branches below stay above ONE shared distinct — pushed
    # down to the band scan, they would give each branch its own
    # exchange and self-join
    obs = Observation()
    cand = cand.observe(
        obs, *[F.expr(f"count_if(kind = '{f.kind}') AS `{f.kind}`") for f in families]
    )

    @cache
    def resolve() -> dict[str, dict]:
        try:
            counts = obs.get
        except Exception:
            # AQE prunes an observed subtree it proved empty: no candidates
            counts = {}
        return {
            f.kind: {**drops()[f.kind].__dict__, "n_candidates": int(counts.get(f.kind, 0))}
            for f in families
        }

    if len(families) == 1:
        f = families[0]
        if f.verify:
            return f.verify(cand, sig, id_col), resolve
        return cand.selectExpr("id_a", "id_b", *[f.score] if f.score else []), resolve
    verified = [f for f in families if f.verify]
    plain = ", ".join(f"'{f.kind}'" for f in families if not f.verify)
    parts = [
        cand.filter(f"kind IN ({plain})").select("id_a", "id_b", "kind")
    ] if plain else []
    parts += [
        f.verify(cand.filter(f"kind = '{f.kind}'"), sig, id_col)
        .selectExpr("id_a", "id_b", f"'{f.kind}' AS kind")
        for f in verified
    ]
    return reduce(DataFrame.unionByName, parts), resolve

"""Payload pair verification shared by the audio, image and video
near-dup passes: candidate pairs ⋈ payload(a) ⋈ payload(b) -> one
Arrow-batched Python kernel that decodes both sides and scores them.
Every modality's ``*_near_dup_pairs`` is the same bucket -> verify
shape over its own fingerprint table (``near_dup_pairs``)."""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def verify_pairs(
    pairs: DataFrame,
    table: DataFrame,
    id_col: str,
    cols: Sequence[str],
    kernel: Callable[[pd.DataFrame], dict],
    schema: str,
) -> DataFrame:
    """(id_a string, id_b string, <schema>) for every pair of ``pairs``
    whose two ids are both in ``table``. ``kernel(pdf)`` maps one Arrow
    batch — ``id_a``, ``id_b`` and ``<c>_a`` / ``<c>_b`` for each of
    ``cols`` — to the batch's output columns. The payload is read only
    here.

    The pair keys get an exchange of their own, hashed on (id_a, id_b)
    into ``defaultParallelism`` partitions, before the payload joins.
    A candidate set is tiny in bytes (10 756 pairs are 47 KB), so AQE
    coalesces its shuffle to one partition and the whole decode + score
    then ran as ONE task beside idle slots (1.45 s, over half of an
    audio near-dup op); a repartition-by-number exchange is never
    coalesced, and the broadcast payload joins keep its partitioning.
    One partition per slot, not ``spark.sql.shuffle.partitions``. Each
    Python task used to cost a fixed ~0.29 s, nearly all of it the
    worker re-reading the directories of ``pyspark.zip`` and the other
    archives on its path at task start; with those re-reads skipped
    (``cc_net_spark.worker_imports``) an identity
    mapInPandas over 1/4/16/64 partitions takes 0.15/0.22/0.42/1.13 s on
    a 4-core VM (0.34/0.44/1.22/4.63 s before), ~0.065 s per extra wave
    of tasks. A second wave still loses: two partitions per slot read
    653.7 against 802.4 clips/s (median of 4 paired ``audio_payload``
    runs, 1 of 4 better). Pair rows carry two payloads each, which is
    what the session's byte bound on Arrow batches is for
    (``session.get_spark``)."""

    def side(s: str) -> DataFrame:
        return table.select(
            F.col(id_col).alias(f"id_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in cols]
        )

    slots = pairs.sparkSession.sparkContext.defaultParallelism
    joined = (
        pairs.select("id_a", "id_b")
        .repartition(slots, "id_a", "id_b")
        .join(side("a"), "id_a")
        .join(side("b"), "id_b")
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"], **kernel(pdf)})

    return joined.mapInPandas(compute, schema=f"id_a string, id_b string, {schema}")


def pair_scores(
    pdf: pd.DataFrame, cols: Sequence[str], score: Callable[[tuple, tuple], float]
) -> np.ndarray:
    """``score(a, b)`` per pair row of a ``verify_pairs`` batch, where a
    and b are the tuples of the two sides' ``cols`` values. ±inf maps to
    ±1e9 (identical payloads score +inf; a double column keeps the
    verdict orderable and roundable); NaN stays NaN."""
    a = zip(*(pdf[f"{c}_a"] for c in cols))
    b = zip(*(pdf[f"{c}_b"] for c in cols))
    out = np.fromiter((score(x, y) for x, y in zip(a, b)), np.float64, len(pdf))
    return np.where(np.isfinite(out), out, 1e9 * np.sign(out))


def decoded_score(
    decode: Callable[..., object], metric: Callable[[object, object], float], stub: float
) -> Callable[[tuple, tuple], float]:
    """Pair scorer for ``pair_scores`` over (codec, bytes, *shape) sides:
    ``metric`` of the two decoded payloads, or ``stub`` when a codec's
    decode is stubbed out (NotImplementedError)."""

    def score(a: tuple, b: tuple) -> float:
        try:
            return metric(decode(a[0], bytes(a[1]), *a[2:]), decode(b[0], bytes(b[1]), *b[2:]))
        except NotImplementedError:
            return stub

    return score


def near_dup_pairs(
    fp: DataFrame,
    keys: list[str],
    id_col: str,
    verify: Callable[[DataFrame], DataFrame],
    *,
    bucket_cap: int,
    with_metrics,
):
    """Fingerprint buckets (skew-capped, the shared candidate machinery)
    -> ``verify(candidates)``. ``with_metrics=True`` returns
    ``(pairs, PairGenMetrics)`` so callers record how many buckets/rows
    the cap dropped (no silent truncation); ``"observe"`` returns
    ``(pairs, resolve)`` with the metrics riding the caller's own action
    (operators/pairs.py) — no second action over ``fp``, so the decode
    output streams straight into the candidate join's one exchange."""
    from cc_net_spark.operators.pairs import candidate_pairs

    if with_metrics and with_metrics != "observe":
        # the eager metrics aggregation is a second action over fp and
        # must not decode every payload again; localCheckpoint (not
        # persist) so the blocks are reclaimed once the caller drops the
        # DataFrame instead of leaking for the session lifetime
        fp = fp.localCheckpoint(eager=True)
    out = candidate_pairs(fp, keys, id_col, bucket_cap=bucket_cap, with_metrics=with_metrics)
    if not with_metrics:
        return verify(out)
    cand, metrics = out
    return verify(cand), metrics

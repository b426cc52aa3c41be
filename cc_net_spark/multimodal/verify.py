"""Payload pair verification shared by the audio, image and video
near-dup passes: candidate pairs co-grouped with the payloads they
reference, each payload decoded once per group and every pair scored by
lookup.
Every modality's ``*_near_dup_pairs`` is the same bucket -> verify
shape over its own fingerprint table (``near_dup_pairs``)."""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def verify_pairs(
    pairs: DataFrame,
    table: DataFrame,
    id_col: str,
    cols: Sequence[str],
    prepare: Callable[..., object],
    kernel: Callable[[list, list], dict],
    schema: str,
) -> DataFrame:
    """(id_a string, id_b string, <schema>) for every pair of ``pairs``
    whose two ids are both in ``table``, with an inner join's
    multiplicity: a duplicate pair row stays duplicated and a pair with
    an id missing from ``table`` yields no row. ``prepare(*values)`` maps
    one payload's ``cols`` values to what the scorer needs (a decoded
    array, say); ``kernel(a, b)`` maps the prepared values of a group's
    pair sides, two equal-length lists, to the output columns. The
    payload is read only here.

    Each payload ships to a verify group, and is prepared there, at most
    once. A pair belongs to group ``pmod(hash(id_a), slots)``, one group
    per slot (``defaultParallelism``, not ``spark.sql.shuffle.partitions``),
    and the pair keys are exchanged by ``repartitionById`` so that group
    g is partition g. AQE never coalesces such an exchange; it did
    coalesce the tiny candidate shuffle (10 756 pairs are 47 KB) and
    then ran the whole verify as ONE task beside idle slots. The
    (group, id hash) set the keys reference is read off that exchange
    (a ReusedExchange: the upstream candidate plan runs once) and is the
    broadcast build side; the payload scan streams past it, and its
    matches are exchanged by group the same way. The two sides are
    co-grouped with no further exchange, one group per task, and the
    kernel scores every pair by lookup.

    Per ``audio_payload`` op (1600 clips, 22.7 MB of payload, 10 756
    candidate pairs, 4 slots) the earlier shape, the pair keys joined to
    both sides' payloads through a broadcast of the whole payload table,
    sent 21 512 payload copies (353.6 MB) into Python and decoded each
    one; every op's broadcast relation also stayed on the driver heap
    until Python's cyclic GC freed the op's DataFrame. Shipped once per
    group, 4 154 payload rows (63.7 MB) cross into Python, each decoded
    once, and the broadcast holds only id hashes."""
    slots = pairs.sparkSession.sparkContext.defaultParallelism
    keys = pairs.select(
        "id_a", "id_b", F.expr(f"pmod(hash(id_a), {slots})").alias("_g")
    ).repartitionById(slots, "_g")
    # _pg, not _g: a plan co-grouped with one derived from it needs a
    # fresh attribute, or the analyzer finds _g ambiguous. The ids go in
    # as 64-bit hashes: a single long key builds a hash relation sized
    # to its rows, a string key one that takes a whole memory page
    # (~64 MB on the driver, per op). A colliding payload at most ships
    # to a group that never reads it: pairs find payloads by exact id.
    refs = keys.select(
        F.col("_g").alias("_pg"),
        F.explode(F.array(F.xxhash64("id_a"), F.xxhash64("id_b"))).alias("_h"),
    ).distinct()
    payload = (
        table.where(F.col(id_col).isNotNull())
        .select(F.xxhash64(id_col).alias("_h"), id_col, *cols)
        .join(F.broadcast(refs), "_h")
        .drop("_h")
        .repartitionById(slots, "_pg")
    )

    def compute(group_pairs: pd.DataFrame, group_payloads: pd.DataFrame) -> pd.DataFrame:
        prepared = [prepare(*v) for v in zip(*(group_payloads[c] for c in cols))]
        pos = pd.DataFrame({"id": group_payloads[id_col], "pos": np.arange(len(prepared))})
        rows = group_pairs.merge(pos.rename(columns={"id": "id_a", "pos": "pa"}), on="id_a").merge(
            pos.rename(columns={"id": "id_b", "pos": "pb"}), on="id_b"
        )
        a = [prepared[i] for i in rows["pa"]]
        b = [prepared[i] for i in rows["pb"]]
        return pd.DataFrame({"id_a": rows["id_a"], "id_b": rows["id_b"], **kernel(a, b)})

    return keys.groupBy("_g").cogroup(payload.groupBy("_pg")).applyInPandas(
        compute, schema=f"id_a string, id_b string, {schema}"
    )


def decoded(decode: Callable[..., object]) -> Callable[..., object]:
    """A ``prepare`` step for ``verify_pairs``: ``decode(*values)``, or
    the NotImplementedError of a stubbed-out codec, which ``pair_scores``
    scores as a stub. Any other decode error fails the task."""

    def prepare(*values):
        try:
            return decode(*values)
        except NotImplementedError as e:
            return e

    return prepare


def pair_scores(
    a: Sequence, b: Sequence, metric: Callable[[object, object], float], stub: float
) -> np.ndarray:
    """``metric(x, y)`` per pair of ``decoded`` payloads, or ``stub`` when
    either side's codec is stubbed out. ±inf maps to ±1e9 (identical
    payloads score +inf; a double column keeps the verdict orderable and
    roundable); NaN stays NaN."""

    def score(x, y) -> float:
        if isinstance(x, NotImplementedError) or isinstance(y, NotImplementedError):
            return stub
        return metric(x, y)

    out = np.fromiter((score(x, y) for x, y in zip(a, b)), np.float64, len(a))
    return np.where(np.isfinite(out), out, 1e9 * np.sign(out))


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

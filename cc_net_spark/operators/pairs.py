"""Bucket -> candidate-pair generation, shared by the MinHash-LSH, SimHash
and substring passes.

This is the skew-critical operator (SURVEY.md §4 "custom physical
strategies"): a degenerate bucket (boilerplate transcript, hot paragraph,
silence) generates O(m^2) pairs. Defense in depth:

* bucket-size cap: buckets above ``bucket_cap`` are dropped *with metrics*
  (count of dropped buckets + dropped member rows — no silent truncation),
* the self-join runs under AQE with skew-join splitting enabled,
* callers can salt upstream (e.g. split a pathological key by a salt
  column) — see ``salted_bucket_sizes``.

The reference has no counterpart (cc_net never generates pairs); this is
the graft's own Spark-native machinery.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PairGenMetrics:
    n_buckets: int
    n_buckets_dropped: int
    n_rows_dropped: int


def _cap_sql(cap, groups: dict[str, str] | None) -> str | None:
    """The bucket cap as a SQL expression over the bucket columns: one
    integer, or (``cap`` a dict) a CASE over the ``groups`` predicates
    giving each group its own cap. None means no cap."""
    if cap is None:
        return None
    if not isinstance(cap, dict):
        return str(int(cap))
    whens = " ".join(f"WHEN {groups[g]} THEN {int(c)}" for g, c in cap.items())
    return f"CASE {whens} END"


def _kind_sql(groups: dict[str, str]) -> str:
    """Each bucket's group label: the first group whose predicate holds."""
    return "CASE " + " ".join(f"WHEN {p} THEN '{g}'" for g, p in groups.items()) + " END"


def _metric_aggs(
    groups: dict[str, str] | None, first: str, over: str, members: str = "1"
) -> list[str]:
    """Drop-counter aggregates, three per group (one set when ungrouped):
    buckets (rows where ``first`` holds, one per bucket), dropped buckets
    and dropped member rows (``over``: the bucket exceeds its cap;
    ``members``: the member rows one input row stands for)."""
    sel = {"": "true"} if not groups else {
        f"_{g}": f"({_kind_sql(groups)}) = '{g}'" for g in groups
    }
    return [
        f"coalesce(sum(CASE WHEN {s} AND {c} THEN {n} ELSE 0 END), 0) AS {name}{sfx}"
        for sfx, s in sel.items()
        for name, c, n in (
            ("_nb", first, "1"),
            ("_nbd", f"{first} AND {over}", "1"),
            ("_nrd", over, members),
        )
    ]


def _metrics_from_row(row, groups: dict[str, str] | None):
    """PairGenMetrics from a ``_metric_aggs`` row; {label: PairGenMetrics}
    when grouped."""
    def one(sfx: str) -> PairGenMetrics:
        return PairGenMetrics(
            n_buckets=int(row[f"_nb{sfx}"]),
            n_buckets_dropped=int(row[f"_nbd{sfx}"]),
            n_rows_dropped=int(row[f"_nrd{sfx}"]),
        )

    if not groups:
        return one("")
    return {g: one(f"_{g}") for g in groups}


def _eager_metrics(b: DataFrame, bucket_cols: list[str], cap_sql, groups=None):
    """One groupBy scan over the bucket table -> exact drop counters."""
    sizes = b.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bsz"))
    over = f"_bsz > {cap_sql}" if cap_sql is not None else "false"
    row = sizes.selectExpr(*_metric_aggs(groups, "true", over, "_bsz")).collect()[0]
    return _metrics_from_row(row, groups)


def _observed_metrics(
    tagged: DataFrame, cap_sql, id_col: str, part: str, fallback, groups=None
) -> tuple[DataFrame, "object"]:
    """Attach an Observation computing the drop metrics INSIDE the main
    action (zero extra jobs, zero extra scans — the eager path re-scans
    the band table with its own groupBy, which at corpus scale is a full
    second read). Bucket counts are INTEGER-exact: each bucket is counted
    on exactly one row via ``id == min(id) over bucket`` — min rides the
    same unordered WindowExec that computes ``_bsz`` (no extra sort, no
    extra exchange), and ids are unique within a bucket by the caller's
    dedup/assume_unique contract. With ``groups`` the same Observation
    carries one counter set per group.

    Retry semantics: Observation metrics are accumulator-backed; a stage
    re-attempt after shuffle-fetch failure can re-apply updates from
    re-executed tasks, so counts can only OVER-state (never hide) drops.
    The eager groupBy mode stays retry-exact — use it when auditing.

    Returns (tagged-with-observe, resolve); ``resolve()`` must be called
    AFTER an action has run over the returned frame."""
    from pyspark.sql import Observation

    obs = Observation()
    # server-side-parsed window expression (same plan as a py4j Column
    # chain; ``part`` is the backticked PARTITION BY list) — plan-build
    # round trips are serial driver time on every pipeline run
    tagged = tagged.selectExpr(
        "*", f"min(`{id_col}`) OVER (PARTITION BY {part}) AS _bmin"
    )
    over = f"_bsz > {cap_sql}" if cap_sql is not None else "false"
    aggs = _metric_aggs(groups, f"`{id_col}` = _bmin", over)
    tagged = tagged.observe(obs, *[F.expr(a) for a in aggs]).drop("_bmin")

    def resolve():
        try:
            got = obs.get
        except Exception:
            # when the query's OUTPUT is empty, AQE's empty-relation
            # propagation can prune the whole observed subtree — the
            # observation row comes back schemaless and .get raises.
            # Empty output can coincide with real drops (every bucket
            # over cap), so silently reporting zeros would hide
            # truncation: fall back to the eager one-job scan instead
            # (rare case, exact counters).
            return fallback()
        return _metrics_from_row(got, groups)

    return tagged, resolve


def candidate_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    bucket_cap: int | dict[str, int] = 200,
    with_metrics: bool = False,
    carry: list[str] | None = None,
    pair_filter=None,
    assume_unique: bool = False,
    groups: dict[str, str] | None = None,
):
    """All unordered id pairs co-occurring in a bucket, ``id_a < id_b``.

    ``bucketed``: one row per (bucket, id). Buckets larger than
    ``bucket_cap`` are excluded (their pair count is quadratic; at corpus
    scale they are near-always boilerplate that exact dedup already
    handles). Returns distinct pairs; with ``with_metrics`` also returns
    drop counters.

    ``carry``: extra narrow columns of ``bucketed`` replicated onto both
    pair sides and emitted as ``<col>_a`` / ``<col>_b`` — lets a caller
    verify INLINE instead of joining the pairs back to a values table.
    ``pair_filter``: a Column or SQL string over the pair row (may
    reference carried columns and ``kind``) applied BEFORE the distinct —
    when most candidates fail verification (the usual LSH regime),
    filtering pre-distinct shrinks the dedup shuffle from |candidates| to
    |matches|.
    ``assume_unique``: promise that ``bucketed`` already holds one row
    per (bucket, id) — true by construction for LSH band tables — which
    skips the defensive dropDuplicates shuffle.

    ``groups``: several pair families sharing ONE bucket table (one
    exchange, one self-join), told apart by their bucket columns —
    label -> SQL predicate over ``bucket_cols``, the first that holds
    names a bucket's group. The pairs then lead with a ``kind`` column
    holding the label, the distinct keeps one row per (kind, id_a, id_b),
    ``bucket_cap`` may be a dict giving each label its own cap, and the
    drop metrics come back as {label: PairGenMetrics}.

    ``with_metrics="observe"``: the drop metrics are computed INSIDE the
    caller's own action via an Observation on the window-tagged rows
    (verified single-counted even though the self-join consumes that node
    twice) — zero extra jobs and zero extra scans, vs the eager ``True``
    mode whose separate groupBy re-reads the band table (a full second
    pass at corpus scale). Returns ``(pairs, resolve)`` where
    ``resolve()`` yields the PairGenMetrics and must be called after an
    action has run over ``pairs``.
    """
    carry = carry or []
    b = bucketed.select(*bucket_cols, id_col, *carry)
    if not assume_unique:
        b = b.dropDuplicates([*bucket_cols, id_col])
    cap = _cap_sql(bucket_cap, groups)
    # bucket sizes via a window count over the SAME shuffle the self-join
    # needs: the bucket table is exchanged ONCE (hash-partitioned + sorted
    # on the bucket cols by WindowExec), the size filter runs in place,
    # and the self-join consumes both branches with no further exchange
    # or sort (runtime: one ReusedExchange — the merge hint below keeps
    # the planner from breaking this shape with a broadcast). The
    # previous shape — groupBy sizes + a shuffle-hash join-back —
    # shuffled the partially-aggregated sizes AND the bucket table (two
    # exchanges of ~|bands| rows each). Trade-off: WindowExec buffers
    # each bucket before the filter drops it (spilling via
    # ExternalAppendOnlyUnsafeRowArray), so a monster boilerplate bucket
    # costs one linear spill instead of being streamed past — acceptable
    # (linear, disk-backed) vs the quadratic blow-up the cap stops.
    # Expressions are server-side-parsed SQL strings, not py4j Column
    # chains: this builder runs once per family per plan, and the
    # round trips are serial driver time (measured ~45% of the build).
    part = ", ".join(f"`{c}`" for c in bucket_cols)
    tagged = b.selectExpr(
        "*", f"count(1) OVER (PARTITION BY {part}) AS _bsz"
    )
    resolve = None
    if with_metrics == "observe":
        tagged, resolve = _observed_metrics(
            tagged, cap, id_col, part,
            lambda: _eager_metrics(b, bucket_cols, cap, groups), groups,
        )
    kept = tagged.filter(f"_bsz >= 2 AND _bsz <= {cap}").drop("_bsz")

    bcols = [f"`{c}`" for c in bucket_cols]
    left = kept.selectExpr(
        *bcols, f"`{id_col}` AS id_a",
        *[f"`{c}` AS `{c}_a`" for c in carry],
    )
    right = kept.selectExpr(
        *bcols, f"`{id_col}` AS id_b",
        *[f"`{c}` AS `{c}_b`" for c in carry],
    )
    out_cols = ["id_a", "id_b"] + [f"`{c}_{s}`" for c in carry for s in ("a", "b")]
    if groups:
        out_cols.insert(0, f"{_kind_sql(groups)} AS kind")
    # MERGE hint: without it the planner broadcasts one side of the
    # self-join whenever the band table estimate fits the threshold —
    # which RECOMPUTES the whole exchange+window subtree for the build
    # side and serializes the full band table, instead of the
    # one-exchange ReusedExchange shape this operator is designed
    # around. SMJ's sort requirement is already satisfied by the
    # window's (bucket_cols) sort, so the hint costs nothing (measured:
    # 0.85 s vs 1.03 s warm, 1.1 vs 3.1 cold on the 20k-clip minhash
    # band join; identical rows), and sort-merge is the graceful-spill
    # choice at corpus scale anyway.
    pairs = (
        left.join(right.hint("merge"), bucket_cols, "inner")
        .filter("id_a < id_b")
        .selectExpr(*out_cols)
    )
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    pairs = pairs.distinct()
    if not with_metrics:
        return pairs
    if with_metrics == "observe":
        return pairs, resolve
    # drop-metrics need the over-cap buckets the window filter discarded:
    # one separate groupBy over b (cheap — b derives from a materialized
    # stage table, so this is a JVM-side re-scan, no UDF recompute)
    return pairs, _eager_metrics(b, bucket_cols, cap, groups)


def salted_candidate_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    *,
    hot_threshold: int = 200,
    n_salts: int = 16,
    bucket_cap: int | None = None,
    with_metrics: bool = False,
    carry: list[str] | None = None,
    pair_filter=None,
    assume_unique: bool = False,
):
    """Candidate pairs with HOT-BUCKET SALTING instead of dropping.

    Buckets <= ``hot_threshold`` go through the plain self-join. Hotter
    buckets are salted: each member gets a deterministic salt
    s = xxhash64(id) % n_salts, and the bucket's pair space is tiled into
    the (s_a <= s_b) grid of salt-cell pairs — every member is replicated
    ~n_salts times, every cell holds ~m/n_salts members, so the quadratic
    work of an m-member bucket lands on ~n_salts^2/2 tasks instead of one
    straggler. The FULL pair set is produced (no recall loss — unlike the
    cap, which drops; use ``bucket_cap`` on top to still drop pathological
    boilerplate buckets, with the same no-silent-truncation contract).

    This is the "salting hot LSH buckets" strategy of the north rule;
    `candidate_pairs` (cap) remains the right default for buckets that are
    boilerplate rather than load imbalance.

    ``with_metrics=True`` returns ``(pairs, PairGenMetrics)`` counting the
    buckets/rows the ``bucket_cap`` ceiling dropped (zero when no cap) —
    the same no-silent-truncation contract as the capped generator.

    ``carry`` / ``pair_filter`` / ``assume_unique``: same inline-verify
    contracts as ``candidate_pairs`` — carried columns follow their id
    through the hot-cell least/greatest canonicalization.
    """
    carry = carry or []
    b = bucketed.select(*bucket_cols, id_col, *carry)
    if not assume_unique:
        b = b.dropDuplicates([*bucket_cols, id_col])
    # window-count sizes over the self-join's own exchange (see
    # candidate_pairs): one shuffle of the bucket table, reused by the
    # cold self-join branches and the hot tiling. Server-side-parsed
    # SQL expressions throughout — same plans, fewer py4j round trips.
    part = ", ".join(f"`{c}`" for c in bucket_cols)
    tagged = b.selectExpr(
        "*", f"count(1) OVER (PARTITION BY {part}) AS _bsz"
    )
    resolve, cap = None, _cap_sql(bucket_cap, None)
    if with_metrics == "observe":
        # observe BEFORE the cap filter so dropped buckets are counted
        # (same zero-extra-pass contract as candidate_pairs)
        tagged, resolve = _observed_metrics(
            tagged, cap, id_col, part, lambda: _eager_metrics(b, bucket_cols, cap),
        )
    if bucket_cap is not None:
        tagged = tagged.filter(f"_bsz <= {int(bucket_cap)}")

    bcols = [f"`{c}`" for c in bucket_cols]
    carry_a = [f"`{c}` AS `{c}_a`" for c in carry]
    carry_b = [f"`{c}` AS `{c}_b`" for c in carry]
    out_cols = ["id_a", "id_b"] + [f"{c}_{s}" for c in carry for s in ("a", "b")]
    cold = tagged.filter(f"_bsz >= 2 AND _bsz <= {int(hot_threshold)}")
    cold_pairs = (
        cold.selectExpr(*bcols, f"`{id_col}` AS id_a", *carry_a)
        .join(
            # merge hint: see candidate_pairs — keeps the self-join on
            # the reused window exchange instead of a broadcast that
            # recomputes the subtree
            cold.selectExpr(*bcols, f"`{id_col}` AS id_b", *carry_b).hint(
                "merge"
            ),
            bucket_cols,
        )
        .filter("id_a < id_b")
        .select(*out_cols)
    )
    if pair_filter is not None:
        cold_pairs = cold_pairs.filter(pair_filter)

    hot = tagged.filter(f"_bsz > {int(hot_threshold)}").selectExpr(
        "*",
        f"CAST(pmod(xxhash64(`{id_col}`), {int(n_salts)}) AS INT) AS _salt",
    )
    # left side owns cells (s, s..n-1), right side cells (0..s, s): the
    # (cell_lo, cell_hi) equi-join covers every salt pair exactly once
    left = hot.selectExpr(
        *bcols,
        f"`{id_col}` AS id_a",
        *carry_a,
        "_salt AS _lo",
        f"explode(sequence(_salt, {int(n_salts) - 1})) AS _hi",
    )
    right = hot.selectExpr(
        *bcols,
        f"`{id_col}` AS id_b",
        *carry_b,
        "explode(sequence(0, _salt)) AS _lo",
        "_salt AS _hi",
    )
    # a pair lands in exactly one cell oriented by SALT order, which is
    # independent of id order — canonicalize with least/greatest (an
    # id_a < id_b filter would drop pairs whose salt order disagrees);
    # carried columns swap with their ids
    canon = ["least(id_a, id_b) AS id_a", "greatest(id_a, id_b) AS id_b"]
    for c in carry:
        canon.append(
            f"CASE WHEN id_a > id_b THEN `{c}_b` ELSE `{c}_a` END AS `{c}_a`"
        )
        canon.append(
            f"CASE WHEN id_a > id_b THEN `{c}_a` ELSE `{c}_b` END AS `{c}_b`"
        )
    hot_pairs = (
        # merge hint: the hot branch's sides are the same exploded hot
        # rows — a broadcast build would recompute the window+explode
        # subtree and serialize a hot bucket's full tiling (unbounded at
        # corpus scale); SMJ shuffles each side once on the salted key
        left.join(right.hint("merge"), [*bucket_cols, "_lo", "_hi"])
        .filter("id_a != id_b")
        .selectExpr(*canon)
    )
    if pair_filter is not None:
        hot_pairs = hot_pairs.filter(pair_filter)
    pairs = cold_pairs.unionByName(hot_pairs).distinct()
    if not with_metrics:
        return pairs
    if with_metrics == "observe":
        return pairs, resolve
    # metrics need the over-cap buckets the filter discarded (see
    # candidate_pairs): a separate cheap groupBy over b
    return pairs, _eager_metrics(b, bucket_cols, cap)


def salted_bucket_sizes(bucketed: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Bucket-size profile (for skew diagnostics / deciding caps)."""
    return (
        bucketed.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy(F.desc("bucket_size"))
    )

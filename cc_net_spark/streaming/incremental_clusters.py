"""Incremental duplicate-CLUSTER maintenance over arriving shards.

The incremental near-dup handler (``incremental_neardup.py``) stops at
verified match pairs + keep-first flags; the batch pipeline's endpoint is
cluster assignments (LSH -> verify -> connected components,
``plans/pipeline.py``). This module closes that gap for the streaming
path: a LOG-STRUCTURED UNION-FIND whose state lives in two append-only
tables with the same replay-idempotent ``(_batch_id, _kb)`` hive layout
as the LSH state, so cluster assignments stay current batch-over-batch
without ever re-reading history pairs or re-running corpus-wide CC.

State tables (all hive-partitioned ``_batch_id=N/_kb=K``):

* ``cassign`` (id, root) — one row per id, written at its ARRIVAL batch,
  ``_kb = bucket(id)``. The row is never rewritten; its root can go
  stale, which is what aliases repair at read time.
* ``calias`` (old_root, new_root) — written when a merge retires an
  existing cluster root, ``_kb = bucket(old_root)``. One row per retired
  root per merge event; resolution follows chains (old -> new -> newer),
  and compaction collapses them.

Per batch (``update``): the batch's match pairs (from the near-dup
handler's output, or any edge source) are mapped onto current roots —
history endpoints look up their assignment with a PARTITION-PRUNED read
of ``cassign`` (only the endpoints' id buckets are touched, never the
corpus) and resolve alias chains with pruned reads of ``calias`` — then
one batch-sized connected-components run over the mapped edges yields
the final root per touched node (min id across the merged components,
matching the batch operator's label convention exactly: the min of
merged minima IS the global component min). Writes: ``cassign`` rows for
the batch's ids (root = final root; singletons point at themselves) and
for history endpoints seen here for the first time; ``calias`` rows for
every retired root. Both writes overwrite only this batch's own
partition dir, and every read filters ``_batch_id < current``, so an
at-least-once replay recomputes byte-identical output (same idempotence
contract as the LSH state). Like the LSH state, the state path is a
pointer root whose live tree ``<root>/v<N>`` is resolved at the start of
every fold and read; ``compact_clusters_state`` publishes the next
version with the same ``CURRENT`` flip.

Scale shape: per-batch IO and compute are bounded by the batch's pair
volume (itself bounded by the near-dup caps) — history ``cassign`` reads
prune to the matched endpoints' buckets (dozens of ids -> very few
bucket dirs), ``calias`` is merge-events-sized (≪ corpus), and the merge
graph handed to ``connected_components`` holds only this batch's
endpoints, so its driver/distributed routing sees batch-scale, never
corpus-scale, input. Nothing in ``update`` scans state proportional to
the corpus.

Invariant (tested): after any batch sequence, fully-resolved assignments
equal the batch pipeline's ``connected_components`` + ``assign_clusters``
over the union of all batches' pairs — arrival order changes which root
gets retired, never the final labels.

Reference anchor: cc_net's duplicate clusters are implicit in its shared
hash table (``cc_net/dedup.py:92-124``); the graft makes them an explicit
maintained table, the "salted repartition + connected-components"
endpoint of the north star, kept incrementally current.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from cc_net_spark.operators.connected_components import connected_components
import cc_net_spark.sources.hadoop_fs as hfs
from cc_net_spark.sources.hadoop_fs import (
    commit_small_text,
    ensure_live_tree,
    hadoop_fs as _hadoop_fs,
    live_tree,
    publish_next,
    read_committed,
)
from cc_net_spark.streaming.incremental_neardup import (
    _conf_overrides,
    _join_path,
    _read_optional,
    _run_parallel,
)

CLUSTER_STATE_FORMAT = 1
# planner of a fold whose input bounds fit ``small_fold_rows`` (see
# IncrementalClusters.__init__)
SMALL_FOLD_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}


def _assign_t(id_col: str) -> StructType:
    return StructType(
        [StructField(id_col, StringType()), StructField("root", StringType())]
    )


_ALIAS_T = StructType(
    [StructField("old_root", StringType()), StructField("new_root", StringType())]
)


class IncrementalClusters:
    """Maintains cluster assignments from per-batch duplicate pairs.

    ``update(batch_ids, pairs, batch_id)`` is the per-micro-batch entry
    point — typically fed the near-dup handler's verified pairs for the
    same batch id. ``current()`` returns fully alias-resolved
    assignments; ``resolve(ids)`` answers point lookups with pruned
    reads. ``compact_clusters_state`` rewrites the log into one
    partition with all alias chains collapsed.
    """

    def __init__(
        self,
        state_path: str,
        *,
        id_col: str = "clip_id",
        n_state_buckets: int = 64,
        driver_threshold: int = 2_000_000,
        max_alias_hops: int = 20,
        small_fold_rows: int = 200_000,
    ):
        self.state_path = state_path
        self.id_col = id_col
        self.n_state_buckets = n_state_buckets
        self.driver_threshold = driver_threshold
        # small-fold planner: when the caller supplies row BOUNDS for a
        # batch (``update(..., pairs_rows=, ids_rows=)`` — parquet
        # footers via fold_new_batches) and ids + 4*pairs stays under
        # ``small_fold_rows``, the fold runs with AQE off and
        # 8 shuffle partitions (``SMALL_FOLD_CONFS``): a micro-batch
        # fold's shuffles carry KBs, and its wall is serial job barriers
        # (AQE's per-stage jobs) plus per-task overhead on session-sized
        # exchanges — the same planner contract as IncrementalNearDup's
        # small_batch_mode, but derived from measured input size instead
        # of a caller flag, so corpus-sized backfill folds keep the full
        # session planner. Plan-only: outputs are identical either way
        # (parity-tested).
        self.small_fold_rows = small_fold_rows
        # alias chains deepen by at most 1 per merge that lands on an
        # already-aliased root BETWEEN compactions; a bound this high is
        # unreachable in practice and turns a resolution cycle (which
        # can only come from state corruption) into a loud error
        self.max_alias_hops = max_alias_hops
        self._meta_checked = False

    # -- layout helpers (same discipline as IncrementalNearDup) ---------

    def _bind(self, live: str) -> None:
        """Point the state-table paths at the live tree ``live``."""
        self.cassign_path = _join_path(live, "cassign")
        self.calias_path = _join_path(live, "calias")
        self.meta_path = _join_path(live, "meta")

    def _open(self, spark: SparkSession, *, write: bool) -> None:
        """Resolve and bind the live tree — per fold and read, never
        cached (a compaction moves it). A writer commits ``CURRENT ->
        v0`` on the first fold and checks the meta marker; a reader
        creates nothing: a root with no state yet binds its would-be
        ``v0``, whose absent tables read as empty."""
        if write:
            self._bind(ensure_live_tree(spark, self.state_path))
            self._check_meta(spark)
        else:
            self._bind(
                live_tree(spark, self.state_path)
                or _join_path(self.state_path, "v0")
            )

    def _kb_expr(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_state_buckets)).cast("int")

    def _bucket_ids(self, df: DataFrame, col: str) -> list[int]:
        rows = df.select(self._kb_expr(col).alias("_kb")).distinct().collect()
        return sorted(r["_kb"] for r in rows)

    def _history(
        self, spark: SparkSession, path: str, before: int | None, kbs: list[int] | None
    ) -> DataFrame | None:
        """Pruned state read: ``_batch_id < before`` and (when given) the
        bucket set — both hive levels, so the filter skips directories."""
        if kbs is not None and not kbs:
            return None
        df = _read_optional(spark, path)
        if df is None:
            return None
        if before is not None:
            df = df.filter(F.col("_batch_id") < before)
        if kbs is not None:
            df = df.filter(F.col("_kb").isin(kbs))
        return df

    def _check_meta(self, spark: SparkSession) -> None:
        import json as _json

        if self._meta_checked:
            return
        marker = _join_path(self.meta_path, "meta.json")
        meta = read_committed(spark, marker, _json.loads)
        if meta is not None:
            if meta["n_state_buckets"] != self.n_state_buckets:
                raise ValueError(
                    f"cluster state at {self.meta_path} was written with "
                    f"n_state_buckets={meta['n_state_buckets']}, handler "
                    f"configured with {self.n_state_buckets} — pruned "
                    f"lookups would miss buckets"
                )
            if meta.get("state_format", 1) != CLUSTER_STATE_FORMAT:
                raise ValueError(
                    f"cluster state format {meta.get('state_format')} != "
                    f"engine format {CLUSTER_STATE_FORMAT} — rebuild state"
                )
        else:
            commit_small_text(
                spark, marker,
                _json.dumps({
                    "n_state_buckets": self.n_state_buckets,
                    "state_format": CLUSTER_STATE_FORMAT,
                }),
            )
        self._meta_checked = True

    # -- alias resolution ------------------------------------------------

    def _dedupe_earliest(self, df: DataFrame, key: str) -> DataFrame:
        """One row per key, earliest batch wins (keep-first, mirroring
        ``compact_state``): a re-delivered id may carry a second cassign
        row; the arrival row is authoritative and aliases bring its root
        current."""
        w = Window.partitionBy(key).orderBy("_batch_id")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _resolve_aliases(
        self, spark: SparkSession, df: DataFrame, before: int | None,
        *, pruned: bool = True,
    ) -> DataFrame:
        """Follow alias chains until every ``root`` is current. Each hop
        is one pruned ``calias`` filter + one join; the loop's count
        action doubles as the convergence test. Zero-merge histories
        exit BEFORE any Spark action (absent table — the common steady
        state probe — used to pay a bucket-id collect per call just to
        discover there was nothing to read), and the table is listed
        once per call rather than once per hop."""
        alias_base = _read_optional(spark, self.calias_path)
        if alias_base is None:
            return df
        if before is not None:
            alias_base = alias_base.filter(F.col("_batch_id") < before)
        for _hop in range(self.max_alias_hops):
            kbs = self._bucket_ids(df, "root") if pruned else None
            if kbs is not None and not kbs:
                return df
            alias = (
                alias_base.filter(F.col("_kb").isin(kbs))
                if kbs is not None
                else alias_base
            )
            alias = (
                self._dedupe_earliest(alias, "old_root")
                .select(F.col("old_root").alias("root"), "new_root")
            )
            joined = df.join(F.broadcast(alias), "root", "left").localCheckpoint(
                eager=False
            )
            n_hits = joined.filter(F.col("new_root").isNotNull()).count()
            if n_hits == 0:
                return joined.drop("new_root")
            df = joined.select(
                *[c for c in df.columns if c != "root"],
                F.coalesce("new_root", "root").alias("root"),
            )
        raise RuntimeError(
            f"alias chain longer than {self.max_alias_hops} hops — cluster "
            f"state at {self.calias_path} is corrupt (resolution cycle?)"
        )

    # -- per-batch update -------------------------------------------------

    def update(
        self,
        batch_ids: DataFrame,
        pairs: DataFrame,
        batch_id: int,
        *,
        pairs_rows: int | None = None,
        ids_rows: int | None = None,
    ) -> None:
        """Fold one batch's duplicate pairs into the cluster state.

        ``batch_ids``: one column (``id_col``) holding every id that
        ARRIVED in this batch (matched or not — singletons get their own
        assignment row). ``pairs``: (id_a, id_b) edges; endpoints outside
        ``batch_ids`` are history references resolved via pruned state
        reads. Safe to replay: reads see only ``_batch_id < batch_id``,
        writes overwrite only this batch's partition dirs.

        ``pairs_rows``: caller-known upper bound on the pairs row count
        (e.g. Parquet footer metadata — ``fold_new_batches`` passes it).
        The merge graph maps each pair endpoint to at most TWO roots
        (its arrival row and its state row), so ``4 * pairs_rows``
        bounds the derived edge count; when that bound clears the
        driver threshold, connected_components skips its sizing
        distinct + count() — one full shuffle and one action fewer per
        fold, on the path whose wall is almost entirely serial job
        barriers.

        ``ids_rows``: caller-known upper bound on the batch_ids row
        count (flags-partition footer via ``fold_new_batches``).
        Together with ``pairs_rows`` it sizes the fold's planner: see
        ``small_fold_rows`` in the constructor.
        """
        spark = batch_ids.sparkSession
        bound = (
            ids_rows + 4 * pairs_rows
            if ids_rows is not None and pairs_rows is not None
            else None
        )
        if bound is not None and bound <= self.small_fold_rows:
            with _conf_overrides(spark, SMALL_FOLD_CONFS):
                return self._update(batch_ids, pairs, batch_id,
                                    pairs_rows=pairs_rows)
        return self._update(batch_ids, pairs, batch_id,
                            pairs_rows=pairs_rows)

    def _update(
        self,
        batch_ids: DataFrame,
        pairs: DataFrame,
        batch_id: int,
        *,
        pairs_rows: int | None = None,
    ) -> None:
        spark = batch_ids.sparkSession
        idc = self.id_col
        self._open(spark, write=True)
        # every persisted id is a string (the LSH state casts too);
        # self-pairs carry no merge information
        ids = (
            batch_ids.select(F.col(idc).cast("string").alias(idc))
            .dropDuplicates([idc])
            .localCheckpoint(eager=False)
        )
        pr = pairs.select(
            F.col("id_a").cast("string").alias("id_a"),
            F.col("id_b").cast("string").alias("id_b"),
        ).filter(F.col("id_a") != F.col("id_b"))

        # --- pair endpoints -> current roots (pruned lookups). ALL
        # endpoints are looked up, batch ids included: under out-of-order
        # or at-least-once delivery a batch id can already own a state
        # row (written earlier as a first-seen history endpoint, or by a
        # replayed shard) — rooting it at itself would strand the rest of
        # its existing cluster. Lookup volume stays match-bounded.
        eps = (
            pr.select(F.col("id_a").alias(idc))
            .unionByName(pr.select(F.col("id_b").alias(idc)))
            .distinct()
            .localCheckpoint(eager=False)
        )
        hist_assign = self._history(
            spark, self.cassign_path, batch_id, self._bucket_ids(eps, idc)
        )
        if hist_assign is not None:
            state_assign = (
                self._dedupe_earliest(
                    hist_assign.join(F.broadcast(eps), idc, "leftsemi"), idc
                )
                .select(idc, "root")
            )
        else:
            state_assign = spark.createDataFrame([], _assign_t(idc))
        # HISTORY endpoints with no assignment row yet (pairs fed from a
        # source that predates this handler): they join the log now,
        # rooted at themselves until the merge below relabels them. Batch
        # ids are excluded — their row is written by new_assign below.
        missing = (
            eps.join(state_assign.select(idc), idc, "left_anti")
            .join(ids, idc, "left_anti")
            .select(idc, F.col(idc).alias("root"))
        )
        state_assign = self._resolve_aliases(
            spark, state_assign, batch_id
        ).localCheckpoint(eager=False)
        known = state_assign.unionByName(missing)

        # --- merge graph over current roots: batch-sized by construction
        node_map = ids.select(
            F.col(idc).alias("_n"), F.col(idc).alias("_r")
        ).unionByName(known.select(F.col(idc).alias("_n"), F.col("root").alias("_r")))
        edges = (
            pr.join(
                node_map.select(F.col("_n").alias("id_a"), F.col("_r").alias("_ra")),
                "id_a",
            )
            .join(
                node_map.select(F.col("_n").alias("id_b"), F.col("_r").alias("_rb")),
                "id_b",
            )
            .select(F.col("_ra").alias("id_a"), F.col("_rb").alias("id_b"))
        )
        edge_bound = (
            pairs_rows * 4
            if pairs_rows is not None
            and pairs_rows * 4 <= self.driver_threshold
            else None
        )
        comp = connected_components(
            edges, driver_threshold=self.driver_threshold,
            edge_count=edge_bound,
        ).localCheckpoint(eager=False)

        def final_root(df: DataFrame) -> DataFrame:
            return (
                df.join(comp.withColumnRenamed("id", "root"), "root", "left")
                .select(
                    *[c for c in df.columns if c != "root"],
                    F.coalesce("cluster_id", "root").alias("root"),
                )
            )

        # --- rows to persist
        new_assign = final_root(ids.select(idc, F.col(idc).alias("root")))
        first_seen = final_root(missing)
        cassign_rows = new_assign.unionByName(first_seen)
        # a retired root: an EXISTING root whose component gained a
        # smaller member this batch. first_seen roots need no alias (their
        # only reference is the cassign row written above, already final).
        old_roots = state_assign.select(F.col("root").alias("old_root")).distinct()
        calias_rows = (
            old_roots.join(comp.withColumnRenamed("id", "old_root"), "old_root", "left")
            .select(
                "old_root", F.coalesce("cluster_id", "old_root").alias("new_root")
            )
            .filter(F.col("old_root") != F.col("new_root"))
        )

        def write_state(df: DataFrame, path: str, kb_col: str) -> None:
            (
                df.withColumn("_kb", self._kb_expr(kb_col))
                .repartition(min(16, self.n_state_buckets), F.col("_kb"))
                .write.mode("overwrite")
                .partitionBy("_kb")
                .parquet(_join_path(path, f"_batch_id={batch_id}"))
            )

        _run_parallel([
            lambda: write_state(cassign_rows, self.cassign_path, idc),
            lambda: write_state(calias_rows, self.calias_path, "old_root"),
        ])

    # -- reads --------------------------------------------------------------

    def resolve(
        self, spark: SparkSession, ids: DataFrame, *, before: int | None = None
    ) -> DataFrame:
        """(id, cluster_id) for the given ids — pruned point lookup (only
        the ids' bucket dirs and the alias chains they touch are read).
        Ids with no assignment row resolve to themselves (never-seen ids
        are their own singleton cluster by definition)."""
        idc = self.id_col
        want = ids.select(F.col(idc).cast("string").alias(idc)).dropDuplicates([idc])
        self._open(spark, write=False)
        assign = self._history(
            spark, self.cassign_path, before, self._bucket_ids(want, idc)
        )
        if assign is None:
            return want.select(idc, F.col(idc).alias("cluster_id"))
        found = self._dedupe_earliest(
            assign.join(F.broadcast(want), idc, "leftsemi"), idc
        ).select(idc, "root")
        resolved = self._resolve_aliases(spark, found, before)
        return (
            want.join(resolved, idc, "left")
            .select(idc, F.coalesce("root", F.col(idc)).alias("cluster_id"))
        )

    def current(
        self, spark: SparkSession, *, before: int | None = None
    ) -> DataFrame:
        """Fully-resolved (id, cluster_id) over every id in state. This is
        the corpus-wide read (reporting/compaction); per-batch paths use
        the pruned ``resolve``/``update`` instead."""
        idc = self.id_col
        self._open(spark, write=False)
        assign = self._history(spark, self.cassign_path, before, None)
        if assign is None:
            return spark.createDataFrame([], _assign_t(idc)).withColumnRenamed(
                "root", "cluster_id"
            )
        assign = self._dedupe_earliest(assign, idc).select(idc, "root")
        resolved = self._resolve_aliases(spark, assign, before, pruned=False)
        # explicit projection: the alias join (when it ran) moved the
        # join key to the front — column ORDER must not depend on state
        return resolved.select(idc, F.col("root").alias("cluster_id"))


def compact_clusters_state(
    spark: SparkSession,
    state_path: str,
    *,
    upto_batch: int,
    id_col: str = "clip_id",
    n_state_buckets: int = 64,
) -> bool:
    """Collapse the assignment log below ``upto_batch``, in place: every
    alias chain is applied, ``cassign`` is rewritten as ONE partition
    (rebadged to ``upto_batch - 1``, keeping the ``_kb`` layout so pruned
    lookups still prune) and the compacted ``calias`` becomes empty.
    Partitions >= ``upto_batch`` (possibly replayable) pass through
    verbatim. Published like the LSH state (``maybe_compact_state``):
    the next version is written out of place, ``CURRENT`` flips to it,
    the old tree is deleted. Returns False for a root with no state."""
    ic = IncrementalClusters(
        state_path, id_col=id_col, n_state_buckets=n_state_buckets
    )

    def write(live: str, out_path: str) -> bool:
        ic._bind(live)
        ic._check_meta(spark)
        meta = read_committed(spark, _join_path(live, "meta", "meta.json"))
        commit_small_text(spark, _join_path(out_path, "meta", "meta.json"), meta)
        # CURRENT still names ``live`` until publish_next flips it
        resolved = ic.current(spark, before=upto_batch).withColumnRenamed(
            "cluster_id", "root"
        )
        kb = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_state_buckets)).cast("int")
        (
            resolved.withColumn("_kb", kb)
            .repartition(min(16, n_state_buckets), F.col("_kb"))
            .write.mode("overwrite")
            .partitionBy("_kb")
            .parquet(_join_path(out_path, "cassign", f"_batch_id={upto_batch - 1}"))
        )
        # all chains were applied above -> the compacted alias log is
        # empty. Write the 0-row frame STRAIGHT INTO an explicit hive dir
        # (an empty partitionBy write emits no files at all, and readers
        # of the base path would then find no schema-bearing file
        # instead of "no aliases")
        calias_dir = _join_path(out_path, "calias", f"_batch_id={upto_batch - 1}")
        (
            spark.createDataFrame([], _ALIAS_T)
            .write.mode("overwrite")
            .parquet(_join_path(calias_dir, "_kb=0"))
        )
        # that nested write leaves its _SUCCESS one level too deep for the
        # fold cursor's batch-level commit check (_fully_folded) — without
        # a marker at _batch_id=<upto-1>/ the compacted batch would read
        # as unfolded and a re-fold's overwrite would replace the corpus-
        # wide compacted cassign partition with one batch's ids
        hfs.write_small_text(spark, _join_path(calias_dir, "_SUCCESS"), "")
        for sub in ("cassign", "calias"):
            df = _read_optional(spark, _join_path(live, sub))
            if df is None:
                continue
            newer = df.filter(F.col("_batch_id") >= upto_batch)
            # copy per batch DIR (not per row-derived id — a committed
            # batch can hold zero alias rows) into explicit _batch_id=
            # dirs so each keeps a BATCH-LEVEL _SUCCESS (a single
            # partitionBy append would put the marker only at the table
            # root, demoting every passed-through batch to "unfolded");
            # the replayable tail is a handful of batches, so the loop
            # stays cheap
            for b in _batch_dirs(spark, _join_path(live, sub)):
                if b < upto_batch:
                    continue
                dst = _join_path(out_path, sub, f"_batch_id={b}")
                (
                    newer.filter(F.col("_batch_id") == b)
                    .drop("_batch_id")
                    .write.mode("overwrite")
                    .partitionBy("_kb")
                    .parquet(dst)
                )
                # carry the source batch's commit marker over VERBATIM:
                # the copy job's own commit protocol always drops a
                # _SUCCESS, but a torn source batch (no marker — crashed
                # mid-fold) must stay torn so the fold cursor's
                # idempotent re-fold can repair it
                src_fs, src_marker = _hadoop_fs(
                    spark, _join_path(live, sub, f"_batch_id={b}", "_SUCCESS")
                )
                if not src_fs.exists(src_marker):
                    hfs.fs_delete(spark, _join_path(dst, "_SUCCESS"), False)
        return True

    return publish_next(spark, state_path, write)


def _parquet_footer_rows(path: str) -> int | None:
    """Row count of a LOCAL parquet dir from footers only (no Spark job)
    — the sizing hint ``fold_new_batches`` feeds ``update``. Best-effort:
    scheme URIs (s3a/hdfs) return None and the fold falls back to the
    sizing count it always ran."""
    if "://" in str(path):
        return None
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(path)
    # the files Spark's reader would read: a crash-left _temporary/ dir
    # and hidden or underscore-prefixed names are skipped, partition
    # dirs (_batch_id=N) are not
    files = [p] if not p.is_dir() else [
        f for f in sorted(p.rglob("*.parquet"))
        if not any(
            n.startswith(".") or (n.startswith("_") and "=" not in n)
            for n in f.relative_to(p).parts
        )
    ]
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        # any unreadable footer (pyarrow raises ArrowInvalid on a
        # truncated file, OSError on a vanished one) only loses the hint
        return None


def _batch_dirs(spark: SparkSession, path: str) -> list[int]:
    """Batch ids of the ``_batch_id=`` hive partitions under ``path`` —
    a pure FS-metadata probe (scheme-safe), [] if the dir is absent."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith("_batch_id=")
    )


def _fold_cursor(spark: SparkSession, ic: "IncrementalClusters") -> tuple[int, bool]:
    """(high-water cassign batch id, is it committed). Folds run in
    ascending batch order, so every batch id STRICTLY BELOW the newest
    cassign partition has fully committed before the newer fold started —
    those are folded by id comparison alone, no per-batch dirs needed
    (compaction legitimately removes them: its rebadged corpus-wide
    partition must never be re-folded and clobbered with one batch's
    ids). Only the high-water batch is marker-checked on BOTH state
    tables: ``update`` writes cassign and calias concurrently, and a
    crash mid-fold can leave the newest cassign partition without its
    calias sibling (or a partial one) — counting it as folded would skip
    the idempotent re-fold that repairs it, permanently losing its
    aliases. (Caveat: out-of-order MANUAL ``update`` calls void the
    below-the-high-water-mark guarantee; ``fold_new_batches`` never
    folds out of order.)
    """
    batches = _batch_dirs(spark, ic.cassign_path)
    if not batches:
        return -1, False
    hwm = batches[-1]
    for tab in (ic.cassign_path, ic.calias_path):
        fs, p = _hadoop_fs(spark, _join_path(tab, f"_batch_id={hwm}", "_SUCCESS"))
        if not fs.exists(p):
            return hwm, False
    return hwm, True


def fold_new_batches(
    spark: SparkSession,
    output_path: str,
    state_path: str,
    *,
    id_col: str = "clip_id",
    n_state_buckets: int = 64,
    driver_threshold: int = 2_000_000,
) -> list[int]:
    """Fold every near-dup handler output batch not yet in cluster state.

    The handler (``incremental_neardup.py``) writes its outputs hive-
    partitioned by ``_batch_id``: ``<output>/flags`` carries one row per
    ARRIVED id per batch (matched or not — exactly ``update``'s
    ``batch_ids`` contract) and ``<output>/pairs`` the verified match
    edges. This maintenance pass lists both, selects batch ids beyond
    the newest ``cassign`` partition, and calls ``update`` per batch in
    ascending order — the deployment-surface glue that keeps cluster
    assignments current after each stream drain (CLI:
    ``python -m cc_net_spark neardup ... --clusters-state DIR``).

    "Already folded" means at-or-below the newest committed cassign
    partition: batches strictly below the high-water mark are folded by
    the ascending fold order (this keeps compaction's corpus-wide
    rebadged partition from ever being re-folded and clobbered); the
    high-water batch itself must carry ``_SUCCESS`` on BOTH state tables
    (see ``_fold_cursor`` — a crash mid-fold leaves a partial newest
    batch, which is re-folded; re-folds are byte-idempotent because
    ``update`` reads only ``< batch_id`` state and overwrites only its
    own partition dirs). Per-batch cost is bounded by the batch's pair
    volume — nothing here scans state or outputs proportional to the
    corpus.

    Returns the folded batch ids (empty when already current).
    """
    ic = IncrementalClusters(
        state_path,
        id_col=id_col,
        n_state_buckets=n_state_buckets,
        driver_threshold=driver_threshold,
    )
    flags_base = _join_path(output_path, "flags")
    pairs_base = _join_path(output_path, "pairs")
    ic._open(spark, write=False)
    hwm, hwm_committed = _fold_cursor(spark, ic)
    todo = [
        b
        for b in _batch_dirs(spark, flags_base)
        if b > hwm or (b == hwm and not hwm_committed)
    ]
    for b in todo:
        flags_dir = _join_path(flags_base, f"_batch_id={b}")
        ids = spark.read.parquet(flags_dir).select(id_col)
        pairs_dir = _join_path(pairs_base, f"_batch_id={b}")
        pairs = _read_optional(spark, pairs_dir)
        if pairs is None:
            # a flags partition always has a pairs sibling (the handler
            # writes both per batch) — tolerate its absence as "no edges"
            pairs = spark.createDataFrame([], "id_a string, id_b string")
            rows = 0
        else:
            rows = _parquet_footer_rows(pairs_dir)
        ic.update(
            ids, pairs, b,
            pairs_rows=rows,
            # footer row bound for the arrival side: sizes the fold's
            # small-batch planner (see IncrementalClusters.update)
            ids_rows=_parquet_footer_rows(flags_dir),
        )
    return todo

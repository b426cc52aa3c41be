"""Incremental NEAR-duplicate detection over arriving shards.

The batch pipeline (``plans/pipeline.py``) re-derives all pairs from the
whole corpus; at 10^12 clips an arriving shard cannot afford that. This
module keeps the MinHash/LSH state — signatures and band keys — in
append-only ``_batch_id``-partitioned tables (the same replay-idempotent
layout as ``streaming/incremental.py``) and, per micro-batch:

1. ONE narrow mapInPandas computes the batch's fused signatures —
   MinHash sig, SimHash, exact full-text key from one normalization
   pass (``keep_shingles=False`` — the extreme-scale mode: history text
   is NEVER re-read; MinHash verification uses signature-estimated
   Jaccard, SimHash verification is JVM bit_count Hamming, the exact
   family needs no verification),
2. within-batch candidates via the skew-capped bucket self-join,
3. history candidates via an asymmetric probe: the batch's band keys
   (hot buckets > bucket_cap excluded — the same boilerplate discipline
   as the self-join; small — broadcast) select matching history band
   rows, a per-bucket row_number cap bounds the history side too (a hot
   key fans out at most cap x cap, never |batch| x cap), then the
   matched history rows join back to the batch side — history is
   touched ONLY on matching keys, never self-joined; every drop is
   persisted in a per-batch metrics partition (no silent truncation),

   and the history IO itself PRUNES: every state table is written
   hive-partitioned by ``_batch_id`` AND a key-hash bucket ``_kb``
   (bands/simbands by (band, key), exactkeys by tkey, audiowords by
   word, sigs/audiosigs by id), and every history read filters on the
   batch's collected bucket set — partition pruning skips all
   non-matching bucket directories, so per-batch state IO is bounded
   by the batch's key spread, never the corpus (at 10^12-row state a
   full scan per arriving shard would dwarf the capped compute),
4. both candidate sets verify on estimated Jaccard (agreeing-minhash
   fraction) — batch sigs are in memory, history sigs join on the
   (few) matched ids,
5. outputs (verified pairs + per-clip dup flags) and state appends are
   written with dynamic partition overwrite keyed by ``_batch_id`` —
   at-least-once foreachBatch replay rewrites only its own partitions,
   and the history probe's ``_batch_id < current`` filter keeps a
   half-written attempt invisible.

Keep-first semantics match the exact incremental path: a clip is a
near-dup iff it matches an EARLIER batch (including a re-delivery of an
id already ingested), or a smaller id within its own batch. Reference anchor: cc_net's hash-table merge across shards
(``cc_net/dedup.py:92-124``) generalized from exact SHA1 paragraphs to
MinHash near-duplicates. With an Iceberg catalog the state appends
become snapshot commits (see ``sources/snapshots.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cc_net_spark.operators.minhash import lsh_bands
from cc_net_spark.operators.pairs import candidate_pairs
from cc_net_spark.operators.signatures import fused_signatures
from cc_net_spark.sources.hadoop_fs import (
    hadoop_fs as _hadoop_fs,
    read_small_text,
    write_small_text,
)

FAMILIES = ("minhash", "simhash", "exact", "audio", "embedding")

# On-disk state format version, pinned in meta/meta.json. Bump whenever a
# persisted encoding changes incompatibly. History:
#   1 — original layout; minhash sig slots stored as array<long> (full
#       64-bit minima).
#   2 — minhash sig slots stored as array<int> (top 32 bits; see
#       operators/minhash.py::minhash_signatures_df). Band keys hash the
#       slots, so formats 1 and 2 never collide on band key — probing
#       across formats would silently lose every cross-batch match.
STATE_FORMAT = 2

# Planner overrides for ``small_batch_mode`` (see IncrementalNearDup):
# the probe batch's latency is almost entirely serial driver barriers —
# AQE materializes every shuffle as its own query-stage JOB (measured on a
# 1k-row single-family probe: 38 jobs -> 17 with these two overrides,
# identical output, ~2x wall), and the bucketed state tree's leaf-dir
# count (n_state_buckets=64 per batch level) immediately crosses Spark's
# parallel-partition-discovery threshold (32), turning every state-table
# LISTING into a distributed job too. Skew safety does not regress: the
# probe path's joins are explicitly capped on both sides and
# broadcast-hinted (pairs.candidate_pairs / _family_candidates), so AQE's
# skew-join splitting is a second line of defense that costs more jobs
# than it buys on micro-batches. Large or untrusted batches should keep
# the session defaults (AQE on). With AQE off, every shuffle in the probe
# would otherwise run the SESSION's partition count — sized for corpus
# jobs, not for a micro-batch whose shuffles carry KBs by this mode's own
# contract. 8 caps useful parallelism per exchange at any cluster size
# (the serial job barriers, not task slots, bound probe latency; measured
# alternating same-session A/B at 32 cores: minhash probe 7.7 -> 4.8 s,
# embedding probe 7.0 -> 4.2 s best-of).
SMALL_BATCH_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "256",
    "spark.sql.shuffle.partitions": "8",
}


def _conf_overrides(spark: SparkSession, overrides: dict):
    """Context manager: set session confs for the duration of a batch and
    restore the previous values (or unset) afterwards — exception-safe.
    NOTE confs are session-global while held; the intended scope is a
    serial foreachBatch handler, where nothing else shares the session
    mid-batch (the handler's own family threads SHOULD see them)."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        saved: dict = {}
        for k, v in overrides.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, old in saved.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    return _cm()


def _join_path(base: str, *parts: str) -> str:
    """URI-safe path join: pathlib mangles scheme URIs ('s3a://b' ->
    's3a:/b'), and this state lives on whatever filesystem the cluster
    uses (s3a/hdfs/abfs), not necessarily a POSIX mount."""
    return "/".join([base.rstrip("/"), *parts])


def _run_parallel(thunks) -> list:
    """Run independent Spark jobs concurrently from driver threads.
    Spark's scheduler interleaves them across the executor slots; a
    failure in any job propagates (results are re-raised in order)."""
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]


def _read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet dir that may not exist yet. Works on any Hadoop
    filesystem (a local Path.exists() check would silently misreport on
    s3a/hdfs); an absent or empty dir reads as None instead of a
    schema-inference crash. The FS existence precheck skips the
    expensive first-AnalysisException path for missing tables."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # AnalysisException; message-gated
        msg = str(exc)
        if "UNABLE_TO_INFER_SCHEMA" in msg or "PATH_NOT_FOUND" in msg:
            return None
        raise


class IncrementalNearDup:
    """foreachBatch handler holding the persistent LSH-state locations.

    ``families`` selects the pair families (mirroring the flagship batch
    pipeline): ``minhash`` (LSH bands -> estimated-Jaccard verify),
    ``simhash`` (pigeonhole bands -> Hamming verify), ``exact``
    (full-transcript sha1-u64 key equality), and ``audio`` — the PAYLOAD
    family: time-paired occupancy fingerprint words over the decoded PCM
    (``multimodal/audio.py``; requires ``codec``/``bytes`` columns).
    Audio verification runs entirely against PERSISTED state — word-set
    Jaccard for recall plus a waveform sign-sketch Hamming bound that
    discriminates fingerprint collisions (distinct stationary signals
    can share every coarse occupancy word). Like ``keep_shingles=False``
    for text, history audio bytes are never re-decoded (the batch pays
    one decode pass; an exact PCM-SNR verdict, when needed, is a bounded
    follow-up read of just the matched clips). ``embedding`` covers the
    vector modality: hyperplane-LSH band keys over an ``array<float>``
    column (``emb_dim`` required — the seeded hyperplane set is baked
    into persisted signatures), EXACT-cosine verify >= ``emb_threshold``
    against vectors persisted in state (one Arrow pass computes
    signature + float64 vector; history embeddings are never re-read
    from the corpus; the cosine rides the ``jaccard_est`` verdict-score
    column). Text families share ONE fused
    signature scan per batch and the same capped within/history probe
    machinery; the substring family is deliberately absent — its gram
    state is ~len(text)/10 rows per doc, which at 10^12 docs is a
    corpus-scale table of its own (run the batch substring pass over
    compacted corpus snapshots instead).

    All three signature artifacts (MinHash sig, SimHash, exact key) are
    computed and persisted regardless of the enabled family set — a
    deliberate trade: the marginal compute rides the one fused scan, and
    it means a family enabled LATER probes existing state without ever
    re-reading history text. State/metrics schemas are v1, finalized
    with the multi-family change; altering them later requires
    rewriting old partitions (or mergeSchema-aware readers) first."""

    def __init__(
        self,
        state_path: str,
        output_path: str,
        *,
        text_col: str = "transcript",
        id_col: str = "clip_id",
        shingle_size: int = 5,
        num_perm: int = 128,
        bands: int = 32,
        rows_per_band: int = 4,
        threshold: float = 0.5,
        max_hamming: int = 4,
        bucket_cap: int = 200,
        families: tuple[str, ...] = ("minhash",),
        audio_threshold: float = 0.5,
        audio_max_hamming: int = 8,
        n_state_buckets: int = 64,
        audio_exact_verify: bool = False,
        audio_min_snr_db: float = 30.0,
        clips_source: str | None = None,
        emb_col: str = "embedding",
        emb_dim: int | None = None,
        emb_threshold: float = 0.95,
        emb_n_bits: int = 32,
        emb_bands: int = 4,
        emb_seed: int = 7,
        small_batch_mode: bool = False,
        state_filter_keys: int = 512,
    ):
        unknown = set(families) - set(FAMILIES)
        if unknown or not families:
            raise ValueError(f"families must be a non-empty subset of {FAMILIES}")
        if audio_exact_verify and clips_source is None:
            raise ValueError(
                "audio_exact_verify needs clips_source (the corpus table "
                "holding history clip bytes) — history audio is never "
                "persisted in state"
            )
        if "embedding" in families and emb_dim is None:
            raise ValueError(
                "the embedding family needs emb_dim (the hyperplane set is "
                "baked into persisted signatures — it cannot be inferred "
                "per batch without a driver action)"
            )
        self.state_path = state_path
        self.sigs_path = _join_path(state_path, "sigs")
        self.bands_path = _join_path(state_path, "bands")
        self.simbands_path = _join_path(state_path, "simbands")
        self.exactkeys_path = _join_path(state_path, "exactkeys")
        self.audiosigs_path = _join_path(state_path, "audiosigs")
        self.audiowords_path = _join_path(state_path, "audiowords")
        self.embsigs_path = _join_path(state_path, "embsigs")
        self.embbands_path = _join_path(state_path, "embbands")
        self.meta_path = _join_path(state_path, "meta")
        self.output_path = output_path
        self.text_col = text_col
        self.id_col = id_col
        self.shingle_size = shingle_size
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.threshold = threshold
        self.max_hamming = max_hamming
        self.bucket_cap = bucket_cap
        self.families = tuple(families)
        self.audio_threshold = audio_threshold
        self.audio_max_hamming = audio_max_hamming
        self.n_state_buckets = n_state_buckets
        self.audio_exact_verify = audio_exact_verify
        self.audio_min_snr_db = audio_min_snr_db
        self.clips_source = clips_source
        self.emb_col = emb_col
        self.emb_dim = emb_dim
        self.emb_threshold = emb_threshold
        self.emb_n_bits = emb_n_bits
        self.emb_bands = emb_bands
        self.emb_seed = emb_seed
        # state_filter_keys: when a probe's key set is at most this many
        # DISTINCT values, the history read also pushes the literal key
        # set to the Parquet scan (on top of the _kb directory pruning).
        # This is the WIDE-BATCH lever: a batch whose keys span every
        # _kb bucket (directory pruning degenerates to a full scan) but
        # carries few distinct keys still skips row groups, because
        # compact_state sorts each bucket by key (tight row-group
        # min/max stats). 0 disables.
        self.state_filter_keys = state_filter_keys
        # small_batch_mode: low-latency planning for MICRO-batches —
        # process_batch runs under SMALL_BATCH_CONFS (AQE off + driver-
        # side state listings), halving the per-batch job count. Output
        # is plan-independent (tested); choose it when batches are small
        # relative to state and skew is already bounded by the caps.
        self.small_batch_mode = small_batch_mode
        self._meta_checked = False
        # one file-listing/schema-inference per state table per batch;
        # cleared at the top of process_batch so a batch never sees its
        # own appends (or a stale "absent" from before they existed).
        # Locked: family sections probe state from concurrent driver
        # threads (two sections share e.g. the sigs table)
        self._read_cache: dict[str, DataFrame | None] = {}
        import threading

        self._read_lock = threading.Lock()

    def _kb_expr(self, cols: list[str]):
        """The state-bucket of a key: stable hash of the key columns mod
        ``n_state_buckets``. Written as a hive partition column ``_kb``
        at state-append time and recomputed on the batch side at probe
        time, so a history read can partition-prune to only the bucket
        directories the batch can possibly match."""
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in cols]), F.lit(self.n_state_buckets)
        ).cast("int")

    def _bucket_ids(self, df: DataFrame, cols: list[str]) -> list[int]:
        """Distinct state buckets of ``df``'s key columns — at most
        ``n_state_buckets`` ints, a tiny driver collect that turns the
        history read into a partition-pruned scan."""
        rows = df.select(self._kb_expr(cols).alias("_kb")).distinct().collect()
        return sorted(r["_kb"] for r in rows)

    def _collect_key_values(self, df: DataFrame, col: str) -> list | None:
        """Distinct values of ``col`` if there are at most
        ``state_filter_keys`` of them, else None — the driver-side key
        set behind the pushed row-group filter on history reads (see
        the constructor note). One bounded limit+collect; the input is
        batch-derived and usually already checkpointed."""
        cap = self.state_filter_keys
        if cap <= 0:
            return None
        rows = df.select(col).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return [r[0] for r in rows if r[0] is not None]

    def _history(
        self,
        spark: SparkSession,
        path: str,
        before: int,
        kbs: list[int],
        key_in: tuple[str, list | None] | None = None,
    ) -> DataFrame | None:
        """Pruned history read: only partitions with ``_batch_id < before``
        AND ``_kb`` in the batch's bucket set are touched (both are hive
        partition columns — the filter prunes directories, not rows).
        ``key_in=(col, values)`` additionally pushes the batch's literal
        key set into the Parquet scan — row-group skipping inside the
        directories the hive filters can't exclude (wide batches); a
        None values list (key set over the cap) skips the filter."""
        if not kbs:
            return None
        # lock guards only the dict — the listing/schema-inference runs
        # outside it, so concurrent family sections opening DIFFERENT
        # state tables don't serialize (two threads racing the SAME
        # uncached path at worst duplicate one cheap listing; first
        # write wins via setdefault)
        with self._read_lock:
            hit = path in self._read_cache
        if not hit:
            val = _read_optional(spark, path)
            with self._read_lock:
                self._read_cache.setdefault(path, val)
        with self._read_lock:
            hist = self._read_cache[path]
        if hist is None:
            return None
        out = hist.filter(
            (F.col("_batch_id") < before) & F.col("_kb").isin(kbs)
        )
        if key_in is not None and key_in[1] is not None:
            out = out.filter(F.col(key_in[0]).isin(key_in[1]))
        return out

    def _hist_by_id(
        self, spark: SparkSession, path: str, before: int, ids: DataFrame, idc: str
    ) -> DataFrame | None:
        """Pruned read of an id-bucketed state table (sigs/audiosigs)
        restricted to the buckets containing ``ids`` — and, when the
        bucket set has degenerated to (nearly) the whole directory tree,
        to the literal ids via the pushed row-group filter. The key
        collect is paid ONLY in that wide case: a narrow shard is
        already served by directory pruning, and the common small-batch
        path stays at its old job count."""
        kbs = self._bucket_ids(ids, [idc])
        key_vals = (
            self._collect_key_values(ids, idc)
            if len(kbs) * 2 >= self.n_state_buckets
            else None
        )
        return self._history(spark, path, before, kbs, key_in=(idc, key_vals))

    def _check_meta(self, spark: SparkSession) -> None:
        """``n_state_buckets`` is baked into the on-disk layout; probing
        with a different value would silently miss matches. A tiny JSON
        marker records it — written/read through the Hadoop FS API
        directly (a 1-row Spark write costs a whole job; this is a
        metadata op). Checked once per handler lifetime."""
        if self._meta_checked:
            return
        import json as _json

        # SESSION-SCOPED, set once up front (not lazily inside a read
        # helper): parquet pushes an In-filter literally only up to this
        # threshold — beyond it only the min/max range goes down, useless
        # for hash-spread keys — so the wide-batch row-group skip
        # (state_filter_keys) needs it raised. It applies to every query
        # in the session; raising it is benign for unrelated scans (the
        # planner still only pushes filters queries actually have), and
        # doing it here makes the mutation visible at handler setup
        # rather than a surprise inside the first probe's plan.
        if self.state_filter_keys > 0:
            cur = int(
                spark.conf.get(
                    "spark.sql.parquet.pushdown.inFilterThreshold", "10"
                )
            )
            want = max(10, self.state_filter_keys)
            if cur < want:
                spark.conf.set(
                    "spark.sql.parquet.pushdown.inFilterThreshold", str(want)
                )

        # a POINTER root passed as a plain state path would silently
        # write sigs/ beside v0/ and ignore all pointer-resolved history
        # — the same loud-mismatch convention as the bucket-count check
        _ptr_fs, _ptr = _hadoop_fs(spark, _join_path(self.state_path, "CURRENT"))
        if _ptr_fs.exists(_ptr):
            raise ValueError(
                f"{self.state_path} is a pointer-managed root (CURRENT "
                f"present) — resolve it with init_state_pointer() / "
                f"pointer_state=True instead of using it as a state tree"
            )
        # a compaction swap that crashed mid-window leaves the live state
        # tree missing with the original parked at _precompact — heal it
        # BEFORE the meta probe (which would otherwise see "fresh state"
        # and silently restart dedup history from empty)
        recover_state_swap(spark, self.state_path)
        marker = _join_path(self.meta_path, "meta.json")
        raw = read_small_text(spark, marker)
        if raw is not None:
            meta = _json.loads(raw)
            stored = meta["n_state_buckets"]
            if stored != self.n_state_buckets:
                raise ValueError(
                    f"state at {self.meta_path} was written with "
                    f"n_state_buckets={stored}, handler configured with "
                    f"{self.n_state_buckets} — probes would miss buckets"
                )
            # sig encoding is baked into persisted sigs AND band keys
            # (band key = xxhash64 over signature slots): probing
            # format-1 state (64-bit slots) with format-2 signatures
            # (top-32-bit slots) would hash to different band keys and
            # silently drop every history match, and appending the new
            # slot type into the old files breaks the parquet schema.
            stored_fmt = meta.get("state_format", 1)
            if stored_fmt != STATE_FORMAT:
                raise ValueError(
                    f"state at {self.meta_path} has state_format="
                    f"{stored_fmt}, this engine writes {STATE_FORMAT} — "
                    f"rebuild the state (or keep the matching engine "
                    f"version); mixing formats silently loses recall"
                )
        else:
            write_small_text(
                spark, marker,
                _json.dumps({
                    "n_state_buckets": self.n_state_buckets,
                    "state_format": STATE_FORMAT,
                }),
            )
        self._meta_checked = True

    def _estimated(self, joined: DataFrame) -> DataFrame:
        agree = F.size(
            F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v)
        )
        est = agree.cast("double") / F.size("_sa").cast("double")
        return (
            joined.withColumn("jaccard_est", F.round(est, 6))
            .filter(F.col("jaccard_est") >= self.threshold)
        )

    def _family_candidates(
        self,
        spark: SparkSession,
        new_rows: DataFrame,
        keys: list[str],
        hist_path: str,
        batch_id: int,
    ):
        """Shared within/history candidate machinery for one keyed family.

        Within: the skew-capped bucket self-join (id_a < id_b canonical).
        History: asymmetric capped probe — batch-side hot buckets
        (> bucket_cap, the same boilerplate discipline as the self-join)
        are excluded up front, the history side is read partition-PRUNED
        to the batch's non-hot key buckets and then row_number-capped per
        bucket, so a hot key fans out at most cap x cap rows, never
        |batch| x cap, and the history SCAN is bounded by the batch's key
        spread, never the corpus. Sizes count DISTINCT (bucket, id) rows,
        matching candidate_pairs' own sizing. The bucket-id set rides the
        same single action as the drop metrics. Returns (within,
        cross|None, (n_buckets, n_hot, n_hot_rows)); ``cross`` carries a
        lazy checkpoint — the caller's first action (the bucket-id
        collect for the verification fetch) materializes it once and the
        pairs DAG reuses it instead of re-running the probe join."""
        idc = self.id_col
        # every family's key table is one row per (keys, id) by
        # construction (band tables, np.unique'd audio words, tkeys)
        within = candidate_pairs(
            new_rows, keys, idc, bucket_cap=self.bucket_cap, assume_unique=True
        )
        bsz = new_rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
        is_hot = F.col("_bsz") > self.bucket_cap
        n_buckets, n_hot, n_hot_rows, kb_set = bsz.agg(
            F.count(F.lit(1)),
            F.sum(is_hot.cast("long")),
            F.sum(F.when(is_hot, F.col("_bsz")).otherwise(0)),
            F.collect_set(F.when(~is_hot, self._kb_expr(keys))),
        ).first()
        # wide-batch row-group filter: when the batch's (non-hot) key set
        # is small, push the literal keys of the SELECTIVE column (the
        # last key col — 'key' for band tables, 'word' for audio) into
        # the history scan; cheap precheck on the already-counted bucket
        # number avoids the collect for genuinely wide key sets
        key_vals = None
        if 0 < int(n_buckets or 0) - int(n_hot or 0) <= self.state_filter_keys:
            key_vals = self._collect_key_values(bsz.filter(~is_hot), keys[-1])
        hist_rows = self._history(
            spark, hist_path, batch_id, sorted(kb_set or []),
            key_in=(keys[-1], key_vals),
        )
        cross = None
        if hist_rows is not None:
            new_keys = bsz.filter(~is_hot).select(*keys)
            matched = hist_rows.join(F.broadcast(new_keys), keys).select(
                *keys, F.col(idc).alias("id_old")
            )
            w = Window.partitionBy(*keys).orderBy("id_old")
            matched = (
                matched.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= self.bucket_cap)
                .drop("_rn")
            )
            cross = (
                new_rows.join(matched, keys)
                .select(F.col(idc).alias("id_a"), F.col("id_old").alias("id_b"))
                .filter(F.col("id_a") != F.col("id_b"))
                .distinct()
                # lazy: materialized by the caller's first action (the
                # bucket-id collect for the verification fetch), reused
                # by the pairs DAG — one probe-join execution either way
                .localCheckpoint(eager=False)
            )
        return within, cross, (int(n_buckets or 0), int(n_hot or 0), int(n_hot_rows or 0))

    @staticmethod
    def _first_matching(
        hist: DataFrame, ids: DataFrame, idc: str
    ) -> DataFrame:
        """Restrict a multi-partition history table to the given ids and
        keep ONE row per id — the EARLIEST batch (keep-first). A clip
        re-delivered across several earlier batches appears once per
        batch in state; without this, each candidate would fan out into
        duplicate pair rows. Bounded: the window runs only over the
        semi-joined matches, never the whole history."""
        matched = hist.join(ids, idc, "leftsemi")
        w = Window.partitionBy(idc).orderBy("_batch_id")
        return (
            matched.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _fetch(self, pairs: DataFrame, new_vals: DataFrame,
               hist_vals: DataFrame | None, cross: bool) -> DataFrame:
        """Join a candidate table to its verification values: id_a always
        from the batch; id_b from history (earliest row per id) for
        cross pairs. ``hist_vals`` must carry ``_batch_id``."""
        idc = new_vals.columns[0]
        a = new_vals.withColumnRenamed("_v", "_va").withColumnRenamed(idc, "id_a")
        if cross:
            ids = pairs.select(F.col("id_b").alias(idc)).distinct()
            b_src = self._first_matching(hist_vals, ids, idc).drop("_batch_id")
        else:
            b_src = new_vals
        b = b_src.withColumnRenamed("_v", "_vb").withColumnRenamed(idc, "id_b")
        return pairs.join(a, "id_a").join(b, "id_b")

    def _hist_vals(
        self, spark: SparkSession, cross: DataFrame | None, batch_id: int,
        col: str, path: str | None = None,
    ) -> DataFrame | None:
        """Verification values for a cross candidate set: the signature
        state read (``path``, default the fused text sigs) pruned to the
        buckets holding the matched history ids (the cross side is
        checkpointed and capped — the collect is tiny)."""
        if cross is None:
            return None
        idc = self.id_col
        ids = cross.select(F.col("id_b").alias(idc))
        hsig = self._hist_by_id(spark, path or self.sigs_path, batch_id, ids, idc)
        if hsig is None:
            return None
        return hsig.select(idc, F.col(col).alias("_v"), "_batch_id")

    def _audio_snr_stage(
        self,
        spark: SparkSession,
        audio_parts: list[DataFrame],
        batch: DataFrame,
        metric_rows: list[tuple],
    ) -> DataFrame:
        """The optional EXACT follow-up the class doc promises: a bounded
        re-read of just the matched clips' bytes for a PCM-SNR verdict.
        The state-only verdict (words-Jaccard + sketch-Hamming) stays the
        hot path; this stage decodes ONLY candidate ids — batch clips
        from the in-flight batch, history clips via an id-semijoin
        against ``clips_source`` (pushdown-pruned; |pairs| is capped, so
        the read is bounded regardless of corpus size). A planted sketch
        collision (e.g. a rescaled copy of a different take: identical
        occupancy words, identical signs, ~6 dB SNR) is rejected here;
        rejections are metered, never silent. A pair whose clip bytes
        are MISSING from ``clips_source`` (corpus lag, compaction) is
        UNVERIFIABLE, not rejected: the state verdict stands (fail
        open — this stage refines precision when bytes are available,
        it must not turn a stale corpus into silent recall loss) and
        the count lands in metrics as ``audio_snr_unverifiable``."""
        from cc_net_spark.multimodal.audio import pair_audio_invariants

        idc = self.id_col
        apairs = audio_parts[0]
        for part in audio_parts[1:]:
            apairs = apairs.unionByName(part)
        apairs = apairs.localCheckpoint()

        clip_cols = [F.col(idc).cast("string").alias(idc), "codec", "bytes"]
        src = batch.select(*clip_cols)
        hist_ids = apairs.filter(F.col("kind") == "audio_history").select(
            F.col("id_b").alias(idc)
        )
        hist_clips = (
            spark.read.parquet(self.clips_source)
            .select(*clip_cols)
            .join(hist_ids.distinct(), idc, "leftsemi")
        )
        src = src.unionByName(hist_clips).dropDuplicates([idc])
        verdict = pair_audio_invariants(
            apairs.select("id_a", "id_b"), src, idc,
            min_snr_db=self.audio_min_snr_db,
        ).localCheckpoint()
        n_rejected = verdict.filter(~F.col("pcm_ok")).count()
        if n_rejected:
            metric_rows.append(("audio_snr_rejected", n_rejected, 0, 0))
        # pair_audio_invariants inner-joins on both clip sides: a pair
        # with no verdict row had missing bytes — fail open + meter
        unverifiable = apairs.join(
            verdict.select("id_a", "id_b"), ["id_a", "id_b"], "leftanti"
        ).localCheckpoint()
        n_unver = unverifiable.count()
        if n_unver:
            metric_rows.append(("audio_snr_unverifiable", n_unver, 0, 0))
        passed = apairs.join(
            verdict.filter(F.col("pcm_ok")).select("id_a", "id_b"),
            ["id_a", "id_b"],
            "leftsemi",
        )
        return passed.unionByName(unverifiable)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if not self.small_batch_mode:
            return self._process_batch(batch, batch_id)
        with _conf_overrides(batch.sparkSession, SMALL_BATCH_CONFS):
            return self._process_batch(batch, batch_id)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        idc = self.id_col
        if batch.isEmpty():
            # writing a 0-row batch would create an empty state dir
            return
        self._check_meta(spark)
        self._read_cache.clear()
        # a malformed shard can repeat a clip_id within one batch; keep
        # one row per id so every downstream table (sigs state, flags,
        # rep-joined exact pairs) stays one-row-per-id
        batch = batch.dropDuplicates([idc])

        # ONE fused scan per batch: minhash sig + simhash + exact tkey
        # from one normalization pass (operators/signatures.py); grams
        # skipped — no substring family (see class doc). Skipped entirely
        # for a payload-only family set (an audio-only stream need not
        # carry a transcript column nor pay the text compute).
        need_text = bool({"minhash", "simhash", "exact"} & set(self.families))
        sig = None
        if need_text:
            # lazy: the first family action (the sizing/bucket-set agg)
            # materializes the checkpoint in the SAME job — one barrier
            # instead of two per derived table
            sig = fused_signatures(
                batch,
                self.text_col,
                idc,
                shingle_size=self.shingle_size,
                num_perm=self.num_perm,
                keep_shingles=False,
                with_grams=False,
            ).localCheckpoint(eager=False)

        null_jac = F.lit(None).cast("double").alias("jaccard_est")
        null_ham = F.lit(None).cast("int").alias("hamming")

        # the flags section needs the batch ids' state buckets (a tiny
        # distinct-collect over a checkpointed signature table); kick it
        # onto a driver thread as soon as the priority source (sig >
        # audio sigs > embedding sigs, mirroring the flags fallback
        # below) is materialized, so it overlaps the per-family
        # verification collects instead of serializing after them
        import threading
        from concurrent.futures import ThreadPoolExecutor

        # a plain daemon thread, not an executor: it dies on its own, so
        # an exception anywhere in the batch can't leak a worker thread
        kbs_result: dict = {}
        kbs_thread: threading.Thread | None = None
        kbs_lock = threading.Lock()

        def _kick_kbs(ids_df: DataFrame) -> None:
            nonlocal kbs_thread
            with kbs_lock:
                if kbs_thread is not None:
                    return

                def _run() -> None:
                    try:
                        kbs_result["kbs"] = self._bucket_ids(ids_df, [idc])
                    except BaseException as e:  # re-raised on join
                        kbs_result["err"] = e

                kbs_thread = threading.Thread(target=_run, daemon=True)
                kbs_thread.start()

        # each family section is an independent sub-DAG (2-3 driver
        # actions: sizing agg, verification-bucket collect, decode
        # counters) sharing only the materialized signature checkpoint;
        # sections run on driver threads when several families are
        # configured, so their actions interleave across the executor
        # slots instead of serializing. Each returns LOCAL
        # (pair_parts, metric_rows, state_writes) lists merged in
        # canonical family order to keep outputs deterministic.
        Section = tuple[list, list, list]

        def _sec_minhash() -> Section:
            parts: list[DataFrame] = []
            mrows: list[tuple] = []
            writes: list[tuple] = []
            new_bands = lsh_bands(
                sig, idc, bands=self.bands, rows_per_band=self.rows_per_band
            ).localCheckpoint(eager=False)
            within, cross, m = self._family_candidates(
                spark, new_bands, ["band", "key"], self.bands_path, batch_id
            )
            _kick_kbs(sig.select(idc))
            mrows.append(("minhash", *m))
            writes.append((new_bands, self.bands_path, ["band", "key"]))
            vals = sig.select(idc, F.col("sig").alias("_v"))
            hvals = self._hist_vals(spark, cross, batch_id, "sig")
            for cand, is_cross, kind in ((within, False, "within"),
                                         (cross, True, "history")):
                if cand is None or (is_cross and hvals is None):
                    continue
                ok = self._estimated(
                    self._fetch(cand, vals, hvals, is_cross)
                    .withColumnRenamed("_va", "_sa")
                    .withColumnRenamed("_vb", "_sb")
                )
                parts.append(
                    ok.select("id_a", "id_b", "jaccard_est", null_ham,
                              F.lit(kind).alias("kind"))
                )
            return parts, mrows, writes

        def _sec_simhash() -> Section:
            from cc_net_spark.operators.simhash import _band_exprs

            parts: list[DataFrame] = []
            mrows: list[tuple] = []
            writes: list[tuple] = []
            simbands = (
                sig.select(
                    idc, "simhash",
                    F.explode(F.array(*_band_exprs(self.max_hamming))).alias("_b"),
                )
                .select(idc, F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))
                .localCheckpoint(eager=False)
            )
            within, cross, m = self._family_candidates(
                spark, simbands, ["band", "key"], self.simbands_path, batch_id
            )
            _kick_kbs(sig.select(idc))
            mrows.append(("simhash", *m))
            writes.append((simbands, self.simbands_path, ["band", "key"]))
            vals = sig.select(idc, F.col("simhash").alias("_v"))
            hvals = self._hist_vals(spark, cross, batch_id, "simhash")
            ham = F.bit_count(F.col("_va").bitwiseXOR(F.col("_vb")))
            for cand, is_cross, kind in ((within, False, "simhash_within"),
                                         (cross, True, "simhash_history")):
                if cand is None or (is_cross and hvals is None):
                    continue
                ok = (
                    self._fetch(cand, vals, hvals, is_cross)
                    .withColumn("hamming", ham.cast("int"))
                    .filter(F.col("hamming") <= self.max_hamming)
                )
                parts.append(
                    ok.select("id_a", "id_b", null_jac, "hamming",
                              F.lit(kind).alias("kind"))
                )
            return parts, mrows, writes

        def _sec_exact() -> Section:
            # the exact family is CAP-FREE: key equality fully determines
            # the cluster, so no pairwise enumeration is needed — each
            # dup is paired with its KEEP-FIRST representative (min id in
            # the batch, or min matching history id). A flood of N
            # identical texts costs O(N), and — unlike an LSH family —
            # every copy is flagged (the cap rationale "boilerplate that
            # exact dedup handles" must not apply to exact dedup itself).
            parts: list[DataFrame] = []
            mrows: list[tuple] = []
            writes: list[tuple] = []
            tkeys = sig.select(idc, "tkey")
            within_rep = tkeys.groupBy("tkey").agg(F.min(idc).alias("_rep"))
            within = (
                tkeys.join(within_rep, "tkey")
                .filter(F.col(idc) != F.col("_rep"))
                .select(F.col("_rep").alias("id_a"), F.col(idc).alias("id_b"))
            )
            parts.append(
                within.select(
                    "id_a", "id_b",
                    F.lit(1.0).alias("jaccard_est"),
                    F.lit(0).cast("int").alias("hamming"),
                    F.lit("exact_within").alias("kind"),
                )
            )
            n_keys_row = within_rep.agg(F.count(F.lit(1))).first()
            _kick_kbs(sig.select(idc))
            mrows.append(("exact", int(n_keys_row[0] or 0), 0, 0))
            writes.append((tkeys, self.exactkeys_path, ["tkey"]))
            # history probe over the tkey-bucketed exactkeys state: the
            # read prunes to the batch's tkey buckets, the broadcast
            # semijoin then narrows to exactly the batch's keys — the
            # min-id representative is computed over matching keys only,
            # never a corpus-wide groupBy
            ek_kbs = self._bucket_ids(tkeys, ["tkey"])
            hist_ek = self._history(
                spark, self.exactkeys_path, batch_id, ek_kbs,
                # key filter only when directory pruning degenerated
                # (see _hist_by_id) — narrow shards stay at the old
                # job count
                key_in=(
                    "tkey",
                    self._collect_key_values(tkeys, "tkey")
                    if len(ek_kbs) * 2 >= self.n_state_buckets
                    else None,
                ),
            )
            if hist_ek is not None:
                batch_tkeys = tkeys.select("tkey").distinct()
                hist_rep = (
                    hist_ek.join(F.broadcast(batch_tkeys), "tkey")
                    .groupBy("tkey")
                    .agg(F.min(idc).alias("_hrep"))
                )
                cross = (
                    tkeys.join(hist_rep, "tkey")
                    .filter(F.col(idc) != F.col("_hrep"))
                    .select(F.col(idc).alias("id_a"), F.col("_hrep").alias("id_b"))
                )
                parts.append(
                    cross.select(
                        "id_a", "id_b",
                        F.lit(1.0).alias("jaccard_est"),
                        F.lit(0).cast("int").alias("hamming"),
                        F.lit("exact_history").alias("kind"),
                    )
                )
            return parts, mrows, writes

        def _sec_audio() -> Section:
            from cc_net_spark.multimodal.audio import audio_signatures

            parts: list[DataFrame] = []
            mrows: list[tuple] = []
            writes: list[tuple] = []
            # one decode pass -> per-clip (decode_ok, words, sketch);
            # the compact one-row-per-clip table IS the persisted state.
            # Undecodable clips (poison records) are counted, not raised
            # — a foreachBatch crash would replay into itself forever.
            asig_all = audio_signatures(batch, idc).localCheckpoint(eager=False)
            n_bad = asig_all.filter(~F.col("decode_ok")).count()
            if not need_text:
                _kick_kbs(asig_all.select(idc))
            if n_bad:
                mrows.append(("audio_decode_failures", n_bad, 0, 0))
            asig = asig_all.filter(F.col("decode_ok"))
            # the exploded (id, word) rows are their own word-bucketed
            # state table — the probe prunes on word buckets, which a
            # one-row-per-clip array table cannot offer
            awords = asig.select(idc, F.explode("words").alias("word"))
            within, cross, m = self._family_candidates(
                spark, awords, ["word"], self.audiowords_path, batch_id
            )
            mrows.append(("audio", *m))
            writes.append((awords, self.audiowords_path, ["word"]))
            writes.append((asig_all, self.audiosigs_path, [idc]))
            hist_asig = None
            if cross is not None:
                hist_asig = self._hist_by_id(
                    spark, self.audiosigs_path, batch_id,
                    cross.select(F.col("id_b").alias(idc)), idc,
                )
                if hist_asig is not None:
                    hist_asig = hist_asig.filter(F.col("decode_ok"))
            # verify against STATE: word-set Jaccard (recall signal) AND
            # waveform-sketch Hamming (collision discriminator — distinct
            # stationary signals can share every coarse occupancy word);
            # history audio bytes are never re-decoded
            jac = F.round(
                F.size(F.array_intersect("_wa", "_wb")).cast("double")
                / F.size(F.array_union("_wa", "_wb")).cast("double"),
                6,
            )
            ham = F.bit_count(F.col("_ska").bitwiseXOR(F.col("_skb"))).cast("int")
            a = asig.select(
                F.col(idc).alias("id_a"),
                F.col("words").alias("_wa"),
                F.col("sketch").alias("_ska"),
            )
            audio_parts: list[DataFrame] = []
            for cand, hist_side, kind in ((within, False, "audio_within"),
                                          (cross, True, "audio_history")):
                if cand is None or (hist_side and hist_asig is None):
                    continue
                if hist_side:
                    ids = cand.select(F.col("id_b").alias(idc)).distinct()
                    src_b = self._first_matching(hist_asig, ids, idc)
                else:
                    src_b = asig
                b = src_b.select(
                    F.col(idc).alias("id_b"),
                    F.col("words").alias("_wb"),
                    F.col("sketch").alias("_skb"),
                )
                ok = (
                    cand.join(a, "id_a").join(b, "id_b")
                    .withColumn("jaccard_est", jac)
                    .withColumn("hamming", ham)
                    .filter(
                        (F.col("jaccard_est") >= self.audio_threshold)
                        & (F.col("hamming") <= self.audio_max_hamming)
                    )
                )
                audio_parts.append(
                    ok.select("id_a", "id_b", "jaccard_est", "hamming",
                              F.lit(kind).alias("kind"))
                )
            if audio_parts and self.audio_exact_verify:
                audio_parts = [
                    self._audio_snr_stage(spark, audio_parts, batch, mrows)
                ]
            parts.extend(audio_parts)
            return parts, mrows, writes

        def _sec_embedding() -> Section:
            from cc_net_spark.operators.ann import (
                hyperplane_bands,
                hyperplane_signatures,
                _cosine,
            )

            # poison-record defense (same invariant as the audio decode:
            # counted, never raised — a foreachBatch crash replays into
            # itself forever): a null vector, a wrong-length vector, or
            # a vector with null elements would crash the Arrow kernel's
            # dense matmul; such rows are dropped from the family and
            # metered, while still receiving a (non-dup) flag row
            parts: list[DataFrame] = []
            mrows: list[tuple] = []
            writes: list[tuple] = []
            vcol = F.col(self.emb_col)
            valid = (
                vcol.isNotNull()
                & (F.size(vcol) == self.emb_dim)
                & ~F.exists(vcol, lambda x: x.isNull())
            )
            src = batch.withColumn(idc, F.col(idc).cast("string"))
            bad_ids = src.filter(~valid).select(idc).localCheckpoint(eager=False)
            n_bad = bad_ids.count()
            if n_bad:
                mrows.append(("embedding_invalid_vectors", n_bad, 0, 0))
            # one Arrow pass computes the sign-bit signature AND carries
            # the float64 vector through (keep_vec) — the (sig, vector)
            # row IS the persisted state, so history vectors are never
            # re-read from the corpus (the embedding analogue of
            # keep_shingles=False); id cast to string like every other
            # signature table
            esig = (
                hyperplane_signatures(
                    src.filter(valid),
                    id_col=idc,
                    vec_col=self.emb_col,
                    dim=self.emb_dim,
                    n_bits=self.emb_n_bits,
                    seed=self.emb_seed,
                    keep_vec=True,
                )
                .localCheckpoint(eager=False)
            )
            ebands = hyperplane_bands(
                esig, idc, n_bits=self.emb_n_bits, bands=self.emb_bands
            ).localCheckpoint(eager=False)
            within, cross, m = self._family_candidates(
                spark, ebands, ["band", "key"], self.embbands_path, batch_id
            )
            if sig is None and "audio" not in self.families:
                _kick_kbs(esig.select(idc).unionByName(bad_ids))
            mrows.append(("embedding", *m))
            writes.append((ebands, self.embbands_path, ["band", "key"]))
            writes.append((esig, self.embsigs_path, [idc]))
            vals = esig.select(idc, F.col("v").alias("_v"))
            hvals = self._hist_vals(
                spark, cross, batch_id, "v", path=self.embsigs_path
            )
            # verify on EXACT cosine (JVM fold over the state vectors);
            # the score rides the jaccard_est column — the pairs schema
            # is a fixed on-disk contract, and both are [0, 1] "how
            # similar" verdict scores (threshold-filtered, so a negative
            # cosine never lands in the table)
            cos = F.round(_cosine(F.col("_va"), F.col("_vb")), 6)
            for cand, is_cross, kind in ((within, False, "embedding_within"),
                                         (cross, True, "embedding_history")):
                if cand is None or (is_cross and hvals is None):
                    continue
                ok = (
                    self._fetch(cand, vals, hvals, is_cross)
                    .withColumn("jaccard_est", cos)
                    .filter(F.col("jaccard_est") >= self.emb_threshold)
                )
                parts.append(
                    ok.select("id_a", "id_b", "jaccard_est", null_ham,
                              F.lit(kind).alias("kind"))
                )
            return parts, mrows, writes

        sections: list[tuple[str, object]] = []
        if "minhash" in self.families:
            sections.append(("minhash", _sec_minhash))
        if "simhash" in self.families:
            sections.append(("simhash", _sec_simhash))
        if "exact" in self.families:
            sections.append(("exact", _sec_exact))
        if "audio" in self.families:
            sections.append(("audio", _sec_audio))
        if "embedding" in self.families:
            sections.append(("embedding", _sec_embedding))

        if len(sections) == 1:
            results = [sections[0][1]()]
        else:
            # independent sub-DAGs run concurrently from driver threads:
            # their sizing/verify actions interleave across the executor
            # slots (the audio decode pass overlaps the text families).
            # When several TEXT families share the lazy signature
            # checkpoint, materialize it ONCE up front — two concurrent
            # jobs racing an unmaterialized local checkpoint would
            # compute (and on a multi-executor cluster, cache) it twice;
            # the non-text sections are submitted first so they overlap
            # that materialization.
            with ThreadPoolExecutor(max_workers=len(sections)) as sec_pool:
                futs: dict[str, object] = {}
                for name, fn in sections:
                    if name in ("audio", "embedding"):
                        futs[name] = sec_pool.submit(fn)
                n_text = len(sections) - len(futs)
                if n_text > 1:
                    sig.count()  # materialize the shared checkpoint
                for name, fn in sections:
                    if name not in futs:
                        futs[name] = sec_pool.submit(fn)
                # merged in canonical family order -> deterministic output
                results = [futs[name].result() for name, _ in sections]

        pair_parts: list[DataFrame] = []
        metric_rows: list[tuple] = []
        state_writes: list[tuple[DataFrame, str, list[str]]] = []
        for parts_, mrows_, writes_ in results:
            pair_parts.extend(parts_)
            metric_rows.extend(mrows_)
            state_writes.extend(writes_)

        pairs = pair_parts[0]
        for part in pair_parts[1:]:
            pairs = pairs.unionByName(part)
        # lazy: the pairs WRITE is the first action — it materializes the
        # checkpoint the flags write then reuses (one pairs execution,
        # no standalone checkpoint barrier)
        pairs = pairs.localCheckpoint(eager=False)

        # keep-first flags: dup iff matched history (any family), or the
        # LARGER id of a within pair (candidate_pairs canonicalizes
        # id_a < id_b), or a RE-DELIVERY of an id already in history —
        # an id seen in an earlier batch is by definition not first,
        # even when it is its key's own history representative (the
        # pair filters exclude the degenerate self-pair, so the flag
        # must not depend on a pair existing)
        dup_sources = [
            pairs.filter(F.col("kind").like("%history")).select(
                F.col("id_a").alias(idc)
            ),
            pairs.filter(F.col("kind").like("%within")).select(
                F.col("id_b").alias(idc)
            ),
        ]
        # every signature table casts the id to string; flags must match.
        # The re-delivery check reads each id-bucketed state table pruned
        # to the BATCH ids' buckets (for a large batch that is every
        # bucket — correct: every id must be checked — but a small late
        # shard touches only its own buckets).
        batch_ids = batch.select(F.col(idc).cast("string").alias(idc))
        # the ids' buckets were collected from CHECKPOINTED signature
        # tables (sig / asig_all / esig + its dropped ids) on a driver
        # thread kicked inside the family sections — by now the collect
        # has been overlapping the verification work; just join it
        assert kbs_thread is not None  # families is a non-empty subset
        kbs_thread.join()
        if "err" in kbs_result:
            raise kbs_result["err"]
        batch_kbs = kbs_result["kbs"]
        redeliv_paths = []
        if need_text:
            redeliv_paths.append((self.sigs_path, None))
        if "audio" in self.families:
            redeliv_paths.append((self.audiosigs_path, F.col("decode_ok")))
        if "embedding" in self.families:
            redeliv_paths.append((self.embsigs_path, None))
        for path, extra in redeliv_paths:
            h = self._history(spark, path, batch_id, batch_kbs)
            if h is None:
                continue
            if extra is not None:
                h = h.filter(extra)
            dup_sources.append(batch_ids.join(h.select(idc), idc, "leftsemi"))
        dup_ids = dup_sources[0]
        for src in dup_sources[1:]:
            dup_ids = dup_ids.unionByName(src)
        dup_ids = dup_ids.distinct().withColumn("_dup", F.lit(True))
        flags = (
            batch_ids
            .join(dup_ids, idc, "left")
            .select(idc, F.coalesce("_dup", F.lit(False)).alias("is_near_dup"))
        )

        def write(df: DataFrame, path: str) -> None:
            # write straight into this batch's hive partition dir: replay
            # overwrites only its own partition (same idempotence as
            # dynamic partitionOverwriteMode), and a 0-row result — e.g.
            # a batch whose pairs were all cap-dropped — still writes a
            # schema-bearing parquet file, so readers of the base dir
            # never hit UNABLE_TO_INFER_SCHEMA
            df.write.mode("overwrite").parquet(_join_path(path, f"_batch_id={batch_id}"))

        def write_state(df: DataFrame, path: str, kb_cols: list[str]) -> None:
            # state tables get a second hive level ``_kb`` (key-hash
            # bucket) under the batch dir, so history probes prune; the
            # static overwrite still truncates exactly this batch's dir
            # on replay. State frames of a non-empty batch are non-empty
            # (>= 1 row per id) except audiowords when every clip failed
            # decode — an empty dir then reads as absent, which is the
            # correct "no probeable state" answer.
            (
                df.withColumn("_kb", self._kb_expr(kb_cols))
                # cluster rows by bucket before the partitioned write:
                # without this every task writes into every _kb dir
                # (tasks x buckets tiny files); with it each bucket dir
                # gets ONE file. Fewer shuffle partitions than buckets
                # is fine (a task owns several buckets, still one file
                # each) and keeps small-batch task overhead flat.
                .repartition(min(16, self.n_state_buckets), F.col("_kb"))
                # sorted within each bucket run by the PROBE key (last
                # bucket column): row-group min/max stats stay tight on
                # the column the pushed wide-batch filters
                # (state_filter_keys) probe, in UNCOMPACTED partitions too
                .sortWithinPartitions("_kb", kb_cols[-1])
                .write.mode("overwrite")
                .partitionBy("_kb")
                .parquet(_join_path(path, f"_batch_id={batch_id}"))
            )

        # NOTE: this schema is part of the on-disk contract — the metrics
        # dir is append-only across upgrades, so schema changes require
        # rewriting old partitions (or mergeSchema-aware readers) first
        metrics = spark.createDataFrame(
            metric_rows,
            "family string, n_buckets long, n_hot_buckets_dropped long, "
            "n_hot_rows_dropped long",
        )
        # the pairs write materializes the lazy pairs checkpoint; the
        # metrics write is independent and rides alongside it
        _run_parallel([
            lambda: write(pairs, _join_path(self.output_path, "pairs")),
            lambda: write(metrics, _join_path(self.output_path, "metrics")),
        ])
        # flags (which reuse the now-checkpointed pairs) and the state
        # appends share ONE concurrent barrier — the probe's wall is
        # almost entirely serial job barriers, and these jobs are
        # mutually independent. State still commits strictly AFTER the
        # pairs evidence (a crash can never leave state rows whose
        # match evidence is missing); the only new torn shape is
        # state-without-flags, which at-least-once replay rewrites
        # wholesale (history probes filter ``_batch_id < current``, so
        # a batch's own half-written state stays invisible to its
        # replay), and fold_new_batches keys off the flags dirs, so a
        # torn batch is simply not folded until the replay lands it.
        state_jobs = []
        if need_text:
            state_jobs.append(lambda: write_state(
                sig.select(idc, "n_shingles", "sig", "simhash", "tkey"),
                self.sigs_path,
                [idc],
            ))
        state_jobs.extend(
            lambda df=df, path=path, kb=kb_cols: write_state(df, path, kb)
            for df, path, kb_cols in state_writes
        )
        _run_parallel([
            lambda: write(flags, _join_path(self.output_path, "flags")),
            *state_jobs,
        ])


def compact_state(
    spark: SparkSession,
    state_path: str,
    out_path: str,
    *,
    upto_batch: int,
    id_col: str = "clip_id",
    row_group_bytes: int | None = None,
) -> None:
    """Maintenance: rewrite the append-only LSH state partitions below
    ``upto_batch`` into ONE partition per table — small-file compaction
    plus dedupe of replay leftovers (one row per id in ``sigs``, per
    (id, band, key) in ``bands``; the earliest batch wins, preserving
    keep-first). The analogue of ``incremental.compact_hashes`` and of
    Iceberg's ``rewrite_data_files``. Out-of-place: writes under
    ``out_path``; the caller swaps paths (or snapshot-commits) once
    finished.

    ``upto_batch`` is ENFORCED, not advisory: pass the stream
    checkpoint's next batch id (every batch < upto_batch is committed
    and can never replay). Compacted rows are rebadged to partition
    ``upto_batch - 1``; a replay of any batch >= upto_batch probes
    ``_batch_id < current`` and still sees all compacted history, while
    partitions >= upto_batch pass through unchanged.

    Compacted rows are SORTED within each ``_kb`` bucket by the table's
    probe keys, so Parquet row-group min/max statistics carry tight key
    ranges: a wide batch whose keys span every ``_kb`` bucket (where
    directory pruning degenerates to a full scan) still skips row
    groups under the probes' pushed key filters (see
    ``IncrementalNearDup.state_filter_keys``). ``row_group_bytes``
    overrides ``parquet.block.size`` for the compacted files — smaller
    groups = finer skipping granularity (and testability at small
    scale); None keeps the Parquet default (128 MB)."""
    fs_, jcur = _hadoop_fs(spark, _join_path(state_path, "CURRENT"))
    if fs_.exists(jcur):
        raise ValueError(
            f"{state_path} is a pointer-managed root — compacting it "
            f"directly would read zero tables and report success. Use "
            f"compact_state_pointer(), or pass the CURRENT-resolved tree."
        )
    tables = (
        ("sigs", [id_col]),
        ("bands", [id_col, "band", "key"]),
        ("simbands", [id_col, "band", "key"]),
        ("exactkeys", [id_col, "tkey"]),
        ("audiosigs", [id_col]),
        ("audiowords", [id_col, "word"]),
        ("embsigs", [id_col]),
        ("embbands", [id_col, "band", "key"]),
    )
    fs, src = _hadoop_fs(spark, _join_path(state_path, "meta", "meta.json"))
    if fs.exists(src):
        dst_fs, dst = _hadoop_fs(spark, _join_path(out_path, "meta", "meta.json"))
        spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, src, dst_fs, dst, False, spark._jsc.hadoopConfiguration()
        )
    for sub, keys in tables:
        df = _read_optional(spark, _join_path(state_path, sub))
        if df is None:  # family not enabled -> table absent
            continue
        old = df.filter(F.col("_batch_id") < upto_batch)
        w = Window.partitionBy(*keys).orderBy("_batch_id")
        writer = (
            old.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_batch_id")
            # sorted within each bucket by the PROBE key (the last key
            # column — 'key' for band tables, 'tkey'/'word'/id for the
            # rest): row-group min/max stats get tight ranges on exactly
            # the column the wide-batch pushed filters probe
            .sortWithinPartitions("_kb", keys[-1])
            # ``_kb`` survives as a read-back partition column — keep the
            # bucketed layout so probes against compacted state prune too
            .write.mode("overwrite")
        )
        if row_group_bytes is not None:
            writer = writer.option("parquet.block.size", row_group_bytes)
        writer.partitionBy("_kb").parquet(
            _join_path(out_path, sub, f"_batch_id={upto_batch - 1}")
        )
        # uncompacted (possibly replayable) batches: copied verbatim,
        # keeping their own partition values
        (
            df.filter(F.col("_batch_id") >= upto_batch)
            .write.mode("append")
            .partitionBy("_batch_id", "_kb")
            .parquet(_join_path(out_path, sub))
        )


def recover_state_swap(spark: SparkSession, state_path: str) -> bool:
    """Heal a compaction swap that crashed mid-window. The swap is two
    renames (live -> ``_precompact``, ``_compacting`` -> live); a crash
    between them leaves NO live tree — a naive restart would then see
    "no state", silently rebuild from empty, and lose all dedup recall.
    Recovery: if the live tree is missing but ``_precompact`` exists,
    delete the (possibly incomplete) ``_compacting`` tree and rename the
    original back; if BOTH live and ``_precompact`` exist (crash after
    the second rename, before the cleanup delete), the live tree is the
    complete compacted one — just drop the leftover. Returns True iff it
    changed anything. Called automatically by ``maybe_compact_state``
    and on the first ``process_batch`` of a handler lifetime.

    The both-exist inference requires ATOMIC renames (each tree is then
    all-or-nothing); ``maybe_compact_state`` refuses to start a swap on
    schemes where rename is copy+delete, so that precondition holds
    wherever a swap can actually have happened."""
    fs, live = _hadoop_fs(spark, state_path)
    _, old = _hadoop_fs(spark, state_path.rstrip("/") + "_precompact")
    _, tmp = _hadoop_fs(spark, state_path.rstrip("/") + "_compacting")
    if fs.exists(live):
        if fs.exists(old):
            fs.delete(old, True)
            return True
        return False
    if not fs.exists(old):
        return False
    if fs.exists(tmp):
        fs.delete(tmp, True)
    if not fs.rename(old, live):
        raise RuntimeError(
            f"swap recovery: rename {state_path}_precompact -> {state_path} failed"
        )
    return True


# schemes whose directory rename is a single atomic metadata operation.
# On object stores (s3a/s3/gs/wasb/oss/cos) rename is per-object
# copy+delete: a crash mid-rename leaves BOTH trees partial, and no
# local recovery can distinguish "live is complete" from "live lost
# rows" — the auto-swap refuses there (compact out-of-place with
# ``compact_state`` and flip a catalog/snapshot pointer instead, which
# is how an Iceberg deployment does it anyway).
_ATOMIC_RENAME_SCHEMES = frozenset(
    {"file", "hdfs", "viewfs", "webhdfs", "abfs", "abfss", "o3fs", "ofs"}
)


def _rename_is_atomic(scheme: str | None) -> bool:
    return (scheme or "file") in _ATOMIC_RENAME_SCHEMES


def _n_state_batches(spark: SparkSession, state_path: str) -> int | None:
    """Number of ``_batch_id=`` partitions in the state's signature
    table (text, else audio, else embedding) — None if no state exists
    yet. A pure FS-metadata probe."""
    fs = None
    for sub in ("sigs", "audiosigs", "embsigs"):
        fs, probe_dir = _hadoop_fs(spark, _join_path(state_path, sub))
        if fs.exists(probe_dir):
            return sum(
                1
                for st in fs.listStatus(probe_dir)
                if st.isDirectory()
                and st.getPath().getName().startswith("_batch_id=")
            )
    return None


_STATE_TABLE_NAMES = (
    "sigs", "bands", "simbands", "exactkeys",
    "audiosigs", "audiowords", "embsigs", "embbands",
)


def _read_pointer(spark: SparkSession, root: str) -> str | None:
    """Read + validate ``<root>/CURRENT``. Rolls a crashed pointer
    commit forward (``CURRENT.tmp`` left by ``_commit_pointer``), and
    FAILS LOUDLY on an unparseable pointer or on a root that holds
    state tables but no pointer — both would otherwise resolve to an
    empty tree and silently restart dedup history (the same loud-
    mismatch convention as the n_state_buckets meta marker)."""
    import re as _re

    marker = _join_path(root, "CURRENT")
    fs, jmark = _hadoop_fs(spark, marker)
    _, jtmp = _hadoop_fs(spark, marker + ".tmp")
    if not fs.exists(jmark) and fs.exists(jtmp):
        # crashed between delete(CURRENT) and rename(tmp) — roll forward
        if not fs.rename(jtmp, jmark):
            raise RuntimeError(f"pointer roll-forward failed at {marker}")
    cur = read_small_text(spark, marker)
    if cur is None:
        for sub in _STATE_TABLE_NAMES:
            _, jp = _hadoop_fs(spark, _join_path(root, sub))
            if fs.exists(jp):
                raise ValueError(
                    f"{root} holds a plain (non-pointer) state tree — "
                    f"initializing a pointer here would orphan its dedup "
                    f"history. Keep using it without pointer_state, or "
                    f"move it to {root}/v0 and write 'v0' to {marker}."
                )
        return None
    cur = cur.strip()
    if not _re.fullmatch(r"v\d+", cur):
        raise ValueError(
            f"{marker} contains {cur!r} (expected v<N>) — refusing to "
            f"resolve a corrupt pointer to an empty tree"
        )
    return cur


def _commit_pointer(spark: SparkSession, root: str, version: str) -> None:
    """Commit a new pointer value. On object stores a small-object
    overwrite is one atomic PUT; on file/HDFS ``create(overwrite)`` is
    truncate-then-write, so the commit goes through ``CURRENT.tmp`` +
    rename, and ``_read_pointer`` rolls the one crash window (between
    delete and rename) forward."""
    marker = _join_path(root, "CURRENT")
    fs, jmark = _hadoop_fs(spark, marker)
    _, jtmp = _hadoop_fs(spark, marker + ".tmp")
    write_small_text(spark, marker + ".tmp", version)
    if fs.exists(jmark):
        fs.delete(jmark, False)
    if not fs.rename(jtmp, jmark):
        raise RuntimeError(f"pointer commit failed at {marker}")


def init_state_pointer(spark: SparkSession, root: str) -> str:
    """Initialize (or resolve) a POINTER-MANAGED state root: the live
    state tree is ``<root>/<contents of root/CURRENT>``. Returns the
    live tree path, creating ``CURRENT -> v0`` on first use. This is
    the object-store-safe layout: compaction never renames directories —
    it writes a fresh versioned tree and flips the one-line CURRENT
    file (the catalog-pointer pattern an Iceberg deployment uses for
    every commit). A root that already holds a PLAIN state tree is
    refused loudly (pointer-izing it would orphan its history)."""
    cur = _read_pointer(spark, root)
    if cur is None:
        _commit_pointer(spark, root, "v0")
        cur = "v0"
    return _join_path(root, cur)


def compact_state_pointer(
    spark: SparkSession,
    root: str,
    *,
    upto_batch: int,
    min_batches: int = 8,
    id_col: str = "clip_id",
) -> bool:
    """Pointer-flip compaction for a root managed by
    ``init_state_pointer`` — the compaction path that is safe on EVERY
    filesystem, object stores included (``maybe_compact_state``'s
    rename swap refuses those). Protocol: drop orphan version trees
    from crashed attempts, compact the live tree out-of-place to the
    next version, overwrite CURRENT (the atomic commit), delete the old
    tree. A crash before the flip leaves an orphan new tree; after the
    flip, an orphan old tree — both invisible to readers (which resolve
    through CURRENT) and reclaimed by the next compaction. Run only
    while the stream is stopped. Returns True iff a compaction
    happened."""
    import re as _re

    cur = _read_pointer(spark, root)
    if cur is None:
        return False
    live = _join_path(root, cur)
    # orphan sweep FIRST (before the size guard): a crash after a flip
    # but before the old-tree delete must not leak a full state copy
    # until the next compaction happens to trigger
    fs, jroot = _hadoop_fs(spark, root)
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name != cur and _re.fullmatch(r"v\d+", name):
            fs.delete(st.getPath(), True)
    n_batches = _n_state_batches(spark, live)
    if n_batches is None or n_batches < min_batches:
        return False
    nxt = f"v{int(cur[1:]) + 1}"
    compact_state(
        spark, live, _join_path(root, nxt), upto_batch=upto_batch, id_col=id_col
    )
    _commit_pointer(spark, root, nxt)
    _, jlive = _hadoop_fs(spark, live)
    fs.delete(jlive, True)
    return True


def maybe_compact_state(
    spark: SparkSession,
    state_path: str,
    *,
    upto_batch: int,
    min_batches: int = 8,
    id_col: str = "clip_id",
) -> bool:
    """Compact the state IF it has accumulated >= ``min_batches`` batch
    partitions, then atomically swap the compacted tree in (the
    operational wrapper around ``compact_state`` — small-file growth is
    otherwise unbounded under a long-running stream).

    Swap protocol: compact out-of-place to ``<state>_compacting``, rename
    the live tree to ``<state>_precompact``, rename the compacted tree to
    ``<state>``, delete the old tree. The protocol (and
    ``recover_state_swap``'s crash inference) is only sound where
    ``FileSystem.rename`` is atomic — on object stores it is per-object
    copy+delete and a mid-rename crash leaves both trees PARTIAL, so the
    swap refuses non-atomic schemes outright (see
    ``_ATOMIC_RENAME_SCHEMES``). Run only while the stream is stopped
    (``Trigger.AvailableNow`` between invocations), which is also
    required for correctness of ``upto_batch``. Returns True iff a
    compaction happened."""
    fs, probe_dir = _hadoop_fs(spark, _join_path(state_path, "sigs"))
    if not _rename_is_atomic(probe_dir.toUri().getScheme()):
        raise RuntimeError(
            f"maybe_compact_state: rename is not atomic on "
            f"'{probe_dir.toUri().getScheme()}' — a crashed swap would be "
            f"unrecoverable. Use compact_state(out_path=...) and flip a "
            f"catalog/snapshot pointer instead."
        )
    recover_state_swap(spark, state_path)
    n_batches = _n_state_batches(spark, state_path)
    if n_batches is None or n_batches < min_batches:
        return False
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = state_path.rstrip("/") + "_compacting"
    old = state_path.rstrip("/") + "_precompact"
    # recover_state_swap above guarantees _precompact is gone; only a
    # half-written compaction output from a crashed attempt can remain
    _, p = _hadoop_fs(spark, tmp)
    if fs.exists(p):
        fs.delete(p, True)
    compact_state(spark, state_path, tmp, upto_batch=upto_batch, id_col=id_col)
    if not fs.rename(jvm_path(state_path), jvm_path(old)):
        raise RuntimeError(f"compaction swap: rename {state_path} -> {old} failed")
    if not fs.rename(jvm_path(tmp), jvm_path(state_path)):
        # roll back so the live state survives
        fs.rename(jvm_path(old), jvm_path(state_path))
        raise RuntimeError(f"compaction swap: rename {tmp} -> {state_path} failed")
    fs.delete(jvm_path(old), True)
    return True


def run_incremental_near_dup(
    spark: SparkSession,
    input_path: str,
    schema: str,
    state_path: str,
    output_path: str,
    checkpoint_path: str,
    compact_min_batches: int | None = None,
    pointer_state: bool = False,
    **kwargs,
):
    """Structured Streaming file-source wrapper, AvailableNow trigger —
    same resumable-batch shape as ``run_incremental_dedup``.

    ``compact_min_batches``: after the trigger drains (stream stopped),
    auto-compact the state once it holds that many batch partitions —
    ``upto_batch`` is the just-committed next batch id, which is exactly
    the enforced-safety contract of ``compact_state``.

    ``pointer_state``: manage ``state_path`` as a POINTER ROOT
    (``init_state_pointer``): the live tree is versioned under it and
    compaction commits by flipping the one-line CURRENT file instead of
    renaming directories — the layout to use on object stores, where
    ``maybe_compact_state``'s rename swap is refused."""
    live_state = (
        init_state_pointer(spark, state_path) if pointer_state else state_path
    )
    handler = IncrementalNearDup(live_state, output_path, **kwargs)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .json(input_path)
    )
    q = (
        stream.writeStream.foreachBatch(handler.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if compact_min_batches is not None:
        progress = q.lastProgress
        if progress is not None:
            compact = compact_state_pointer if pointer_state else maybe_compact_state
            compact(
                spark,
                state_path,
                upto_batch=int(progress["batchId"]) + 1,
                min_batches=compact_min_batches,
                id_col=handler.id_col,
            )
    return q

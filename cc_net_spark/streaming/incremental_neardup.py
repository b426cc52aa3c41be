"""Incremental NEAR-duplicate detection over arriving shards.

The batch pipeline (``plans/pipeline.py``) re-derives all pairs from the
whole corpus; at 10^12 clips an arriving shard cannot afford that. This
module keeps the MinHash/LSH state — signatures and band keys — in
append-only ``_batch_id``-partitioned tables (the same replay-idempotent
layout as ``streaming/incremental.py``) and, per micro-batch:

1. each enabled signature source signs the batch in ONE pass: the
   fused text signatures (MinHash sig, SimHash, exact full-text key
   from one normalization pass; ``keep_shingles=False`` — the
   extreme-scale mode: history text is NEVER re-read), the audio
   fingerprint, the embedding hyperplane signature,
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
   (a family's key table by its keys, a signature table by id), and
   every history read filters on the batch's collected bucket set —
   partition pruning skips all non-matching bucket directories, so
   per-batch state IO is bounded by the batch's key spread, never the
   corpus (at 10^12-row state a full scan per arriving shard would
   dwarf the capped compute),
4. each family verifies both candidate sets its own way, on values
   its signature table holds: MinHash on estimated Jaccard (the
   agreeing-minhash fraction), SimHash on Hamming distance, audio on
   word-set Jaccard plus sketch Hamming, embedding on exact cosine;
   exact pairs need no verify. Batch values are in memory, history
   values join on the (few) matched ids,
5. outputs (verified pairs + per-clip dup flags) and state appends are
   written with dynamic partition overwrite keyed by ``_batch_id`` —
   at-least-once foreachBatch replay rewrites only its own partitions,
   and the history probe's ``_batch_id < current`` filter keeps a
   half-written attempt invisible.

Keep-first semantics match the exact incremental path: a clip is a
near-dup iff it matches an EARLIER batch (including a re-delivery of an
id already ingested), or a smaller id within its own batch. Reference anchor: cc_net's hash-table merge across shards
(``cc_net/dedup.py:92-124``) generalized from exact SHA1 paragraphs to
MinHash near-duplicates.

The families are definitions (``SigSource``, ``Family``) that one path
runs; the list of state tables, compaction and the re-delivery check
derive from them.

The state path is a POINTER ROOT (``sources/hadoop_fs.py``): the live
tree is ``<root>/v<N>``, named by ``<root>/CURRENT`` and resolved at the
start of every batch; ``maybe_compact_state`` writes the next version
out of place and flips ``CURRENT`` — no directory is ever renamed.
"""

from __future__ import annotations

import threading
from collections import Counter
from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cc_net_spark.multimodal.audio import audio_signatures
from cc_net_spark.operators import minhash as mh
from cc_net_spark.operators import simhash as sh
from cc_net_spark.operators.ann import hyperplane_bands, hyperplane_signatures
from cc_net_spark.operators.pairs import candidate_pairs
from cc_net_spark.operators.signatures import fused_signatures
from cc_net_spark.sources.hadoop_fs import (
    commit_small_text,
    ensure_live_tree,
    hadoop_fs as _hadoop_fs,
    publish_next,
    read_committed,
)
from cc_net_spark.session import DriverThreads

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


def _read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet dir that may not exist yet, or hold no data file
    (only ``_SUCCESS`` markers) — None then. The decision is one Hadoop
    listing probe for a file Spark would read (~25 ms, any scheme), made
    BEFORE any ``spark.read``: a read that fails schema inference costs
    0.2-0.7 s, and in a session that has used an ``Observation`` it also
    logs an ``ExecutionListenerBus`` ERROR."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    base = fs.makeQualified(jpath).toUri().getPath().rstrip("/")
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        rel = files.next().getPath().toUri().getPath()[len(base):]
        # Spark skips hidden and _-prefixed names (a crash-left
        # _temporary/ attempt, _SUCCESS), but not _batch_id=N partitions
        if not any(
            n.startswith((".", "_")) and "=" not in n
            for n in rel.split("/")
        ):
            return spark.read.parquet(path)
    return None


@dataclass(frozen=True)
class SigSource:
    """A per-clip signature table of the batch: the values its families
    verify on, persisted to the id-bucketed state table ``table``."""

    table: str
    # (handler, batch) -> one signature row per id, the id cast to string
    sign: Callable[[IncrementalNearDup, DataFrame], DataFrame]
    # persisted columns after the id
    columns: tuple[str, ...]
    # (handler) -> ok predicate over the batch rows: failing rows are
    # dropped before signing (a poison row would crash the kernel)
    valid: Callable[[IncrementalNearDup], Column] | None = None
    # (handler) -> ok predicate over the signature rows: failing rows
    # stay in state, and every read of the table skips them
    ok: Callable[[IncrementalNearDup], Column] | None = None
    # the metrics row counting the rows failing either — counted, never
    # raised: a foreachBatch crash would replay into itself forever
    bad_metric: str | None = None


@dataclass(frozen=True)
class Family:
    """A near-dup family: key rows bucketed into the state table
    ``table``, probed within the batch and against history, verified on
    values of its source."""

    name: str  # its metrics row
    source: SigSource
    table: str
    keys: tuple[str, ...]  # the last one is the probe key
    # (handler, usable signature rows) -> (id, *keys), one row each
    key_rows: Callable[[IncrementalNearDup, DataFrame], DataFrame]
    kinds: tuple[str, str]  # within, history
    # source columns the verify reads, as <col>_a and <col>_b
    values: tuple[str, ...] = ()
    # the verify: SQL over the pair row, formatted with the handler's
    # attributes (its thresholds)
    jaccard: str = "CAST(NULL AS DOUBLE)"
    hamming: str = "CAST(NULL AS INT)"
    keep: str | None = None
    # (handler, spark, verified parts, batch, metric rows) -> parts
    post_verify: Callable | None = None
    # (handler, spark, key rows, keys, state path, batch_id) -> (within,
    # cross, metrics); None runs IncrementalNearDup._family_candidates,
    # the capped bucket probe
    candidates: Callable | None = None


class _Signed(NamedTuple):
    rows: DataFrame  # the batch's signature rows, as persisted
    good: DataFrame  # the usable ones: key rows and verify values
    ids: DataFrame  # every batch id (the flags' bucket collect)
    n_bad: int


def _exact_candidates(
    nd: IncrementalNearDup, spark: SparkSession, tkeys: DataFrame,
    _keys: list[str], path: str, batch_id: int,
):
    """The exact family is CAP-FREE: key equality fully determines the
    cluster, so no pairwise enumeration is needed — each dup is paired
    with its KEEP-FIRST representative (min id in the batch, or min
    matching history id). A flood of N identical texts costs O(N), and
    — unlike an LSH family — every copy is flagged (the cap rationale
    "boilerplate that exact dedup handles" must not apply to exact
    dedup itself). The pairs need no verify."""
    idc = nd.id_col
    within_rep = tkeys.groupBy("tkey").agg(F.min(idc).alias("_rep"))
    within = (
        tkeys.join(within_rep, "tkey")
        .filter(F.col(idc) != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col(idc).alias("id_b"))
    )
    n_keys_row = within_rep.agg(F.count(F.lit(1))).first()
    # history probe over the tkey-bucketed exactkeys state: the read
    # prunes to the batch's tkey buckets, the broadcast semijoin then
    # narrows to exactly the batch's keys — the min-id representative is
    # computed over matching keys only, never a corpus-wide groupBy
    hist_ek = nd._hist_by_key(spark, path, batch_id, tkeys, "tkey")
    cross = None
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
    return within, cross, (int(n_keys_row[0] or 0), 0, 0)


TEXT = SigSource(
    "sigs",
    # ONE fused scan per batch: minhash sig + simhash + exact tkey from
    # one normalization pass (operators/signatures.py); grams skipped —
    # no substring family (see the class doc)
    lambda nd, batch: fused_signatures(
        batch, nd.text_col, nd.id_col, shingle_size=nd.shingle_size,
        num_perm=nd.num_perm, keep_shingles=False, with_grams=False,
    ),
    ("n_shingles", "sig", "simhash", "tkey"),
)
AUDIO = SigSource(
    "audiosigs",
    # one decode pass -> per-clip (decode_ok, words, sketch); the compact
    # one-row-per-clip table IS the persisted state
    lambda nd, batch: audio_signatures(batch, nd.id_col),
    ("decode_ok", "words", "sketch"),
    ok=lambda nd: F.col("decode_ok"),
    bad_metric="audio_decode_failures",
)
EMBEDDING = SigSource(
    "embsigs",
    # one Arrow pass computes the sign-bit signature AND carries the
    # float64 vector through (keep_vec) — the (sig, vector) row IS the
    # persisted state, so history vectors are never re-read from the
    # corpus (the embedding analogue of keep_shingles=False)
    lambda nd, batch: hyperplane_signatures(
        batch.withColumn(nd.id_col, F.col(nd.id_col).cast("string")),
        id_col=nd.id_col, vec_col=nd.emb_col, dim=nd.emb_dim,
        n_bits=nd.emb_n_bits, seed=nd.emb_seed, keep_vec=True,
    ),
    ("sig", "v"),
    # a null vector, a wrong-length vector, or a vector with null
    # elements would crash the Arrow kernel's dense matmul; such rows
    # still receive a (non-dup) flag row
    valid=lambda nd: (
        F.col(nd.emb_col).isNotNull()
        & (F.size(nd.emb_col) == nd.emb_dim)
        & ~F.exists(nd.emb_col, lambda x: x.isNull())
    ),
    bad_metric="embedding_invalid_vectors",
)
# in flags priority: the ids' bucket collect reads the first enabled one
SOURCES = (TEXT, AUDIO, EMBEDDING)

# exact cosine, the formula of operators/ann._cosine
_NORM_A, _NORM_B = (
    f"sqrt(aggregate({v}, 0D, (acc, x) -> acc + x * x))" for v in ("v_a", "v_b")
)
_COSINE = (
    f"CASE WHEN {_NORM_A} > 0 AND {_NORM_B} > 0 THEN"
    " aggregate(zip_with(v_a, v_b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    f" / ({_NORM_A} * {_NORM_B}) ELSE 0D END"
)


def _band_rows(nd: IncrementalNearDup, sig: DataFrame, structs: list[str]) -> DataFrame:
    """(id, band, key) rows from the SQL band structs the batch
    ``TextFamily`` definitions bucket on (operators/families.py)."""
    return sig.selectExpr(f"`{nd.id_col}`", f"inline(array({', '.join(structs)}))")


_FAMILIES = (
    Family(
        "minhash", TEXT, "bands", ("band", "key"),
        lambda nd, sig: _band_rows(nd, sig, mh.band_structs(nd.bands, nd.rows_per_band)),
        ("within", "history"),
        values=("sig",),
        # estimated Jaccard: the fraction of agreeing minhash slots
        jaccard="round(CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
        " v -> v)) AS DOUBLE) / CAST(size(sig_a) AS DOUBLE), 6)",
        keep="jaccard_est >= {threshold}D",
    ),
    Family(
        "simhash", TEXT, "simbands", ("band", "key"),
        lambda nd, sig: _band_rows(nd, sig, sh.band_structs(nd.max_hamming)),
        ("simhash_within", "simhash_history"),
        values=("simhash",),
        hamming="CAST(bit_count(simhash_a ^ simhash_b) AS INT)",
        keep="hamming <= {max_hamming}",
    ),
    Family(
        "exact", TEXT, "exactkeys", ("tkey",),
        lambda nd, sig: sig.select(nd.id_col, "tkey"),
        ("exact_within", "exact_history"),
        jaccard="1.0D",
        hamming="0",
        candidates=_exact_candidates,
    ),
    Family(
        "audio", AUDIO, "audiowords", ("word",),
        # the exploded (id, word) rows are their own word-bucketed state
        # table — the probe prunes on word buckets, which a
        # one-row-per-clip array table cannot offer
        lambda nd, asig: asig.select(nd.id_col, F.explode("words").alias("word")),
        ("audio_within", "audio_history"),
        values=("words", "sketch"),
        # word-set Jaccard (recall signal) AND waveform-sketch Hamming
        # (collision discriminator — distinct stationary signals can
        # share every coarse occupancy word); history audio bytes are
        # never re-decoded
        jaccard="round(CAST(size(array_intersect(words_a, words_b)) AS DOUBLE)"
        " / CAST(size(array_union(words_a, words_b)) AS DOUBLE), 6)",
        hamming="CAST(bit_count(sketch_a ^ sketch_b) AS INT)",
        keep="jaccard_est >= {audio_threshold}D AND hamming <= {audio_max_hamming}",
        post_verify=lambda nd, *args: nd._audio_snr_stage(*args),
    ),
    Family(
        "embedding", EMBEDDING, "embbands", ("band", "key"),
        lambda nd, esig: hyperplane_bands(
            esig, nd.id_col, n_bits=nd.emb_n_bits, bands=nd.emb_bands
        ),
        ("embedding_within", "embedding_history"),
        values=("v",),
        # EXACT cosine over the state vectors; the score rides the
        # jaccard_est column — the pairs schema is a fixed on-disk
        # contract, and both are [0, 1] "how similar" verdict scores
        # (threshold-filtered, so a negative cosine never lands in the
        # table)
        jaccard=f"round({_COSINE}, 6)",
        keep="jaccard_est >= {emb_threshold}D",
    ),
)
FAMILIES = tuple(f.name for f in _FAMILIES)


def _state_tables(id_col: str) -> dict[str, list[str]]:
    """Every state table and its row key; a source's table comes ahead
    of the first family that reads it."""
    tables: dict[str, list[str]] = {}
    for f in _FAMILIES:
        tables.setdefault(f.source.table, [id_col])
        tables[f.table] = [id_col, *f.keys]
    return tables


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
    re-reading history text. The state encoding is ``STATE_FORMAT``
    (pinned in ``meta/meta.json``; a mismatch is refused), and the
    metrics schema is fixed: altering either requires rewriting old
    partitions (or mergeSchema-aware readers) first."""

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
        self._read_lock = threading.Lock()

    def _bind(self, live: str) -> None:
        """Point the state-table paths (``<table>_path``) at the live
        tree ``live``."""
        for table in (*_state_tables(self.id_col), "meta"):
            setattr(self, f"{table}_path", _join_path(live, table))

    def _path(self, table: str) -> str:
        return getattr(self, f"{table}_path")

    def _open_state(self, spark: SparkSession) -> None:
        """Resolve the live state tree — per batch, never cached: a
        compaction between batches moves it — committing ``CURRENT ->
        v0`` on the first write, then check the meta marker."""
        self._bind(ensure_live_tree(spark, self.state_path))
        self._check_meta(spark)

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

    def _hist_by_key(
        self, spark: SparkSession, path: str, before: int, keys: DataFrame, col: str
    ) -> DataFrame | None:
        """Pruned read of a state table bucketed on the one column
        ``col`` (the signature tables by id, exactkeys by tkey)
        restricted to the buckets containing ``keys`` — and, when the
        bucket set has degenerated to (nearly) the whole directory tree,
        to the literal keys via the pushed row-group filter. The key
        collect is paid ONLY in that wide case: a narrow shard is
        already served by directory pruning, and the common small-batch
        path stays at its old job count."""
        kbs = self._bucket_ids(keys, [col])
        key_vals = (
            self._collect_key_values(keys, col)
            if len(kbs) * 2 >= self.n_state_buckets
            else None
        )
        return self._history(spark, path, before, kbs, key_in=(col, key_vals))

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

        marker = _join_path(self.meta_path, "meta.json")
        meta = read_committed(spark, marker, _json.loads)
        if meta is not None:
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
            commit_small_text(
                spark, marker,
                _json.dumps({
                    "n_state_buckets": self.n_state_buckets,
                    "state_format": STATE_FORMAT,
                }),
            )
        self._meta_checked = True

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

    def _fetch(
        self, pairs: DataFrame, vals: DataFrame, hist: DataFrame | None,
        cross: bool, cols: tuple[str, ...],
    ) -> DataFrame:
        """Join a candidate table to its verification values ``cols``,
        as ``<col>_a`` and ``<col>_b``: id_a always from the batch
        (``vals``); id_b from ``hist`` for cross pairs, restricted to
        the matched ids with ONE row per id — the EARLIEST batch
        (keep-first). A clip re-delivered across several earlier batches
        appears once per batch in state; without this, each candidate
        would fan out into duplicate pair rows. Bounded: the window runs
        only over the semi-joined matches, never the whole history."""
        idc = self.id_col
        b_src = vals
        if cross:
            ids = pairs.select(F.col("id_b").alias(idc)).distinct()
            w = Window.partitionBy(idc).orderBy("_batch_id")
            b_src = (
                hist.join(ids, idc, "leftsemi")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
            )

        def side(df: DataFrame, s: str) -> DataFrame:
            return df.select(
                F.col(idc).alias(f"id_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in cols]
            )

        return pairs.join(side(vals, "a"), "id_a").join(side(b_src, "b"), "id_b")

    def _sign(self, src: SigSource, batch: DataFrame, shared: bool) -> _Signed:
        """Sign the batch with ``src`` into a lazy checkpoint and count
        its unusable rows. A source several families read (``shared``)
        is materialized here, once: family threads racing an
        unmaterialized local checkpoint would compute (and on a
        multi-executor cluster, cache) it twice."""
        idc = self.id_col
        bad = None
        if src.valid is not None:
            valid = src.valid(self)
            bad = (
                batch.filter(~valid)
                .select(F.col(idc).cast("string").alias(idc))
                .localCheckpoint(eager=False)
            )
            batch = batch.filter(valid)
        rows = src.sign(self, batch).localCheckpoint(eager=False)
        good, ids, n_bad = rows, rows.select(idc), 0
        if bad is not None:
            ids, n_bad = ids.unionByName(bad), bad.count()
        if src.ok is not None:
            # this count materializes the checkpoint
            ok = src.ok(self)
            good, shared = rows.filter(ok), False
            n_bad += rows.filter(~ok).count()
        if shared:
            rows.count()
        return _Signed(rows, good, ids, n_bad)

    def _section(
        self, spark: SparkSession, f: Family, batch: DataFrame, batch_id: int,
        sign: Callable[[SigSource], _Signed], kick: Callable[[Family], None],
    ) -> tuple[list, list, list]:
        """One family's independent sub-DAG: key rows, within/history
        candidates, then the verify against its source's values (history
        values from the pruned id read, earliest usable row per id).
        Returns LOCAL (pair parts, metric rows, state writes)."""
        idc = self.id_col
        s = sign(f.source)
        rows = f.key_rows(self, s.good).localCheckpoint(eager=False)
        find = f.candidates or IncrementalNearDup._family_candidates
        within, cross, m = find(
            self, spark, rows, list(f.keys), self._path(f.table), batch_id
        )
        kick(f)
        mrows = [(f.name, *m)]
        hist = None
        if cross is not None and f.values:
            hist = self._hist_by_key(
                spark, self._path(f.source.table), batch_id,
                cross.select(F.col("id_b").alias(idc)), idc,
            )
            if hist is not None and f.source.ok is not None:
                hist = hist.filter(f.source.ok(self))
        attrs = vars(self)
        verify = [
            f"{f.jaccard.format_map(attrs)} AS jaccard_est",
            f"{f.hamming.format_map(attrs)} AS hamming",
        ]
        parts: list[DataFrame] = []
        for cand, is_cross, kind in ((within, False, f.kinds[0]),
                                     (cross, True, f.kinds[1])):
            if cand is None or (is_cross and f.values and hist is None):
                continue
            if f.values:
                cand = self._fetch(cand, s.good, hist, is_cross, f.values)
            ok_pairs = cand.selectExpr("id_a", "id_b", *verify)
            if f.keep is not None:
                ok_pairs = ok_pairs.filter(f.keep.format_map(attrs))
            parts.append(ok_pairs.withColumn("kind", F.lit(kind)))
        if parts and f.post_verify is not None:
            parts = f.post_verify(self, spark, parts, batch, mrows)
        return parts, mrows, [(rows, f.table, list(f.keys))]

    def _audio_snr_stage(
        self,
        spark: SparkSession,
        audio_parts: list[DataFrame],
        batch: DataFrame,
        metric_rows: list[tuple],
    ) -> list[DataFrame]:
        """The audio family's post-verify hook, on when
        ``audio_exact_verify`` is set: the optional EXACT follow-up the
        class doc promises, a bounded
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

        if not self.audio_exact_verify:
            return audio_parts
        idc = self.id_col
        apairs = reduce(DataFrame.unionByName, audio_parts).localCheckpoint()

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
        return [passed.unionByName(unverifiable)]

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
        self._open_state(spark)
        self._read_cache.clear()
        # a malformed shard can repeat a clip_id within one batch; keep
        # one row per id so every downstream table (sigs state, flags,
        # rep-joined exact pairs) stays one-row-per-id
        batch = batch.dropDuplicates([idc])

        fams = [f for f in _FAMILIES if f.name in self.families]
        # only the enabled families' sources are signed: an audio-only
        # stream need not carry a transcript column nor pay the text
        # compute
        readers = Counter(f.source for f in fams)
        sources = [src for src in SOURCES if src in readers]
        signed: dict[SigSource, _Signed] = {}
        locks = {src: threading.Lock() for src in sources}

        def sign(src: SigSource) -> _Signed:
            # by the first family thread that needs it; the text families
            # wait here while the shared signature table materializes,
            # and the families of other sources overlap it
            with locks[src]:
                if src not in signed:
                    signed[src] = self._sign(src, batch, shared=readers[src] > 1)
            return signed[src]

        # the flags section needs the batch ids' state buckets (a tiny
        # distinct-collect over a checkpointed signature table); kick it
        # onto a driver thread as soon as the first family of the
        # priority source (SOURCES order) has run its first action on
        # it, so it overlaps the per-family verification collects
        # instead of serializing after them
        kicker = next(f for f in fams if f.source is sources[0])
        kbs: list[DriverThreads] = []

        def kick(f: Family) -> None:
            if f is kicker:
                ids = signed[f.source].ids
                kbs.append(DriverThreads(spark, [lambda: self._bucket_ids(ids, [idc])]))

        # each family section is an independent sub-DAG (2-3 driver
        # actions: sizing agg, verification-bucket collect, decode
        # counters) sharing only the materialized signature checkpoint;
        # sections run on driver threads when several families are
        # configured, so their actions interleave across the executor
        # slots instead of serializing (the audio decode pass overlaps
        # the text families). Results merge in canonical family order to
        # keep outputs deterministic.
        sections = [
            partial(self._section, spark, f, batch, batch_id, sign, kick)
            for f in fams
        ]
        if len(sections) == 1:
            results = [sections[0]()]
        else:
            results = DriverThreads(spark, sections).join()

        pair_parts: list[DataFrame] = []
        metric_rows: list[tuple] = []
        state_writes: list[tuple[DataFrame, str, list[str]]] = []
        for f, (parts_, mrows_, writes_) in zip(fams, results):
            if not any(w[1] == f.source.table for w in state_writes):
                # the source's own rows, ahead of its first family's
                s = signed[f.source]
                if s.n_bad:
                    metric_rows.append((f.source.bad_metric, s.n_bad, 0, 0))
                state_writes.append(
                    (s.rows.select(idc, *f.source.columns), f.source.table, [idc])
                )
            pair_parts.extend(parts_)
            metric_rows.extend(mrows_)
            state_writes.extend(writes_)

        pairs = reduce(DataFrame.unionByName, pair_parts)
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
        # the ids' buckets were collected from a CHECKPOINTED signature
        # table on a driver thread kicked inside the family sections —
        # by now the collect has been overlapping the verification work;
        # just join it
        (batch_kbs,) = kbs[0].join()
        for src in sources:
            h = self._history(spark, self._path(src.table), batch_id, batch_kbs)
            if h is None:
                continue
            if src.ok is not None:
                h = h.filter(src.ok(self))
            dup_sources.append(batch_ids.join(h.select(idc), idc, "leftsemi"))
        dup_ids = (
            reduce(DataFrame.unionByName, dup_sources)
            .distinct()
            .withColumn("_dup", F.lit(True))
        )
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
        DriverThreads(spark, [
            lambda: write(pairs, _join_path(self.output_path, "pairs")),
            lambda: write(metrics, _join_path(self.output_path, "metrics")),
        ]).join()
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
        DriverThreads(spark, [
            lambda: write(flags, _join_path(self.output_path, "flags")),
            *(
                lambda df=df, t=t, kb=kb_cols: write_state(df, self._path(t), kb)
                for df, t, kb_cols in state_writes
            ),
        ]).join()


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
    keep-first). The analogue of Iceberg's ``rewrite_data_files``.
    Tree to tree and out-of-place: reads the state tree ``state_path``,
    writes ``out_path``; ``maybe_compact_state`` publishes the result as
    the root's next version.

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
    fs, jcur = _hadoop_fs(spark, _join_path(state_path, "CURRENT"))
    if fs.exists(jcur):
        raise ValueError(
            f"{state_path} is a pointer root, not a state tree — compacting "
            f"it would read zero tables and report success; use "
            f"maybe_compact_state()"
        )
    meta = read_committed(spark, _join_path(state_path, "meta", "meta.json"))
    if meta is not None:
        commit_small_text(spark, _join_path(out_path, "meta", "meta.json"), meta)
    for sub, keys in _state_tables(id_col).items():
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


def _n_state_batches(spark: SparkSession, state_path: str) -> int | None:
    """Number of ``_batch_id=`` partitions in the state's signature
    table (text, else audio, else embedding) — None if no state exists
    yet. A pure FS-metadata probe."""
    for sub in (src.table for src in SOURCES):
        fs, probe_dir = _hadoop_fs(spark, _join_path(state_path, sub))
        if fs.exists(probe_dir):
            return sum(
                1
                for st in fs.listStatus(probe_dir)
                if st.isDirectory()
                and st.getPath().getName().startswith("_batch_id=")
            )
    return None


def maybe_compact_state(
    spark: SparkSession,
    state_path: str,
    *,
    upto_batch: int,
    min_batches: int = 8,
    id_col: str = "clip_id",
) -> bool:
    """Compact the state root IF its live tree has accumulated >=
    ``min_batches`` batch partitions (small-file growth is otherwise
    unbounded under a long-running stream): ``compact_state`` writes the
    next version out of place, ``CURRENT`` flips to it, the old tree is
    deleted (``hadoop_fs.publish_next`` — crash-safe on every scheme,
    object stores included). Orphan trees of a crashed attempt are swept
    even when the threshold then says no. Run only while the stream is
    stopped (``Trigger.AvailableNow`` between invocations), which is
    also required for correctness of ``upto_batch``. Returns True iff a
    compaction happened."""

    def write(live: str, nxt: str) -> bool:
        n_batches = _n_state_batches(spark, live)
        if n_batches is None or n_batches < min_batches:
            return False
        compact_state(spark, live, nxt, upto_batch=upto_batch, id_col=id_col)
        return True

    return publish_next(spark, state_path, write)


def run_incremental_near_dup(
    spark: SparkSession,
    input_path: str,
    schema: str,
    state_path: str,
    output_path: str,
    checkpoint_path: str,
    compact_min_batches: int | None = None,
    **kwargs,
):
    """Structured Streaming file-source wrapper, AvailableNow trigger —
    same resumable-batch shape as ``run_incremental_dedup``.

    ``compact_min_batches``: after the trigger drains (stream stopped),
    auto-compact the state once it holds that many batch partitions —
    ``upto_batch`` is the just-committed next batch id, which is exactly
    the enforced-safety contract of ``compact_state``."""
    handler = IncrementalNearDup(state_path, output_path, **kwargs)
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
            maybe_compact_state(
                spark,
                state_path,
                upto_batch=int(progress["batchId"]) + 1,
                min_batches=compact_min_batches,
                id_col=handler.id_col,
            )
    return q

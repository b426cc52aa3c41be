"""The flagship near-duplicate detection + clustering pipeline.

Two shapes (both checkpointed Parquet/Iceberg stages, resumable):

  staged (default; per-family resume granularity):

  clips ──> signatures  (ONE scan + ONE normalize: MinHash sigs + shingles
         │               + SimHash + winnowed substring grams + full-text
         │               hash, all from one narrow mapInPandas —
         │               operators/signatures.py; round 2 paid ~4 separate
         │               scan+normalize passes here, the measured
         │               memory-bandwidth bottleneck)
         │      ├─> exact_pairs     (full-transcript tkey buckets)
         │      ├─> minhash_pairs   (LSH bands -> Jaccard verify)
         │      ├─> simhash_pairs   (bit bands -> inline Hamming filter)
         │      └─> substring_pairs (winnowed gram buckets)
         ├─> audio_pairs   (include_audio_pass only)
         ├─> exact_hashes  (paragraph sha1-u64 groupBy — the cc_net build-side
         │                  artifact; paragraph granularity, so it scans clips)
         └────────────> clusters (pair tables unioned inline -> alt-star CC)

  fused (fused_pairs=True; fewest materializations):

  clips ──> signatures ──> edges (all four text families in ONE bucket
         │                        join, + audio_pairs when on) ──> clusters
         └─> exact_hashes  (include_exact_hashes, as above)

Both shapes build their text pairs from the same family definitions
(``operators/families.py``): each staged pair stage is the one bucket
join over its own family, the fused edges stage the same join over all
four — one exchange of bucket rows, one self-join, one pair distinct.

The staged shape writes no edges table: CC's round-0 checkpoint already
materializes the canonical edge set, and the pair tables stay the resume
points. The fused shape keeps its edges stage — the single
materialization that protects CC's sizing count from recomputing all
four pair families.

Skew handling: every text family runs through the capped bucket join
(``operators/pairs.py``), and its drop counters land in the stage
manifest (``pairgen``; ``<family>_pairgen`` in the fused edges stage).
SimHash is not salted: salting only ever touched buckets between
bucket_cap/4 and the bucket_cap ceiling, whose at most cap*(cap-1)/2
pairs (19 900 at 200) are never a straggler, and it cost two extra
exchanges. AQE skew-join splitting covers the verification joins.

Column pruning: the audio ``bytes`` column is touched by NO text stage —
all stages select explicit text/metadata columns, so Parquet never reads
the payload (verify via ``.explain``: ReadSchema excludes ``bytes``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_net_spark.operators import exact_dedup as ed
from cc_net_spark.operators.connected_components import assign_clusters, connected_components
from cc_net_spark.operators.families import TextFamily, family_pairs, text_families
from cc_net_spark.operators.signatures import fused_signatures
from cc_net_spark.plans.dag import Stage, StageRunner, read_manifest


@dataclass
class NearDupConfig:
    id_col: str = "clip_id"
    text_col: str = "transcript"
    shingle_size: int = 5
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4
    jaccard_threshold: float = 0.5
    max_hamming: int = 4
    # SimHash features: word n-grams (3) rather than the unigram multiset.
    # A 64-bit unigram SimHash of a long document fingerprints its word
    # DISTRIBUTION — unrelated docs over a shared vocabulary land within
    # Hamming<=4 of each other and transitively merge into mega-clusters
    # (bench corpus: 1240 cross-cluster pairs per 2000 docs; pair
    # precision 0.013). Trigram features decorrelate unrelated text while
    # keeping exact/normalization duplicates at Hamming 0 (measured: 0
    # cross-cluster pairs, all planted exact pairs retained). 1 restores
    # the historical unigram basis for A/Bs.
    simhash_ngram: int = 3
    # gram length 30 + winnow window 21 => substring detection guaranteed
    # for shared runs >= 50 chars, with ~10x fewer shuffled gram rows
    substring_length: int = 30
    winnow_window: int = 21
    bucket_cap: int = 200
    gram_cap: int = 100
    # fused_pairs=True computes all pair families inside ONE 'edges' stage
    # (one materialization instead of five): fewer actions and fewer
    # checkpoints — the right shape when stage-level resume granularity
    # matters less than latency. include_exact_hashes toggles the cc_net
    # hash-table artifact stage (not consumed by clustering).
    fused_pairs: bool = False
    include_exact_hashes: bool = True
    # cluster-profile metrics (n_clusters distinct count) cost two extra
    # Spark jobs on the final table — opt-in (manifests already carry
    # per-partition row counts for free from the Parquet footers)
    collect_metrics: bool = False
    # multimodal fusion: also generate AUDIO-payload near-dup edges
    # (occupancy-fingerprint buckets -> PCM-SNR verify) and union them
    # into the cluster graph. Off by default: requires the bytes column.
    include_audio_pass: bool = False
    audio_min_snr_db: float = 30.0
    # keep_shingles=False is the EXTREME-SCALE configuration: the
    # signatures table stores no shingle arrays (its dominant bytes) and
    # MinHash candidates verify on SIGNATURE-estimated Jaccard (fraction
    # of agreeing minhashes, +-~1/sqrt(num_perm)) instead of the exact
    # shingle-set Jaccard. Same candidates, ~5x smaller signature table.
    keep_shingles: bool = True
    # durable CC checkpointing (cluster runs): per-round parquet under
    # this dir instead of executor-local blocks (SURVEY §7.1 step 5 —
    # a lost executor must not force recomputing a truncated lineage).
    # None keeps the single-box localCheckpoint default.
    cc_checkpoint_dir: str | None = None
    # >1 runs independent stages (the four pair families) concurrently
    # from driver threads — Spark interleaves their jobs across executor
    # slots, overlapping the per-stage driver barriers (see
    # StageRunner.run). 1 keeps the fully sequential order.
    max_parallel_stages: int = 1
    # int_ids: run the pair families + CC over a FIXED-WIDTH surrogate id
    # (sid = xxhash64(clip_id), added JVM-side to the signatures table)
    # instead of the string clip_id, mapping back to strings in one
    # long-keyed join at the clusters stage. Variable-width string keys
    # pay per-row length-prefixed compares in every SMJ sort and hash in
    # every exchange of every band/gram/pair table — the job's dominant
    # shuffled rows (measured: the substring pair stage alone runs ~20%
    # faster on long ids at 120k clips; shuffle BYTES barely move there
    # only because the synthetic "clip-%09d" ids are maximally
    # lz4-compressible — real-world URL/UUID ids are not). Collision
    # math at 10^12 clips: ~N^2/2^65 ≈ 27 expected colliding id pairs,
    # each spuriously merging two docs — the same risk class as the
    # reference's 64-bit sha1 doc keys (cc_net/flat_hash_set.py).
    # Output schema becomes (clip_id string, cluster_id long) — cluster
    # labels are min-sid per component (deterministic; label-agnostic
    # consumers only). Default off: the driver gate queries assert
    # min-string labels.
    int_ids: bool = False
    # Input-contract enforcement for the documented "clip_id is a key"
    # requirement (assume_unique pair paths and int_ids both rely on it;
    # a violating corpus fails SILENTLY — dup ids corrupt bucket caps and
    # pair dedup, null ids collapse onto one sid node under int_ids).
    #   "observe"  (default): null-id count rides the signatures write as
    #              an Observation — ZERO extra jobs/scans; any null id
    #              fails the stage loudly, and the row count lands in the
    #              stage manifest.
    #   "strict":  additionally runs ONE count vs count(distinct) agg
    #              over the id column before the pipeline and fails on
    #              duplicates. A real (if bounded) extra aggregation at
    #              10^12 rows — opt-in for corpora of unknown provenance.
    #   "none":    trust the contract (the incremental handler, which
    #              dedups its own batches, uses this).
    validate_ids: str = "observe"


def _sig_params(cfg: NearDupConfig) -> str | None:
    """Config fingerprint for the signatures stage checkpoint: every
    field that changes the table's CONTENT must appear here, or a
    resumed workdir would silently serve a stale table after a config
    flip (the Stage.params contract, plans/dag.py). Absence of a field
    in the fingerprint must mean the HISTORICAL content of checkpoints
    written before that field existed: pre-trigram workdirs hold
    UNIGRAM SimHash under params=None, so the trigram default (3) must
    emit its value — otherwise a resumed workdir silently serves the
    over-merging unigram signatures the trigram change exists to fix —
    while an explicit ngram=1 run stays resumable against them."""
    parts = [
        p
        for p in (
            "int_ids=True" if cfg.int_ids else None,
            f"simhash_ngram={cfg.simhash_ngram}"
            if cfg.simhash_ngram != 1
            else None,
        )
        if p
    ]
    return ",".join(parts) or None


def build_stages(
    clips_path: str, cfg: NearDupConfig, workdir: str | None = None
) -> list[Stage]:
    idc, txt = cfg.id_col, cfg.text_col

    def load_clips(spark: SparkSession, *cols: str, kernel: bool = False) -> DataFrame:
        # explicit projection => Parquet never reads the audio payload.
        # CONTRACT: the clips table's id column is a key (input_hint
        # schema) — one row per clip_id. The pair stages' assume_unique
        # paths count on it; a corpus with repeated ids must be deduped
        # upstream (the incremental handler does so per batch).
        # parquet_meta.read_parquet: schema from ONE driver-side footer
        # read => no footer-inference Spark job per stage that opens clips.
        # kernel=True: the scan feeds a Python kernel, so its splits are
        # compute-sized (kernel_scan_session); JVM-only reads keep
        # Spark's IO-sized splits.
        from cc_net_spark.sources.parquet_meta import read_parquet

        if kernel:
            spark = kernel_scan_session(spark, clips_path)
        return read_parquet(spark, clips_path).select(*(cols or (idc, txt)))

    def stage_exact_hashes(spark: SparkSession) -> DataFrame:
        clips = load_clips(spark, kernel=True)
        return ed.build_hashes(ed.paragraph_hashes(clips, txt, idc))

    def stage_signatures(spark: SparkSession) -> DataFrame:
        # THE one corpus scan: every downstream pair family reads this table
        sig = fused_signatures(
            load_clips(spark, kernel=True), txt, idc,
            shingle_size=cfg.shingle_size, num_perm=cfg.num_perm,
            keep_shingles=cfg.keep_shingles,
            substring_length=cfg.substring_length,
            winnow_window=cfg.winnow_window,
            simhash_ngram=cfg.simhash_ngram,
        )
        if cfg.int_ids:
            # surrogate id, JVM-side (whole-stage codegen, no UDF cost);
            # 8 bytes/row in the signatures parquet
            sig = sig.withColumn("sid", F.xxhash64(F.col(idc)))
        if cfg.validate_ids == "none":
            return sig
        # null-id contract check riding the stage's own write action
        # (validate_ids="observe"): zero extra jobs. The returned metric
        # callable resolves AFTER the write and raises on violation —
        # the stage fails loudly instead of feeding null ids downstream.
        from pyspark.sql import Observation

        obs = Observation()
        sig = sig.observe(
            obs,
            F.count(F.lit(1)).alias("n_ids"),
            F.sum(F.col(idc).isNull().cast("long")).alias("null_ids"),
        )

        def _check() -> dict:
            try:
                m = dict(obs.get)
            except Exception:
                # AQE empty-relation pruning can drop the observed
                # subtree on an empty source — nothing to validate then
                return {"n_ids": 0, "null_ids": 0}
            if m.get("null_ids"):
                raise ValueError(
                    f"input violates the id contract: {m['null_ids']} NULL "
                    f"{idc} values (clips table must have one non-null "
                    f"{idc} per row; see NearDupConfig.validate_ids)"
                )
            m["null_ids"] = m.get("null_ids") or 0
            return m

        return sig, {"id_validation": _check}

    families = text_families(cfg)
    # with int_ids the pair families run on the sid surrogate, so every
    # pair table and the CC graph are in sid space
    pair_id = "sid" if cfg.int_ids else idc

    def stage_family_pairs(family: TextFamily):
        def build(spark: SparkSession, signatures: DataFrame):
            pairs, resolve = family_pairs(signatures, [family], pair_id)
            return pairs, {"pairgen": lambda: resolve()[family.kind]}

        return build

    def stage_audio_pairs(spark: SparkSession):
        # the ONLY stage that reads the audio payload; returns
        # (pairs, drop-metrics) so the manifest records any capped
        # fingerprint buckets (no silent truncation)
        from cc_net_spark.multimodal.audio import audio_near_dup_pairs

        # the scan keeps its kernel splits but joins the caller's session:
        # an Observation resolves only in the session that runs the query,
        # and the fused edges write (runner's session) carries these pairs
        clips = in_session(load_clips(spark, idc, "codec", "bytes", kernel=True), spark)
        pairs, resolve = audio_near_dup_pairs(
            clips, idc, bucket_cap=cfg.bucket_cap, min_snr_db=cfg.audio_min_snr_db,
            with_metrics="observe",
        )
        out = pairs.select("id_a", "id_b")
        if cfg.int_ids:
            # audio pairs carry string clip ids; map into sid space
            # JVM-side so the edge union is type-homogeneous
            out = out.select(
                F.xxhash64("id_a").alias("id_a"), F.xxhash64("id_b").alias("id_b")
            )
        return out, {"pairgen": lambda: resolve().__dict__}

    def stage_edges(pairs: dict[str, DataFrame]) -> DataFrame:
        """Union of pair tables keyed by family, each row tagged with it."""
        return reduce(
            DataFrame.unionByName,
            (
                df.select("id_a", "id_b", F.lit(kind).alias("kind"))
                for kind, df in pairs.items()
            ),
        )

    def _manifest_rows(spark: SparkSession, stage_name: str) -> int | None:
        m = read_manifest(spark, workdir, stage_name) if workdir else None
        return m["rows"] if m else None

    def _cluster_edges(spark: SparkSession, edges: DataFrame, edge_count: int | None) -> DataFrame:
        # no pre-distinct: connected_components canonicalizes + dedups
        # once internally (the old pre-distinct paid a SECOND full
        # shuffle of the edge set, before orientation so it couldn't
        # even dedup (a,b)/(b,a) twins), and its driver union-find path
        # needs no dedup at all (union on a duplicate edge is a no-op)
        comp = connected_components(
            edges.select("id_a", "id_b"),
            edge_count=edge_count,
            checkpoint_dir=cfg.cc_checkpoint_dir,
        )
        if cfg.int_ids:
            # comp is in sid space; recompute each clip's sid JVM-side
            # (no dict join) and map back in ONE long-keyed left join —
            # comp holds only edge-touched nodes, singletons coalesce to
            # their own sid. cluster_id stays the long min-sid label.
            ids = load_clips(spark).select(
                idc, F.xxhash64(F.col(idc)).alias("_sid")
            )
            joined = ids.join(comp.withColumnRenamed("id", "_sid"), "_sid", "left")
            return joined.select(
                F.col(idc),
                F.coalesce("cluster_id", F.col("_sid")).alias("cluster_id"),
            )
        ids = load_clips(spark).select(idc)
        return assign_clusters(ids, comp, idc)

    def stage_clusters(spark: SparkSession, edges: DataFrame) -> DataFrame:
        # the edges stage manifest already knows its row count (an upper
        # bound on distinct canonical edges) — pass it down so the CC
        # operator can skip its sizing count() job
        return _cluster_edges(spark, edges, _manifest_rows(spark, "edges"))

    def stage_clusters_from_pairs(
        spark: SparkSession, **pair_tables: DataFrame
    ) -> DataFrame:
        # staged shape: the pair tables are unioned inline (no edges
        # table, see the module docstring). Their manifests' row sum is
        # an upper bound on distinct canonical edges, so the CC sizing
        # count() is still skipped when they are all known.
        edges = stage_edges(
            {name.removesuffix("_pairs"): df for name, df in pair_tables.items()}
        )
        rows = [_manifest_rows(spark, name) for name in pair_tables]
        edge_count = sum(rows) if all(r is not None for r in rows) else None
        return _cluster_edges(spark, edges, edge_count)

    def dup_ratio(df: DataFrame) -> dict:
        agg = df.agg(F.count(F.lit(1)).alias("n")).collect()[0]
        n_clusters = df.select("cluster_id").distinct().count()
        return {"n_rows": agg["n"], "n_clusters": n_clusters}

    def stage_edges_fused(spark: SparkSession, signatures: DataFrame):
        edges, resolve = family_pairs(signatures, families, pair_id)
        metrics = {
            f"{f.kind}_pairgen": partial(lambda k: resolve()[k], f.kind)
            for f in families
        }
        if cfg.include_audio_pass:
            audio, audio_metrics = stage_audio_pairs(spark)
            edges = edges.unionByName(audio.selectExpr("id_a", "id_b", "'audio' AS kind"))
            metrics["audio_pairgen"] = audio_metrics["pairgen"]
        return edges, metrics

    metrics_fn = dup_ratio if cfg.collect_metrics else None
    ext = [clips_path]
    head = [
        *(
            [Stage("exact_hashes", stage_exact_hashes, external_inputs=ext)]
            if cfg.include_exact_hashes
            else []
        ),
        Stage("signatures", stage_signatures, external_inputs=ext,
              params=_sig_params(cfg)),
    ]
    if cfg.fused_pairs:
        return [
            *head,
            # the fused edges stage reads only the signatures table for the
            # text families; the audio pass (if enabled) reads clips too
            Stage("edges", stage_edges_fused, inputs=["signatures"], external_inputs=ext),
            Stage(
                "clusters",
                stage_clusters,
                inputs=["edges"],
                external_inputs=ext,
                metrics_fn=metrics_fn,
            ),
        ]
    pair_stages = [
        *(
            Stage(f"{f.kind}_pairs", stage_family_pairs(f), inputs=["signatures"])
            for f in families
        ),
        *(
            [Stage("audio_pairs", stage_audio_pairs, external_inputs=ext)]
            if cfg.include_audio_pass
            else []
        ),
    ]
    return [
        *head,
        *pair_stages,
        Stage(
            "clusters",
            stage_clusters_from_pairs,
            inputs=[st.name for st in pair_stages],
            external_inputs=ext,
            metrics_fn=metrics_fn,
        ),
    ]


def _input_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of an input table (cheap listing, no data IO)."""
    if "://" in str(path):
        from cc_net_spark.sources.hadoop_fs import hadoop_fs

        fs, jp = hadoop_fs(spark, str(path))
        return fs.getContentSummary(jp).getLength()
    from pathlib import Path

    p = Path(path)
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def tuned_scan_conf(spark: SparkSession, total_bytes: int, waves: int = 3) -> dict:
    """Compute-sized scan splits for Python-kernel-heavy scans.

    Spark's default file bin-packing sizes splits for IO (128 MB +
    a 4 MB per-file open cost) — right for JVM columnar scans, wrong for
    scans feeding an Arrow/pandas kernel whose cost is ~10x the compressed
    bytes: a small corpus packs into barely more splits than cores
    (measured: a 17 MB/14-file corpus -> 7 splits at 8 cores), so the
    stage runs one unbalanced wave and the tail straggler is pure idle
    time. Target ``waves`` task waves per executor slot instead; the
    split never rises above Spark's 128 MB default, so at 100 TB this
    returns the default IO-sized behavior (the rule only bites when input
    is small relative to the cluster — exactly when balance, not
    per-task overhead, dominates).

    The balance is not free. Each Python task used to cost a fixed
    ~0.29 s, nearly all of it the worker re-reading the directories of
    ``pyspark.zip`` and the other archives on its path at task start;
    with those re-reads skipped (``cc_net_spark.worker_imports``) an
    identity mapInPandas over 1/4/16/64 partitions takes
    0.15/0.22/0.42/1.13 s on a 4-core VM (0.34/0.44/1.22/4.63 s before;
    0.07-0.13 s for the same JVM-only job), so ``waves=3`` costs about
    0.15 s of fixed wall time on a small input — a price only a Python
    kernel's compute repays. The rule therefore applies only to scans
    that feed one (``kernel_scan_session``); a JVM read split this way
    just runs more empty and tiny tasks."""
    slots = spark.sparkContext.defaultParallelism
    split = min(128 << 20, max(256 << 10, total_bytes // max(1, waves * slots)))
    return {
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.files.openCostInBytes": str(min(4 << 20, split // 4)),
    }


def kernel_scan_session(spark: SparkSession, path: str) -> SparkSession:
    """A clone of ``spark`` whose file scans split by ``tuned_scan_conf``
    for the table at ``path``. A file scan takes its split sizes from the
    session that created it, so a DataFrame read through the clone
    carries the tuned splits while every other read (the stage tables,
    the clips id scans) keeps Spark's defaults — also when stages run
    concurrently from driver threads, which a session-wide setting
    cannot scope."""
    conf = tuned_scan_conf(spark, _input_bytes(spark, path))
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession(), conf)


def in_session(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark``. A file scan keeps the
    split sizes of the session that read it (the relation carries that
    session), while Observations built on the result register with
    ``spark``."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark)


def run_near_dup_pipeline(
    spark: SparkSession,
    clips_path: str,
    workdir: str,
    cfg: NearDupConfig | None = None,
    force: bool = False,
) -> tuple[DataFrame, dict]:
    """Run (or resume) the full pipeline; returns (clusters_df, manifests)."""
    cfg = cfg or NearDupConfig()
    if cfg.validate_ids == "strict":
        # one aggregation over the id column, BEFORE any stage commits:
        # duplicate ids silently corrupt every assume_unique pair path
        # (see NearDupConfig.validate_ids). count_distinct is a real
        # shuffle at corpus scale — that is the price of "strict".
        from cc_net_spark.sources.parquet_meta import read_parquet

        row = (
            read_parquet(spark, clips_path)
            .select(cfg.id_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(cfg.id_col).alias("n_nonnull"),
                F.countDistinct(cfg.id_col).alias("n_distinct"),
            )
            .collect()[0]
        )
        if row["n"] != row["n_nonnull"] or row["n_nonnull"] != row["n_distinct"]:
            raise ValueError(
                f"input violates the id contract: {row['n']} rows, "
                f"{row['n'] - row['n_nonnull']} null and "
                f"{row['n_nonnull'] - row['n_distinct']} duplicate "
                f"{cfg.id_col} values (must be a unique non-null key; "
                f"see NearDupConfig.validate_ids)"
            )
    runner = StageRunner(spark, workdir)
    manifests = runner.run(
        build_stages(clips_path, cfg, workdir),
        force=force,
        max_parallel=cfg.max_parallel_stages,
    )
    return runner.load("clusters"), manifests

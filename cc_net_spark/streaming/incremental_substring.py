"""Incremental substring pass — batch-over-snapshots (SURVEY.md §2.10).

The streaming near-dup handler (``incremental_neardup.py``) deliberately
excludes the substring family: its gram state is ~len(text)/10 rows per
doc, which at 10^12 docs is a corpus-scale table of its own. The
documented alternative is this SCHEDULED job: a StageRunner pass over the
append-only sharded corpus where

* each shard gets its own ``grams_<shard>`` stage, fingerprinted on the
  shard's files (``plans/dag.py`` content fingerprints) — a re-run after
  a shard append recomputes the expensive text-scan+rolling-hash ONLY
  for new/changed shards; untouched shards skip via their manifests,
* the pair stage bucket-joins the union of the (winnowed, ~10x smaller)
  per-shard gram tables — it re-runs whenever any gram input changed,
  but touches gram tables, never text,
* the optional verify stage re-reads just the candidate docs (a
  candidate-id join against the corpus) for the exact suffix-array /
  rolling-hash overlap length.

Reference anchor: cc_net's file-level idempotence (skip-if-output-exists,
``cc_net/mine.py:254-257,312-321``) applied to the graft's substring
family; every stage commits through the StageRunner's manifest commit.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from cc_net_spark.operators.pairs import candidate_pairs
from cc_net_spark.operators.substring import (
    doc_window_grams,
    verify_overlap_length,
)
from cc_net_spark.plans.dag import Stage, StageRunner


def incremental_substring_pass(
    spark: SparkSession,
    workdir: str | Path,
    corpus_root: str | Path,
    *,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    length: int = 30,
    winnow_window: int = 21,
    gram_cap: int = 100,
    min_length: int | None = None,
    verify: bool = True,
) -> dict[str, dict]:
    """Run (or resume) the pass over every ``<corpus_root>/<shard>/`` dir.

    Returns the StageRunner manifests; stages skipped via unchanged
    fingerprints carry ``skipped: True``. Detection guarantee: shared
    runs of length >= ``length + winnow_window - 1`` (the winnowing
    contract); ``min_length`` defaults to exactly that.

    ``corpus_root`` may be a scheme URI (s3a/hdfs/abfs) — shard listing
    and the external fingerprints go through the Hadoop FS API (pathlib
    would mangle the scheme and report remote shards missing); the
    StageRunner ``workdir`` stays a local/driver-visible path."""
    root = str(corpus_root)
    if "://" in root:
        from cc_net_spark.sources.hadoop_fs import hadoop_fs

        fs, jpath = hadoop_fs(spark, root)
        shards = sorted(
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and not st.getPath().getName().startswith("_")
        )
        def shard_path(name: str) -> str:
            return f"{root.rstrip('/')}/{name}"
    else:
        corpus_root = Path(corpus_root)
        shards = sorted(
            p.name
            for p in corpus_root.iterdir()
            if p.is_dir() and not p.name.startswith("_")
        )
        def shard_path(name: str) -> str:
            return str(corpus_root / name)
    if not shards:
        raise ValueError(f"no shard directories under {corpus_root}")
    runner = StageRunner(spark, workdir)

    stages: list[Stage] = []
    for s in shards:
        path = shard_path(s)

        def build_grams(spark: SparkSession, _p: str = path) -> DataFrame:
            return doc_window_grams(
                spark.read.parquet(_p),
                text_col,
                id_col,
                length=length,
                winnow_window=winnow_window,
            )

        stages.append(
            Stage(f"grams_{s}", build_grams, external_inputs=[path])
        )
    gram_names = [f"grams_{s}" for s in shards]

    def build_pairs(spark: SparkSession, **gram_dfs: DataFrame):
        union = reduce(DataFrame.unionByName, gram_dfs.values())
        # per-shard gram tables are unique per (gram, id), but the UNION
        # is not structurally so: a doc re-delivered/rewritten into a
        # later shard appears twice, and duplicate rows would inflate
        # bucket sizes across the cap boundary — keep the defensive
        # dedup here (unlike the one-scan pipeline, whose signatures
        # table is keyed)
        pairs, resolve = candidate_pairs(
            union, ["gram"], id_col, bucket_cap=gram_cap, with_metrics="observe"
        )
        # standard PairGenMetrics keys under "pairgen", matching every
        # other pair stage's manifest shape
        return pairs, {"pairgen": lambda: resolve().__dict__}

    stages.append(Stage("substring_pairs", build_pairs, inputs=gram_names))

    if verify:
        effective_min = (
            min_length
            if min_length is not None
            else length + max(winnow_window, 1) - 1
        )

        def build_verify(
            spark: SparkSession, substring_pairs: DataFrame
        ) -> DataFrame:
            corpus = spark.read.option("recursiveFileLookup", "true").parquet(
                root
            )
            return verify_overlap_length(
                substring_pairs,
                corpus,
                text_col,
                id_col,
                min_length=effective_min,
            )

        stages.append(
            Stage(
                "substring_overlaps",
                build_verify,
                inputs=["substring_pairs"],
                external_inputs=[str(corpus_root)],
            )
        )
    return runner.run(stages)

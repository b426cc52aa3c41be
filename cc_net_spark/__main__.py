"""``python -m cc_net_spark`` — the reference's CLI surface
(``cc_net/__main__.py:13-14`` routes to mine; ``cc_net/jsonql.py:1338``
is the ad-hoc surface), re-expressed over Spark:

    python -m cc_net_spark mine --input docs.parquet --output out/ \
        [--text-col raw_content] [--id-col doc_id] [--langs en,de] \
        [--keep-tail]
    python -m cc_net_spark jsonql where '{lang}=="en"' -- select doc_id \
        --file in.jsonl --output out.parquet
    python -m cc_net_spark neardup --input shards/ --state state/ \
        --output out/ --checkpoint ckpt/ [--clusters-state cstate/] \
        [--compact-upto N] [--compact-clusters-upto N]

`mine` runs the reference's default pipeline (dedup -> lid -> keep_lang
-> sp -> lm -> pp_bucket -> drop -> minify -> split_by_lang,
``cc_net/mine.py:36-45``) and writes docs partitioned by (lang, bucket)
plus the minified metadata table at ``<output>/metadata``.
"""

from __future__ import annotations

import argparse
import sys


def _mine(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="cc_net_spark mine")
    p.add_argument("--input", required=True, help="input docs parquet")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--text-col", default="raw_content")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--langs", default=None, help="comma-separated keep_lang list")
    p.add_argument("--keep-tail", action="store_true",
                   help="do not drop the tail perplexity bucket")
    p.add_argument("--lid-model", default=None)
    p.add_argument("--sp-model", default=None)
    p.add_argument("--lm-model", default=None)
    a = p.parse_args(argv)

    from cc_net_spark.plans.mine import mine
    from cc_net_spark.session import get_spark

    spark = get_spark(app_name="cc_net_spark_mine")
    docs = spark.read.parquet(a.input)
    out = mine(
        spark, docs,
        text_col=a.text_col, id_col=a.id_col,
        langs=a.langs.split(",") if a.langs else None,
        drop_tail=not a.keep_tail,
        lid_model=a.lid_model, sp_model=a.sp_model, lm_model=a.lm_model,
        output_path=f"{a.output}/docs",
    )
    out["metadata"].write.mode("overwrite").parquet(f"{a.output}/metadata")
    print(f"mine: wrote {a.output}/docs (split by lang/bucket) and "
          f"{a.output}/metadata")


def _neardup(argv: list[str]) -> None:
    """Incremental near-dup over arriving JSONL shards: Structured
    Streaming with an AvailableNow trigger — processes everything present,
    checkpoints, stops; re-invoking resumes where it left off. With
    ``--compact-upto N`` runs the state-compaction maintenance job
    instead (N = the stream checkpoint's next batch id)."""
    p = argparse.ArgumentParser(prog="cc_net_spark neardup")
    p.add_argument("--input", help="input dir of JSONL shard files")
    p.add_argument("--state", default=None,
                   help="persistent LSH state dir (required except for a "
                        "clusters-only compaction)")
    p.add_argument("--output", help="pairs/flags/metrics output dir")
    p.add_argument("--checkpoint", help="stream checkpoint dir")
    p.add_argument("--schema", default="clip_id string, transcript string")
    p.add_argument("--text-col", default="transcript")
    p.add_argument("--id-col", default="clip_id")
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--bucket-cap", type=int, default=200)
    p.add_argument("--families", default="minhash",
                   help="comma list of pair families: minhash,simhash,exact,"
                        "audio,embedding (audio needs codec/bytes columns "
                        "in --schema; embedding needs --emb-dim and an "
                        "array<float> column in --schema)")
    p.add_argument("--emb-col", default="embedding",
                   help="embedding family: vector column name")
    p.add_argument("--emb-dim", type=int, default=None,
                   help="embedding family: vector dimension (required "
                        "when the family is enabled)")
    p.add_argument("--emb-threshold", type=float, default=0.95,
                   help="embedding family: min exact cosine")
    p.add_argument("--audio-threshold", type=float, default=0.5,
                   help="audio family: min word-set Jaccard")
    p.add_argument("--audio-max-hamming", type=int, default=8,
                   help="audio family: max waveform-sketch Hamming")
    p.add_argument("--state-buckets", type=int, default=64,
                   help="key-hash buckets of the state layout (pinned "
                        "into the state dir on first use; probes prune "
                        "on them)")
    p.add_argument("--audio-exact-verify", action="store_true",
                   help="bounded PCM-SNR re-read of matched clips "
                        "(needs --clips-source)")
    p.add_argument("--clips-source", default=None,
                   help="corpus table holding history clip bytes for "
                        "--audio-exact-verify")
    p.add_argument("--compact-upto", type=int, default=None, metavar="N",
                   help="compact state batches < N into one partition, in "
                        "place (next version + CURRENT flip)")
    p.add_argument("--compact-clusters-upto", type=int, default=None,
                   metavar="N",
                   help="compact CLUSTER state batches < N in place "
                        "(collapses alias chains; requires "
                        "--clusters-state)")
    p.add_argument("--compact-min-batches", type=int, default=None,
                   metavar="K",
                   help="after the trigger drains, auto-compact the state "
                        "once it holds >= K batch partitions")
    p.add_argument("--clusters-state", default=None, metavar="DIR",
                   help="maintain incremental duplicate-CLUSTER state "
                        "(log-structured union-find) here: after the "
                        "trigger drains, every new output batch's pairs "
                        "are folded in via pruned state lookups, so "
                        "cluster assignments stay current batch-over-"
                        "batch (streaming/incremental_clusters.py)")
    p.add_argument("--small-batch-mode", action="store_true",
                   help="low-latency planning for micro-batches: AQE off "
                        "+ driver-side state listings during each batch "
                        "(~half the serial driver barriers; skew stays "
                        "bounded by the explicit bucket caps)")
    a = p.parse_args(argv)

    # validate BEFORE paying JVM/session startup
    if a.compact_clusters_upto is not None and a.clusters_state is None:
        p.error("--compact-clusters-upto requires --clusters-state")
    clusters_only = (
        a.compact_clusters_upto is not None and a.compact_upto is None
    )
    if a.state is None and not clusters_only:
        p.error("--state is required except for a clusters-only compaction")
    if a.compact_upto is None and a.compact_clusters_upto is None:
        for req in ("input", "output", "checkpoint"):
            if getattr(a, req) is None:
                p.error(f"--{req} is required unless --compact-upto or "
                        "--compact-clusters-upto is given")
        if "embedding" in a.families.split(",") and a.emb_dim is None:
            p.error("--emb-dim is required when the embedding family is enabled")

    from cc_net_spark.session import get_spark

    spark = get_spark(app_name="cc_net_spark_neardup")
    if a.compact_upto is not None or a.compact_clusters_upto is not None:
        if a.compact_upto is not None:
            from cc_net_spark.streaming.incremental_neardup import (
                maybe_compact_state,
            )

            did = maybe_compact_state(
                spark, a.state, upto_batch=a.compact_upto,
                min_batches=1, id_col=a.id_col,
            )
            print(f"neardup: state batches < {a.compact_upto} "
                  f"{'compacted' if did else 'had nothing to compact'} "
                  f"in place under {a.state}")
        if a.compact_clusters_upto is not None:
            from cc_net_spark.streaming.incremental_clusters import (
                compact_clusters_state,
            )

            did = compact_clusters_state(
                spark, a.clusters_state,
                upto_batch=a.compact_clusters_upto,
                id_col=a.id_col, n_state_buckets=a.state_buckets,
            )
            print(f"neardup: cluster-state batches < "
                  f"{a.compact_clusters_upto} "
                  f"{'compacted' if did else 'had nothing to compact'} "
                  f"in place under {a.clusters_state}")
        return
    from cc_net_spark.streaming.incremental_neardup import run_incremental_near_dup

    run_incremental_near_dup(
        spark, a.input, a.schema, a.state, a.output, a.checkpoint,
        compact_min_batches=a.compact_min_batches,
        text_col=a.text_col, id_col=a.id_col,
        threshold=a.threshold, bucket_cap=a.bucket_cap,
        families=tuple(a.families.split(",")),
        audio_threshold=a.audio_threshold,
        audio_max_hamming=a.audio_max_hamming,
        n_state_buckets=a.state_buckets,
        audio_exact_verify=a.audio_exact_verify,
        clips_source=a.clips_source,
        emb_col=a.emb_col, emb_dim=a.emb_dim, emb_threshold=a.emb_threshold,
        small_batch_mode=a.small_batch_mode,
    )
    print(f"neardup: processed available shards; outputs under {a.output} "
          f"(pairs/, flags/, metrics/), state under {a.state}")
    if a.clusters_state is not None:
        from cc_net_spark.streaming.incremental_clusters import fold_new_batches

        folded = fold_new_batches(
            spark, a.output, a.clusters_state,
            id_col=a.id_col, n_state_buckets=a.state_buckets,
        )
        print(f"neardup: folded {len(folded)} new batch(es) "
              f"{folded or ''} into cluster state {a.clusters_state}")


def main(argv: list[str] | None = None) -> None:
    argv = argv if argv is not None else sys.argv[1:]
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return
    cmd, rest = argv[0], argv[1:]
    if cmd == "mine":
        _mine(rest)
    elif cmd == "neardup":
        _neardup(rest)
    elif cmd == "jsonql":
        from cc_net_spark.jsonql_cli import main as jsonql_main

        jsonql_main(rest)
    else:
        raise SystemExit(f"unknown command: {cmd} (mine|jsonql|neardup)")


if __name__ == "__main__":
    main()

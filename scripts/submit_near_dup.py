"""spark-submit driver for the near-dup clustering pipeline.

The north rule's deployment shape: the engine ships as a ``--py-files``
zip (scripts/make_pyfiles.py) and this thin driver script runs the
flagship pipeline on whatever cluster ``spark-submit`` points it at —
the same code path the tests and bench run in-process.

    spark-submit --master <cluster> \
        --py-files dist/cc_net_spark.zip \
        scripts/submit_near_dup.py \
        --clips /data/clips --workdir /data/work --output /data/clusters

``--generate N`` synthesises the deterministic planted-duplicate corpus
first (smoke runs on a fresh cluster need no external data). The script
imports cc_net_spark only AFTER SparkSession construction, so the import
provably resolves from the --py-files artifact on executors and driver.
Prints ONE JSON summary line on success.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--clips", required=True, help="input clips parquet dir")
    ap.add_argument("--workdir", required=True, help="stage checkpoint dir")
    ap.add_argument("--output", required=True, help="clusters output parquet dir")
    ap.add_argument("--generate", type=int, default=0,
                    help="synthesise N clips into --clips first (smoke mode)")
    ap.add_argument("--fused", action="store_true",
                    help="fused shape: signatures -> edges -> clusters "
                         "(default: staged, one resumable stage per pair "
                         "family)")
    ap.add_argument("--keep-shingles", action="store_true", default=False,
                    help="store shingle arrays and verify exact Jaccard "
                         "(default: extreme-scale estimated-Jaccard mode)")
    ap.add_argument("--audio", action="store_true",
                    help="include the audio-payload near-dup pass")
    ap.add_argument("--force", action="store_true", help="ignore stage manifests")
    ap.add_argument("--snapshots", action="store_true",
                    help="commit stages through the snapshot table layer")
    ap.add_argument("--int-ids", action="store_true",
                    help="run pair families + CC over xxhash64 surrogate "
                         "longs (fixed-width shuffle keys; cluster_id "
                         "becomes the long min-sid label)")
    ap.add_argument("--validate-ids", choices=["observe", "strict", "none"],
                    default="observe",
                    help="id-contract enforcement: observe = free null "
                         "check on the signatures write (default), strict "
                         "= + one count-distinct agg rejecting duplicates, "
                         "none = trust upstream")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cc_net_spark.near_dup").getOrCreate()

    # import AFTER the session exists: resolves from --py-files
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
    from cc_net_spark.sources.synth import generate_clips

    if args.generate:
        generate_clips(spark, args.generate, with_audio=args.audio).write.mode(
            "overwrite"
        ).parquet(args.clips)

    cfg = NearDupConfig(
        fused_pairs=args.fused,
        keep_shingles=args.keep_shingles,
        include_audio_pass=args.audio,
        int_ids=args.int_ids,
        validate_ids=args.validate_ids,
    )
    clusters, manifests = run_near_dup_pipeline(
        spark,
        args.clips,
        args.workdir,
        cfg,
        force=args.force,
        use_snapshots=args.snapshots,
    )
    clusters.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    n_rows = out.count()
    n_clusters = out.select("cluster_id").distinct().count()
    print(json.dumps({
        "rows": n_rows,
        "n_clusters": n_clusters,
        "output": args.output,
        "stages": sorted(manifests),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""Per-stage wall-clock profile of the scaling-leg job.

Runs the scaling leg's pipeline config (``bench.py --leg``, audio-free
synth corpus) in the STAGED shape, so each pair family is its own stage,
at one core count in this process's own JVM, and prints the per-stage
``wall_seconds`` recorded in the StageRunner manifests — the feedback
loop for attacking the fixed (core-count-invariant) stage costs that
Amdahl-cap scaling efficiency.

Usage:
    python scripts/profile_stages.py <cores> <clips_parquet> [reps]

Generate the corpus once with:
    python scripts/profile_stages.py --gen <n_clips> <clips_parquet>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if sys.argv[1] == "--gen":
        n, path = int(sys.argv[2]), sys.argv[3]
        from cc_net_spark.session import get_spark
        from cc_net_spark.sources import synth

        spark = get_spark(app_name="profile_gen", master="local[32]")
        synth.generate_clips(
            spark, n, seed=42, with_audio=False, size_scale=3,
            partitions=64,
        ).write.mode("overwrite").parquet(path)
        spark.stop()
        print(json.dumps({"generated": n, "path": path}))
        return

    cores, clips_path = int(sys.argv[1]), sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    import bench

    spark = bench.make_spark(cores)
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline

    bench.warm_workers(spark, cores)
    cfg = NearDupConfig(
        jaccard_threshold=0.5, max_hamming=4,
        fused_pairs=False, include_exact_hashes=False,
        # mirror the scaling leg's config so profiles attribute the same
        # job the leg times (bench.run_leg defaults this to 0)
        keep_shingles=os.environ.get("SPARK_GRAFT_KEEP_SHINGLES", "0") == "1",
    )
    out = []
    for _ in range(reps):
        workdir = tempfile.mkdtemp(prefix=f"profile_stages_{cores}_")
        try:
            t0 = time.time()
            clusters, manifests = run_near_dup_pipeline(
                spark, clips_path, workdir, cfg
            )
            n = clusters.count()
            total = time.time() - t0
            out.append(
                {
                    "cores": cores,
                    "total": round(total, 3),
                    "rows": n,
                    "stages": {
                        k: m["wall_seconds"] for k, m in manifests.items()
                    },
                    "stage_bytes": {
                        k: sum(p["bytes"] for p in m["partitions"])
                        for k, m in manifests.items()
                        if "partitions" in m
                    },
                }
            )
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    for rec in out:
        print(json.dumps(rec))


if __name__ == "__main__":
    main()

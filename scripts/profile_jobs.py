"""Weather-independent profile of the scaling-leg job: Spark job count +
shuffle bytes per pipeline stage.

Wall-clock A/Bs on this VM are swamped by burst-credit throttling (2-3x
swings between back-to-back identical runs). Job count and shuffle
read/write bytes are DETERMINISTIC for a fixed plan, and they are the two
quantities that cap scaling efficiency: every Spark job is a serial
driver barrier (~0.1-0.5 s of unparallelizable latency), and shuffle
bytes are the cross-executor traffic a 1000-executor cluster pays for on
the network. Drive these down and the wall-clock follows in ANY weather.

Usage:
    python scripts/profile_jobs.py <cores> <clips_parquet>

Prints one JSON line per pipeline stage: jobs launched, tasks, shuffle
read/write MB, input MB (from the UI REST API, which local mode serves
on a random port — we read it via sc.uiWebUrl).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(base: str, app_id: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/{path}") as r:
        return json.loads(r.read().decode())


def main() -> None:
    cores, clips_path = int(sys.argv[1]), sys.argv[2]
    # mirror the scaling leg's config exactly (bench.run_leg defaults
    # keep_shingles to 0): a bare run must profile the plan the leg times
    os.environ.setdefault("SPARK_GRAFT_KEEP_SHINGLES", "0")
    import bench

    from cc_net_spark.session import get_spark

    # get_spark defaults spark.ui.enabled=false; the profiler needs the
    # UI's REST API, so extra_conf re-enables it. Shuffle partitions
    # follow bench.make_spark so profiled plans match benched plans.
    spark = get_spark(
        app_name="profile_jobs",
        master=f"local[{cores}]",
        shuffle_partitions=max(8, cores),
        extra_conf={"spark.ui.enabled": "true"},
    )
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app_id = sc.applicationId

    from cc_net_spark.plans.dag import StageRunner
    from cc_net_spark.plans.pipeline import NearDupConfig, build_stages

    bench.warm_workers(spark, cores)
    cfg = NearDupConfig(
        jaccard_threshold=0.5, max_hamming=4,
        fused_pairs=False, include_exact_hashes=False,
        keep_shingles=os.environ.get("SPARK_GRAFT_KEEP_SHINGLES", "1") == "1",
    )
    workdir = tempfile.mkdtemp(prefix=f"profile_jobs_{cores}_")
    try:
        stages = build_stages(clips_path, cfg, workdir)
        runner = StageRunner(spark, workdir)

        def snap():
            jobs = _api(base, app_id, "jobs")
            st = _api(base, app_id, "stages")
            return {
                "jobs": len(jobs),
                "stages": len(st),
                "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
                "shuffle_read_mb": round(
                    sum(s.get("shuffleReadBytes", 0) for s in st) / 1e6, 2
                ),
                "shuffle_write_mb": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in st) / 1e6, 2
                ),
                "input_mb": round(sum(s.get("inputBytes", 0) for s in st) / 1e6, 2),
            }

        prev = snap()
        for st in stages:
            runner.run([st])
            cur = snap()
            delta = {k: round(cur[k] - prev[k], 2) for k in cur}
            prev = cur
            print(json.dumps({"stage": st.name, **delta}))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

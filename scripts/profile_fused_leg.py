"""Driver-barrier profile of the FUSED scaling leg: per-Spark-job wall
plus the inter-job driver gap, via the UI REST API. The sum of gaps is
the core-count-invariant driver time (planning, AQE materialization
barriers, stage commits, py4j round trips) that caps scaling efficiency;
jobs themselves parallelize, gaps do not.

Usage: python scripts/profile_fused_leg.py <cores> <clips_parquet>
Env: SPARK_GRAFT_EXEC_CORES (default 1; executors mode like the leg),
     PROFILE_THREADS=1 for a plain local[N] session instead.
"""
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_KEEP_SHINGLES", "0")
os.environ.setdefault("SPARK_GRAFT_EXEC_CORES", "1")
import bench


def _api(base, app_id, path):
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/{path}") as r:
        return json.loads(r.read().decode())


def _ts(s):
    # Spark REST timestamps: 2026-08-20T12:34:56.789GMT
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def main():
    cores, clips = int(sys.argv[1]), sys.argv[2]
    executors = os.environ.get("PROFILE_THREADS", "0") != "1"
    from cc_net_spark.session import get_spark

    if executors:
        # mirror bench.make_spark's executor-mode env setup, plus the UI
        import pyspark

        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        os.environ.setdefault(
            "SPARK_WORKER_DIR",
            os.path.join(tempfile.gettempdir(), "cc_net_spark_lc_workers"),
        )
        os.makedirs(os.environ["SPARK_WORKER_DIR"], exist_ok=True)
        n_exec = max(1, cores // bench.EXEC_CORES)
        spark = get_spark(
            app_name="profile_fused",
            master=f"local-cluster[{n_exec},{bench.EXEC_CORES},{bench.EXEC_MEM_MB}]",
            shuffle_partitions=max(8, cores),
            extra_conf={
                "spark.ui.enabled": "true",
                "spark.executor.memory": f"{max(1024, bench.EXEC_MEM_MB - 1024)}m",
                "spark.executorEnv.PYTHONPATH": repo_root,
            },
        )
        bench._wait_executors(spark, n_exec)
    else:
        spark = get_spark(
            app_name="profile_fused",
            master=f"local[{cores}]",
            shuffle_partitions=max(8, cores),
            extra_conf={"spark.ui.enabled": "true"},
        )
    sc = spark.sparkContext
    base, app_id = sc.uiWebUrl, sc.applicationId
    bench.warm_workers(spark, cores)
    workdir = tempfile.mkdtemp(prefix="profile_fused_")
    t0 = time.time()
    try:
        bench.cluster_job(spark, clips, workdir)
    finally:
        wall = time.time() - t0
        shutil.rmtree(workdir, ignore_errors=True)
    jobs = sorted(_api(base, app_id, "jobs"), key=lambda j: j["jobId"])
    jobs = [j for j in jobs if j.get("completionTime")]
    stage_info = {
        s["stageId"]: {
            "name": s.get("name", "")[:60],
            "site": (s.get("details", "").splitlines() or [""])[0][:100],
            "tasks": s.get("numCompleteTasks", 0),
            "ms": s.get("executorRunTime", 0),
        }
        for s in _api(base, app_id, "stages")
    }
    spans = [(_ts(j["submissionTime"]), _ts(j["completionTime"]), j) for j in jobs]
    # ignore warmup jobs before the pipeline started
    spans = [s for s in spans if s[1] > t0]
    total_job = sum(b - a for a, b, _ in spans)
    prev_end = t0
    rows = []
    total_gap = 0.0
    for a, b, j in spans:
        gap = max(0.0, a - prev_end)
        total_gap += gap
        rows.append({
            "job": j["jobId"], "gap_before_s": round(gap, 2),
            "dur_s": round(b - a, 2), "tasks": j.get("numCompletedTasks"),
            "desc": (j.get("description") or j.get("name", ""))[:90],
            "stages": [
                stage_info[sid]
                for sid in j.get("stageIds", [])
                if sid in stage_info and stage_info[sid]["ms"] > 500
            ],
        })
        prev_end = max(prev_end, b)
    tail_gap = max(0.0, t0 + wall - prev_end)
    # per-stage detail for the suspicious jobs: single-digit-task jobs on
    # a >=4-slot cluster are serial exposure — print their stage names +
    # ALL stages (not just >500 ms) so they can be attributed
    for r in rows:
        if (r["tasks"] or 0) <= 2 and r["dur_s"] >= 1.0:
            r["all_stages"] = [
                stage_info.get(sid)
                for sid in next(
                    j.get("stageIds", [])
                    for a, b, j in spans
                    if j["jobId"] == r["job"]
                )
                if sid in stage_info
            ]
    for r in rows:
        print(json.dumps(r))
    # SQL executions: map the wall time onto logical operations
    try:
        for e in _api(base, app_id, "sql?length=200"):
            if e.get("duration", 0) > 1000:
                print(json.dumps({
                    "sql_id": e.get("id"),
                    "desc": (e.get("description") or "")[:120],
                    "dur_s": round(e["duration"] / 1000, 2),
                    "jobs": sorted(
                        (e.get("successJobIds") or [])
                        + (e.get("runningJobIds") or [])
                    ),
                }))
    except Exception as exc:
        print(f"sql endpoint failed: {exc}", file=sys.stderr)
    print(json.dumps({
        "cores": cores, "wall_s": round(wall, 2), "n_jobs": len(spans),
        "sum_job_s": round(total_job, 2),
        "sum_gap_s": round(total_gap + tail_gap, 2),
        "tail_gap_s": round(tail_gap, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""Size-scaling curve (VERDICT r5 #4): one geometry, several corpus
sizes, recording headline clips/s and per-batch incremental probe
seconds per size. Converts the "state IO ∝ batch, not corpus" design
claim into a measured curve.

Per size N: synthesize N clips (untimed), run the fused int_ids headline
pipeline (bench.cluster_job — bench.py's exact timed unit), then build an
incremental minhash state from the WHOLE transcript corpus (untimed,
full-planner backfill) and time ONE fixed-size probe batch (always
`probe_rows` docs, fresh ids) against it — the probe batch is CONSTANT
while history grows with N. Sizes are
interleaved round-robin (s1,s2,s3, s1,s2,s3, ...) so every size shares
each weather window; per-size best-of is reported.

Usage: python scripts/size_curve.py [sizes-csv] [rounds]
Env: SPARK_GRAFT_CPUS (default 32), SC_PROBE_ROWS (default 10000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PROBE_ROWS = int(os.environ.get("SC_PROBE_ROWS", "10000"))


def main() -> None:
    from pyspark.sql import functions as F

    from cc_net_spark.session import get_spark
    from cc_net_spark.sources import synth
    from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

    sizes = [int(s) for s in (sys.argv[1] if len(sys.argv) > 1
                              else "60000,120000,240000").split(",")]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark(
        app_name="size_curve", master=f"local[{CPUS}]",
        shuffle_partitions=max(8, CPUS),
    )
    import bench

    bench.warm_workers(spark, CPUS)
    tmp = tempfile.mkdtemp(prefix="size_curve_")
    res: dict[int, dict] = {
        n: {"headline_s": [], "probe_s": []} for n in sizes
    }
    try:
        corpora: dict[int, str] = {}
        handlers: dict[int, IncrementalNearDup] = {}
        probes: dict[int, object] = {}
        for n in sizes:
            path = os.path.join(tmp, f"clips_{n}.parquet")
            synth.generate_clips(
                spark, n, seed=42, with_audio=False,
                size_scale=3,
            ).write.mode("overwrite").parquet(path)
            corpora[n] = path
            # incremental state: history = the whole transcript corpus
            # (so history SIZE scales with n); probe batch = a fixed
            # PROBE_ROWS-row shard with fresh ids at every probe
            docs = (
                spark.read.parquet(path)
                .select(F.col("clip_id").alias("doc_id"),
                        F.col("transcript").alias("text"))
            )
            inc = os.path.join(tmp, f"inc_{n}")
            # corpus-sized backfill under the FULL session planner; the
            # micro-batch probes use a small_batch_mode handler on the
            # same state tree (bench.py's probe configuration)
            IncrementalNearDup(
                os.path.join(inc, "state"), os.path.join(inc, "out"),
                text_col="text", id_col="doc_id",
            ).process_batch(docs, 0)
            handlers[n] = IncrementalNearDup(
                os.path.join(inc, "state"), os.path.join(inc, "out"),
                text_col="text", id_col="doc_id", small_batch_mode=True,
            )
            probes[n] = docs.limit(PROBE_ROWS)
        state = {n: 1 for n in sizes}
        for rnd in range(rounds):
            for n in sizes:
                wd = os.path.join(tmp, f"hx_{n}_{rnd}")
                t0 = time.time()
                bench.cluster_job(spark, corpora[n], wd, int_ids=True)
                res[n]["headline_s"].append(round(time.time() - t0, 3))
                shutil.rmtree(wd, ignore_errors=True)
                bid = state[n]
                shard = probes[n].withColumn(
                    "doc_id", F.concat(F.lit(f"p{bid}-"), F.col("doc_id"))
                )
                t0 = time.time()
                handlers[n].process_batch(shard, bid)
                res[n]["probe_s"].append(round(time.time() - t0, 3))
                state[n] = bid + 1
                print(json.dumps({
                    "round": rnd, "n": n,
                    "headline_s": res[n]["headline_s"][-1],
                    "probe_s": res[n]["probe_s"][-1],
                }), flush=True)
        print(json.dumps({
            "probe_rows": PROBE_ROWS,
            "curve": {
                str(n): {
                    "headline_best_s": min(r["headline_s"]),
                    "clips_per_sec": round(n / min(r["headline_s"]), 1),
                    "probe_best_s": min(r["probe_s"]),
                    "samples": r,
                }
                for n, r in res.items()
            },
        }))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

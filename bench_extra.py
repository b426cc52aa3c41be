"""Round-6 optimization harness: per-query isolation + plan capture.

``bench.py`` is FROZEN for measurement (the driver times the round with
the round-start copy); this sidecar exists so the optimization work can
(a) time each of the 13 bench queries in isolation with the same timed
unit bench.py uses, (b) capture ``.explain("formatted")`` for the plan
deliverables under ``plans/r06/``, and (c) A/B single queries quickly
without paying the full bench (scaling block, top-ups).

Usage:
    python bench_extra.py time  [--reps N] [--queries a,b,c] [--json out]
    python bench_extra.py plans [--tag before|after] [--queries a,b,c]

Timed units mirror bench.py exactly: ``.count()`` for the doc/modality
queries, ``process_batch`` for the incremental probes, the full fused
int_ids pipeline for the headline. Jobs are labeled via
``setJobDescription`` so the UI/event logs attribute time per query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CLIPS = int(os.environ.get("SPARK_GRAFT_CLIPS", "20000"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def make_spark():
    from cc_net_spark.session import get_spark

    return get_spark(
        app_name="cc_net_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(8, CPUS),
    )


def _setup(spark, tmp: str) -> str:
    """Materialize the synthetic clips corpus (untimed, like bench.py)."""
    from pyspark.sql import functions as F  # noqa: F401

    from cc_net_spark.sources import synth

    clips_path = os.path.join(tmp, "clips.parquet")
    synth.generate_clips(
        spark, N_CLIPS, seed=42, with_audio=False, size_scale=3
    ).write.mode("overwrite").parquet(clips_path)
    import bench

    bench.warm_workers(spark, CPUS)
    return clips_path


# ---------------------------------------------------------------------------
# query registry: name -> (timed_fn_factory, plan_df_factory | None)
# each factory gets (spark, ctx) where ctx holds tmp paths/prepared state
# ---------------------------------------------------------------------------


def build_registry(spark, ctx: dict):
    from pyspark.sql import functions as F

    from cc_net_spark import queries as Q
    from cc_net_spark.operators import ann

    reg: dict[str, dict] = {}

    def add(name, timed, plan=None, prepare=None):
        reg[name] = {"timed": timed, "plan": plan, "prepare": prepare}

    # --- headline pipeline (fused, int_ids — bench.py's headline config)
    def headline_run():
        import shutil as _sh

        import bench

        wd = os.path.join(ctx["tmp"], f"hx_{ctx['hx']}")
        ctx["hx"] += 1
        n = bench.cluster_job(spark, ctx["clips_path"], wd, int_ids=True)
        _sh.rmtree(wd, ignore_errors=True)
        return n

    add("near_dup_cluster", headline_run)

    add(
        "dedup_chunks_dropall",
        lambda: Q.q_dedup_chunks_dropall(spark, SF_DIR).count(),
        lambda: Q.q_dedup_chunks_dropall(spark, SF_DIR),
    )
    add(
        "dup_chunk_pairs",
        lambda: Q.q_dup_chunk_pairs(spark, SF_DIR).count(),
        lambda: Q.q_dup_chunk_pairs(spark, SF_DIR),
    )
    add(
        "cc_clusters_dist",
        lambda: Q.q_cc_clusters_dist(spark, SF_DIR).count(),
    )
    add(
        "minhash_lsh_docs",
        lambda: Q.q_minhash_lsh_pairs(spark, SF_DIR).count(),
        lambda: Q.q_minhash_lsh_pairs(spark, SF_DIR),
    )
    add(
        "substring_pairs_docs",
        lambda: Q.q_substring_pairs(spark, SF_DIR).count(),
        lambda: Q.q_substring_pairs(spark, SF_DIR),
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 64)
    add(
        "ann_matmul_topk",
        lambda: ann.brute_force_topk_matmul(queries_df, emb, k=10).count(),
        lambda: ann.brute_force_topk_matmul(queries_df, emb, k=10),
    )
    add(
        "audio_near_dup",
        lambda: Q.q_audio_near_dup(spark, SF_DIR).count(),
        lambda: Q.q_audio_near_dup(spark, SF_DIR),
    )
    add(
        "image_near_dup",
        lambda: Q.q_image_near_dup(spark, SF_DIR).count(),
        lambda: Q.q_image_near_dup(spark, SF_DIR),
    )
    add(
        "video_near_dup",
        lambda: Q.q_video_near_dup(spark, SF_DIR).count(),
        lambda: Q.q_video_near_dup(spark, SF_DIR),
    )

    # --- incremental probes (mirror bench.py's setup exactly)
    def prep_incremental():
        from cc_net_spark.streaming.incremental_clusters import fold_new_batches
        from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        inc = os.path.join(ctx["tmp"], "incnd")
        nd = IncrementalNearDup(
            os.path.join(inc, "state"), os.path.join(inc, "out"),
            text_col="text", id_col="doc_id", small_batch_mode=True,
        )
        nd.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
        cstate = os.path.join(inc, "cstate")
        fold_new_batches(spark, os.path.join(inc, "out"), cstate, id_col="doc_id")
        ctx["nd"] = nd
        ctx["docs"] = docs
        ctx["inc"] = inc
        ctx["cstate"] = cstate
        ctx["probe_rep"] = 0

    def probe_run():
        # one probe batch, then its fold — bench.py interleaves
        # probe/fold per rep (each fold folds exactly ONE new batch);
        # folding after all probes would time a 2-batch fold then a
        # no-op. Each unit is timed internally; the main loop reads the
        # recorded samples via samples_key.
        from cc_net_spark.streaming.incremental_clusters import fold_new_batches

        rep = ctx["probe_rep"]
        shard = (
            ctx["docs"].filter(F.col("doc_id") % 2 == 1)
            .withColumn("doc_id", F.col("doc_id") + rep * 10_000_000)
        )
        t0 = time.time()
        ctx["nd"].process_batch(shard, 1 + rep)
        ctx.setdefault("probe_times", []).append(round(time.time() - t0, 3))
        ctx["probe_rep"] = rep + 1
        t0 = time.time()
        fold_new_batches(
            spark, os.path.join(ctx["inc"], "out"), ctx["cstate"],
            id_col="doc_id",
        )
        ctx.setdefault("fold_times", []).append(round(time.time() - t0, 3))

    reg["incremental_neardup_probe"] = {
        "timed": probe_run, "plan": None, "prepare": prep_incremental,
        "samples_key": "probe_times",
    }
    reg["incremental_clusters_fold"] = {
        "timed": probe_run, "plan": None, "prepare": None,
        "samples_key": "fold_times", "skip_if_done": "fold_times",
    }

    def prep_embedding():
        from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

        dim = len(emb.select("embedding").first()["embedding"])
        inc = ctx.get("inc") or os.path.join(ctx["tmp"], "incnd")
        nde = IncrementalNearDup(
            os.path.join(inc, "estate"), os.path.join(inc, "eout"),
            id_col="vec_id", families=("embedding",), emb_dim=dim,
            small_batch_mode=True,
        )
        nde.process_batch(
            emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding"), 0
        )
        ctx["nde"] = nde
        ctx["erep"] = 0

    def eprobe_run():
        rep = ctx["erep"]
        off = (1 + rep) * 10_000_000
        planted = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + off + 5_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(0.5)).cast("float"))
            .alias("embedding"),
        )
        shard = (
            emb.filter(F.col("vec_id") % 2 == 1)
            .select((F.col("vec_id") + rep * off).alias("vec_id"), "embedding")
            .unionByName(planted)
        )
        ctx["nde"].process_batch(shard, 1 + rep)
        ctx["erep"] = rep + 1

    add("incremental_embedding_probe", eprobe_run, prepare=prep_embedding)
    return reg


ORDER = [
    "near_dup_cluster", "dedup_chunks_dropall", "dup_chunk_pairs",
    "cc_clusters_dist", "minhash_lsh_docs", "substring_pairs_docs",
    "ann_matmul_topk", "audio_near_dup", "image_near_dup", "video_near_dup",
    "incremental_neardup_probe", "incremental_clusters_fold",
    "incremental_embedding_probe",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["time", "plans"])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default="")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--json", default="")
    args = ap.parse_args()

    wanted = [q for q in args.queries.split(",") if q] or ORDER
    tmp = tempfile.mkdtemp(prefix="bench_extra_")
    spark = make_spark()
    ctx = {"tmp": tmp, "hx": 0}
    try:
        needs_clips = "near_dup_cluster" in wanted
        ctx["clips_path"] = _setup(spark, tmp) if needs_clips else None
        if not needs_clips:
            import bench

            bench.warm_workers(spark, CPUS)
        reg = build_registry(spark, ctx)
        out: dict[str, list[float]] = {}
        for name in wanted:
            spec = reg[name]
            if spec["prepare"]:
                spark.sparkContext.setJobDescription(f"prep:{name}")
                spec["prepare"]()
            if args.cmd == "plans":
                if spec["plan"] is None:
                    continue
                df = spec["plan"]()
                os.makedirs(PLANS_DIR, exist_ok=True)
                path = os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt")
                with open(path, "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    ))
                print(f"wrote {path}")
                continue
            if spec.get("skip_if_done") and ctx.get(spec["skip_if_done"]):
                out[name] = list(ctx[spec["skip_if_done"]])
                print(f"{name}: min={min(out[name])} samples={out[name]}",
                      flush=True)
                continue
            times = []
            for rep in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name}:rep{rep}")
                t0 = time.time()
                spec["timed"]()
                times.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            if spec.get("samples_key"):
                times = list(ctx[spec["samples_key"]])
            out[name] = times
            print(f"{name}: min={min(times)} samples={times}", flush=True)
        if args.cmd == "time":
            line = {
                "queries_min": {k: min(v) for k, v in out.items()},
                "samples": out,
                "sf": SF_DIR,
            }
            print(json.dumps(line))
            if args.json:
                with open(args.json, "w") as f:
                    json.dump(line, f, indent=1)
    finally:
        spark.stop()
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

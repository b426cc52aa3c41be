"""The text pair families' one bucket join (operators/families.py): pair
parity with the per-family public operators in both pipeline shapes,
the fused edges stage's runtime plan and job count, and per-family drop
counters."""

import re
import threading
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from cc_net_spark.operators import minhash as mh
from cc_net_spark.operators import simhash as sh
from cc_net_spark.operators.pairs import candidate_pairs
from cc_net_spark.plans.dag import StageRunner
from cc_net_spark.plans.pipeline import NearDupConfig, build_stages, run_near_dup_pipeline
from cc_net_spark.sources import synth

N = 240  # 30 groups of 8
CFG = NearDupConfig(
    bucket_cap=25, gram_cap=25, jaccard_threshold=0.5, max_hamming=6,
    include_exact_hashes=False,
)


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("clips") / "clips.parquet"
    synth.generate_clips(spark, N, seed=42).write.parquet(str(p))
    return str(p)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _operator_pairs(sig, cfg):
    """Each family's pairs from the public per-family operators, the way
    the pipeline called them before the families shared one join."""
    idc = cfg.id_col
    if cfg.int_ids:
        sig = sig.drop(idc).withColumnRenamed("sid", idc)
    cand = mh.minhash_candidate_pairs(
        sig, idc, bands=cfg.bands, rows_per_band=cfg.rows_per_band,
        bucket_cap=cfg.bucket_cap,
    )
    if cfg.keep_shingles:
        minhash = mh.verify_jaccard(cand, sig, idc, threshold=cfg.jaccard_threshold)
    else:
        minhash = mh.estimated_jaccard(
            cand, sig, idc, threshold=cfg.jaccard_threshold
        ).withColumnRenamed("jaccard_est", "jaccard")
    return {
        "exact": candidate_pairs(
            sig.select(idc, "tkey"), ["tkey"], idc, bucket_cap=cfg.bucket_cap,
            assume_unique=True,
        ),
        "minhash": minhash,
        # the salted join the pipeline ran before: same pair set
        "simhash": sh.simhash_candidate_pairs(
            sig.select(idc, "simhash"), idc, max_hamming=cfg.max_hamming,
            bucket_cap=max(2, cfg.bucket_cap // 4), drop_above=cfg.bucket_cap,
            inline_verify=True,
        ),
        "substring": candidate_pairs(
            sig.select(idc, F.explode("grams").alias("gram")), ["gram"], idc,
            bucket_cap=cfg.gram_cap, assume_unique=True,
        ),
    }


@pytest.mark.parametrize("keep_shingles", [True, False])
@pytest.mark.parametrize("int_ids", [False, True])
def test_both_shapes_match_public_operators(spark, clips_path, tmp_path, int_ids, keep_shingles):
    """Staged pair tables (scores included) and the fused edges table,
    family by family, equal the public operators' output."""
    cfg = replace(CFG, int_ids=int_ids, keep_shingles=keep_shingles)
    staged = str(tmp_path / "staged")
    run_near_dup_pipeline(spark, clips_path, staged, cfg)
    fused = str(tmp_path / "fused")
    run_near_dup_pipeline(spark, clips_path, fused, replace(cfg, fused_pairs=True))
    expected = _operator_pairs(spark.read.parquet(f"{staged}/signatures"), cfg)
    edges = spark.read.parquet(f"{fused}/edges")
    for kind, exp in expected.items():
        table = spark.read.parquet(f"{staged}/{kind}_pairs")
        assert sorted(table.columns) == sorted(exp.columns), kind
        want = _rows(exp, exp.columns)
        assert want, kind
        assert _rows(table, exp.columns) == want, kind
        got = _rows(edges.filter(F.col("kind") == kind), ["id_a", "id_b"])
        assert got == _rows(exp, ["id_a", "id_b"]), kind
    assert edges.select("kind").distinct().count() == len(expected)


@pytest.fixture(scope="module")
def fused_signatures(spark, clips_path, tmp_path_factory):
    """A fused-shape workdir with its signatures stage committed."""
    cfg = replace(CFG, fused_pairs=True, int_ids=True)
    runner = StageRunner(spark, tmp_path_factory.mktemp("fused_sig"))
    stages = build_stages(clips_path, cfg)
    runner.run(stages[:1])
    return runner, stages


def test_fused_edges_plan_is_one_bucket_join(spark, fused_signatures):
    """One shuffle of bucket rows, read again by the self-join's second
    side as a ReusedExchange; one self-join; no salting exchange."""
    runner, stages = fused_signatures
    edges, _ = stages[1].build(spark, signatures=runner.load("signatures"))
    edges.collect()
    executed = edges._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert len(re.findall(r"- Exchange hashpartitioning\(band#", final)) == 1, final
    assert re.search(r"ReusedExchange \[band#\d+, key#\d+L", final), final
    joins = re.findall(r"SortMergeJoin \[band#\d+, key#\d+L\]", final)
    assert len(joins) == 1, final
    assert "_lo" not in final and "_hi" not in final, final
    # the distinct's exchange feeds every verify branch
    assert re.search(r"ReusedExchange \[.*kind#\d+\]", final), final


def test_fused_edges_write_job_count(spark, fused_signatures):
    """The edges stage (build + write) runs at most 5 Spark jobs."""
    runner, stages = fused_signatures
    sc = spark.sparkContext
    sc.setJobGroup("fused-edges-jobs", "edges write")
    try:
        runner.run(stages[1:2], force=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("fused-edges-jobs")
    assert 0 < len(jobs) <= 5, jobs


def test_drop_counters_for_every_family(spark):
    """Over-cap buckets in every family are counted, in both shapes.
    Four identical docs (A) overflow cap 3 in every family, two (B) form
    one pair per family, two more (U) are unique."""
    cfg = NearDupConfig(
        bucket_cap=3, gram_cap=3, max_hamming=3, include_exact_hashes=False,
    )

    def doc(i, g):
        # sig values distinct per group, shingles identical within one
        v = {"A": 1, "B": 2, "U0": 3, "U1": 4}[g]
        return (
            f"{g}-{i}", 10, list(range(10 * v, 10 * v + 10)),
            [1000 * v + k for k in range(128)],
            v * 0x0001000100010001, {"A": [101, 102, 103], "B": [201, 202]}.get(
                g, [300 + 10 * v, 301 + 10 * v]
            ), v,
        )

    rows = [doc(i, "A") for i in range(4)] + [doc(i, "B") for i in range(2)]
    rows += [doc(0, "U0"), doc(0, "U1")]
    sig = spark.createDataFrame(
        rows,
        "clip_id string, n_shingles int, shingles array<bigint>, sig array<int>,"
        " simhash bigint, grams array<bigint>, tkey bigint",
    )
    expected = {
        # n_buckets, n_buckets_dropped, n_rows_dropped
        "exact": (4, 1, 4),
        "minhash": (4 * 32, 32, 4 * 32),
        "simhash": (4 * 4, 4, 4 * 4),
        "substring": (3 + 2 + 4, 3, 3 * 4),
    }

    def check(metrics, kind):
        got = (metrics["n_buckets"], metrics["n_buckets_dropped"], metrics["n_rows_dropped"])
        assert got == expected[kind], kind
        assert metrics["n_candidates"] == 1, kind

    stages = {st.name: st for st in build_stages("unused", cfg)}
    for kind in expected:
        pairs, metrics = stages[f"{kind}_pairs"].build(spark, signatures=sig)
        assert _rows(pairs, ["id_a", "id_b"]) == [("B-0", "B-1")]
        check(metrics["pairgen"](), kind)
    fused = {st.name: st for st in build_stages("unused", replace(cfg, fused_pairs=True))}
    edges, metrics = fused["edges"].build(spark, signatures=sig)
    assert _rows(edges, ["kind"]) == sorted((k,) for k in expected)
    for kind in expected:
        check(metrics[f"{kind}_pairgen"](), kind)


def _within(seconds, fn):
    """fn() on a daemon thread; fails if it has not returned in time (a
    blocked thread cannot hold the test process open)."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"did not finish within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_fused_with_audio_pass_finishes(spark, clips_path, tmp_path):
    """The fused edges write mixes the audio pairs (clips read through
    the kernel-scan clone) with the signature-side pairs; every drop
    Observation must resolve. Clusters equal staged with audio and the
    planted clusters."""
    cfg = replace(CFG, include_audio_pass=True)

    def clusters(work, c):
        df, m = run_near_dup_pipeline(spark, clips_path, str(tmp_path / work), c)
        return {r["clip_id"]: r["cluster_id"] for r in df.collect()}, m

    fused, m = _within(300, lambda: clusters("fused", replace(cfg, fused_pairs=True)))
    assert set(m["edges"]["metrics"]) == {
        f"{k}_pairgen" for k in ("exact", "minhash", "simhash", "substring", "audio")
    }
    staged, _ = _within(300, lambda: clusters("staged", cfg))
    planted = {
        r["clip_id"]: r["cluster_id"] for r in synth.expected_clusters(spark, N).collect()
    }
    assert fused == staged == planted

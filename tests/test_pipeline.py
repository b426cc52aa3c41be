"""End-to-end near-dup pipeline: recall >= 0.99 vs the planted oracle,
cluster assignments, resume-from-checkpoint behavior (SURVEY.md §5 items a/d/e)."""

import pytest
from pyspark.sql import functions as F

from cc_net_spark.plans.dag import Stage, StageRunner
from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
from cc_net_spark.sources import synth

N = 240  # 30 groups of 8


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("clips") / "clips.parquet"
    synth.generate_clips(spark, N, seed=42).write.mode("overwrite").parquet(str(p))
    return str(p)


CFG = NearDupConfig(bucket_cap=25, gram_cap=25, jaccard_threshold=0.5, max_hamming=6)


def test_pipeline_recall_and_clusters(spark, clips_path, tmp_path):
    clusters, manifests = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "work"), CFG
    )
    got = {r["clip_id"]: r["cluster_id"] for r in clusters.collect()}
    expected = {
        r["clip_id"]: r["cluster_id"] for r in synth.expected_clusters(spark, N).collect()
    }
    assert len(got) == N

    # dup-pair recall >= 0.99: same-cluster pairs of the oracle must be
    # same-cluster in our output
    exp_pairs = synth.expected_dup_pairs(spark, N).collect()
    found = sum(1 for r in exp_pairs if got[r["clip_id_a"]] == got[r["clip_id_b"]])
    recall = found / len(exp_pairs)
    assert recall >= 0.99, f"recall {recall}"

    # precision: no cross-group merges, singletons stay singletons
    assert got == expected


def test_skew_probe_hot_bucket_is_cap_dropped(spark, tmp_path):
    """With the hot paragraph planted in every role-7 row, the substring
    pass must cap-drop the hot gram buckets and report them in metrics."""
    from cc_net_spark.operators import substring as ss

    df = synth.generate_clips(spark, N, seed=42, include_hot=True).select(
        "clip_id", "transcript"
    )
    pairs, metrics = ss.substring_candidate_pairs(
        df, "transcript", "clip_id", length=50, gram_cap=25, with_metrics=True
    )
    # the ~37 interior windows of the hot paragraph (bucket size 30 > 25)
    assert metrics.n_buckets_dropped >= 30
    assert metrics.n_rows_dropped >= 30 * 25
    # pairs among hot rows only via pad/hot junction windows (1-char pad
    # suffix collisions) — bounded far below the uncapped 435
    hot = {synth._clip_id(8 * g + 7) for g in range(N // 8)}
    n_hot_pairs = sum(
        1 for r in pairs.collect() if r["id_a"] in hot and r["id_b"] in hot
    )
    assert n_hot_pairs < 40


def test_pipeline_resume_skips_completed_stages(spark, clips_path, tmp_path):
    work = str(tmp_path / "work2")
    _, m1 = run_near_dup_pipeline(spark, clips_path, work, CFG)
    assert not any(m.get("skipped") for m in m1.values())
    clusters2, m2 = run_near_dup_pipeline(spark, clips_path, work, CFG)
    assert all(m.get("skipped") for m in m2.values())
    # resumed output identical
    got = {r["clip_id"]: r["cluster_id"] for r in clusters2.collect()}
    expected = {
        r["clip_id"]: r["cluster_id"] for r in synth.expected_clusters(spark, N).collect()
    }
    assert got == expected


def test_pipeline_with_audio_pass_matches_expected(spark, clips_path, tmp_path):
    """include_audio_pass=True unions payload-level edges into the
    cluster graph; the audio stage is the ONLY one reading bytes, and the
    fused graph must still be exactly the planted clusters (audio SNR
    verify admits no cross-group merges)."""
    from dataclasses import replace

    cfg = replace(CFG, include_audio_pass=True)
    clusters, manifests = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "work_audio"), cfg
    )
    assert "audio_pairs" in manifests
    assert manifests["audio_pairs"]["rows"] == (N // 8) * 10
    got = {r["clip_id"]: r["cluster_id"] for r in clusters.collect()}
    expected = {
        r["clip_id"]: r["cluster_id"] for r in synth.expected_clusters(spark, N).collect()
    }
    assert got == expected


def test_fused_pipeline_matches_staged(spark, clips_path, tmp_path):
    """fused_pairs=True (one edges materialization) must produce the exact
    same clusters as the fully staged pipeline."""
    from dataclasses import replace

    staged, _ = run_near_dup_pipeline(spark, clips_path, str(tmp_path / "ws"), CFG)
    fused_cfg = replace(CFG, fused_pairs=True, include_exact_hashes=False)
    fused, m = run_near_dup_pipeline(spark, clips_path, str(tmp_path / "wf"), fused_cfg)
    a = {r["clip_id"]: r["cluster_id"] for r in staged.collect()}
    b = {r["clip_id"]: r["cluster_id"] for r in fused.collect()}
    assert a == b
    assert set(m) == {"signatures", "edges", "clusters"}


def test_staged_pipeline_feeds_pair_tables_into_clusters(spark, clips_path, tmp_path):
    """The staged shape feeds the pair tables straight into CC: it writes
    NO edges table or manifest, the clusters stage's lineage is the four
    pair stages, and their manifests exist before clusters runs, so CC's
    sizing count is skipped (edge_count from the pair-stage manifests).
    Cluster parity with the fused shape is test_fused_pipeline_matches_staged."""
    from pathlib import Path

    work = tmp_path / "wstaged"
    _, m = run_near_dup_pipeline(spark, clips_path, str(work), CFG)
    assert "edges" not in m and not (work / "edges").exists()
    assert not (work / "_manifest" / "edges.json").exists()
    # the clusters manifest carries the pair-stage lineage directly
    assert set(m["clusters"]["input_fingerprints"]) == {
        "exact_pairs", "minhash_pairs", "simhash_pairs", "substring_pairs",
    }
    # edge_count plumbing: pair manifests exist before clusters runs, and
    # their row sum is below the driver threshold here, so CC must have
    # taken the driver union-find path (which only triggers with a known
    # count or a sizing job; either way output parity is the gate)
    assert all(
        Path(work, "_manifest", f"{s}.json").exists()
        for s in ("exact_pairs", "minhash_pairs", "simhash_pairs", "substring_pairs")
    )


_PAIRS = ["exact_pairs", "minhash_pairs", "simhash_pairs", "substring_pairs"]


@pytest.mark.parametrize("fused", [False, True])
@pytest.mark.parametrize("exact_hashes", [False, True])
@pytest.mark.parametrize("audio", [False, True])
def test_build_stages_shapes(fused, exact_hashes, audio):
    """Plan only (no run): the two pipeline shapes' stage lists and the
    clusters stage's inputs, with the exact-hash artifact and the audio
    pass each on and off."""
    from cc_net_spark.plans.pipeline import build_stages

    cfg = NearDupConfig(
        fused_pairs=fused, include_exact_hashes=exact_hashes,
        include_audio_pass=audio,
    )
    stages = build_stages("clips.parquet", cfg)
    head = ["exact_hashes"] * exact_hashes + ["signatures"]
    if fused:
        expected, cluster_inputs = [*head, "edges", "clusters"], ["edges"]
    else:
        cluster_inputs = [*_PAIRS, *["audio_pairs"] * audio]
        expected = [*head, *cluster_inputs, "clusters"]
    assert [st.name for st in stages] == expected
    assert stages[-1].inputs == cluster_inputs


def test_external_input_change_invalidates_stage(spark, tmp_path):
    """A stage reading an external path re-runs when that data changes,
    even though no upstream *stage* changed (round-1 gap: silent stale
    resume over a changed source table)."""
    src = tmp_path / "src.parquet"
    spark.range(4).write.mode("overwrite").parquet(str(src))
    runner = StageRunner(spark, tmp_path / "dag")

    def read_src(s):
        return s.read.parquet(str(src)).agg(F.count(F.lit(1)).alias("n"))

    stages = [Stage("agg", read_src, external_inputs=[str(src)])]
    runner.run(stages)
    assert runner.load("agg").collect()[0]["n"] == 4
    assert runner.run(stages)["agg"].get("skipped")
    # change the external data -> stage must re-run
    spark.range(7).write.mode("overwrite").parquet(str(src))
    r = runner.run(stages)
    assert not r["agg"].get("skipped")
    assert runner.load("agg").collect()[0]["n"] == 7


def test_fingerprints_are_content_based(spark, tmp_path):
    """A forced re-run producing identical output keeps the fingerprint,
    so downstream stages still skip (content-addressed lineage); manifests
    carry per-partition row counts without any Spark count() job."""
    runner = StageRunner(spark, tmp_path / "dag")

    def a(s):
        return s.range(6).select(F.col("id"))

    def b(s, a):
        return a.agg(F.count(F.lit(1)).alias("n"))

    stages = [Stage("a", a), Stage("b", b, inputs=["a"])]
    m1 = runner.run(stages)
    fp1 = m1["a"]["fingerprint"]
    assert m1["a"]["rows"] == 6
    assert sum(p["rows"] for p in m1["a"]["partitions"]) == 6
    m2 = runner.run([Stage("a", a)], force=True)
    assert m2["a"]["fingerprint"] == fp1  # identical content => same fp
    r = runner.run(stages)
    assert r["b"].get("skipped")  # downstream still valid
    assert runner.partition_metrics().filter(F.col("stage") == "a").count() >= 1


def test_stage_invalidation_on_upstream_change(spark, tmp_path):
    runner = StageRunner(spark, tmp_path / "dag")

    def a1(s):
        return s.range(5).select(F.col("id"))

    def a2(s):
        return s.range(9).select(F.col("id"))

    def b(s, a):
        return a.agg(F.count(F.lit(1)).alias("n"))

    stages = [Stage("a", a1), Stage("b", b, inputs=["a"])]
    runner.run(stages)
    # re-run: both skipped
    r2 = runner.run(stages)
    assert r2["a"].get("skipped") and r2["b"].get("skipped")
    # force-rerun a (new fingerprint) => b must re-run too
    r3 = runner.run([Stage("a", a2)], force=True)
    assert not r3["a"].get("skipped")
    r4 = runner.run(stages)
    assert r4["a"].get("skipped")  # a is complete (new version)
    assert not r4["b"].get("skipped")  # b sees stale lineage and re-runs
    assert runner.load("b").collect()[0]["n"] == 9
    # lineage + metrics tables exist and cover the stages
    assert {r["stage"] for r in runner.lineage().collect()} == {"a", "b"}
    assert runner.metrics().count() == 2


def test_pipeline_cc_checkpoint_dir(spark, tmp_path):
    """NearDupConfig(cc_checkpoint_dir=...) threads the durable-CC
    option through the flagship DAG; clusters match the default path."""
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
    from cc_net_spark.sources import synth

    clips_path = str(tmp_path / "clips.parquet")
    synth.generate_clips(spark, 24, seed=3, with_audio=False).write.parquet(
        clips_path
    )
    base, _ = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "w1"), NearDupConfig()
    )
    durable, _ = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "w2"),
        NearDupConfig(cc_checkpoint_dir=str(tmp_path / "cc_ckpt")),
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, durable.collect())
    )


def test_parallel_stages_match_sequential(spark, clips_path, tmp_path):
    """max_parallel_stages>1 must produce byte-identical cluster output,
    write the same manifests, and honor skip-on-resume semantics."""
    import dataclasses

    seq_dir, par_dir = str(tmp_path / "seq"), str(tmp_path / "par")
    cfg_par = dataclasses.replace(CFG, max_parallel_stages=4)
    seq, seq_m = run_near_dup_pipeline(spark, clips_path, seq_dir, CFG)
    par, par_m = run_near_dup_pipeline(spark, clips_path, par_dir, cfg_par)
    assert set(seq_m) == set(par_m)
    got_seq = sorted((r["clip_id"], r["cluster_id"]) for r in seq.collect())
    got_par = sorted((r["clip_id"], r["cluster_id"]) for r in par.collect())
    assert got_seq == got_par
    assert all(m["rows"] == par_m[k]["rows"] for k, m in seq_m.items())

    # resume: a second parallel run skips every stage
    _, again = run_near_dup_pipeline(spark, clips_path, par_dir, cfg_par)
    assert all(m.get("skipped") for m in again.values())


def test_parallel_stages_cycle_detection(spark, tmp_path):
    runner = StageRunner(spark, tmp_path / "dag")

    def build(s):
        return s.range(1)

    bad = [
        Stage("a", build, inputs=["b"]),
        Stage("b", build, inputs=["a"]),
    ]
    with pytest.raises(RuntimeError, match="cycle or missing input"):
        runner.run(bad, max_parallel=2)


def test_stage_load_and_table_open_launch_zero_jobs(spark, tmp_path):
    """Opening a committed stage table (manifest-recorded schema) or an
    external parquet table (parquet_meta: one driver-side footer read)
    must launch NO Spark job — plain spark.read.parquet pays a footer-
    inference job per open, a fixed serial barrier locally and a real
    distributed footer scan on a many-file table at cluster scale."""
    from cc_net_spark.sources.parquet_meta import read_parquet

    def n_jobs() -> int:
        return spark._jsc.sc().statusStore().jobsList(None).size()

    def build(s):
        return s.range(8).select(
            F.col("id").cast("string").alias("clip_id"),
            F.array(F.lit(1), F.lit(2)).alias("sig"),
            F.struct(F.lit("x").alias("a")).alias("meta"),
        )

    runner = StageRunner(spark, tmp_path / "dag")
    runner.run([Stage("sigs", build)])
    inferred = spark.read.parquet(str(tmp_path / "dag" / "sigs")).schema

    j0 = n_jobs()
    df = runner.load("sigs")
    assert df.schema == inferred  # byte-identical to inference
    assert n_jobs() == j0, "manifest-schema stage load launched a Spark job"
    assert df.count() == 8

    ext = tmp_path / "ext.parquet"
    build(spark).write.parquet(str(ext))
    inferred_ext = spark.read.parquet(str(ext)).schema
    j0 = n_jobs()
    df = read_parquet(spark, str(ext))
    assert df.schema == inferred_ext
    assert n_jobs() == j0, "parquet_meta.read_parquet launched a Spark job"
    assert df.count() == 8


def test_int_ids_matches_string_id_partition(spark, clips_path, tmp_path):
    """int_ids runs the pair families + CC over xxhash64 surrogate longs
    and maps back at the clusters stage. Labels differ by design (min-sid
    member vs min-string member), so compare the PARTITIONS: the set of
    member-sets must be identical, every clip present, cluster_id long."""
    base, _ = run_near_dup_pipeline(spark, clips_path, str(tmp_path / "ws"), CFG)
    int_cfg = NearDupConfig(
        **{**CFG.__dict__, "int_ids": True, "include_exact_hashes": False}
    )
    ints, _ = run_near_dup_pipeline(spark, clips_path, str(tmp_path / "wi"), int_cfg)
    assert dict(ints.dtypes)["cluster_id"] == "bigint"

    def parts(df):
        groups = {}
        for r in df.collect():
            groups.setdefault(r["cluster_id"], set()).add(r["clip_id"])
        return {frozenset(v) for v in groups.values()}

    assert parts(ints) == parts(base)
    assert ints.count() == N


def test_int_ids_with_audio_pass_partition_parity(spark, clips_path, tmp_path):
    """With int_ids the audio stage's string pairs are mapped into sid
    space JVM-side; the fused graph must partition identically to the
    planted clusters."""
    from dataclasses import replace

    cfg = replace(CFG, int_ids=True, include_audio_pass=True,
                  include_exact_hashes=False)
    clusters, manifests = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "work_audio_int"), cfg
    )
    assert "audio_pairs" in manifests

    groups = {}
    for r in clusters.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["clip_id"])
    exp = {}
    for r in synth.expected_clusters(spark, N).collect():
        exp.setdefault(r["cluster_id"], set()).add(r["clip_id"])
    assert {frozenset(v) for v in groups.values()} == {frozenset(v) for v in exp.values()}


def test_int_ids_toggle_invalidates_resumed_workdir(spark, clips_path, tmp_path):
    """Content fingerprints cannot see a pure config flip: without the
    stage `params` field, re-running a completed string-id workdir with
    int_ids=True would skip the signatures stage and silently serve
    string-labeled clusters. The params mismatch must force a rebuild."""
    work = str(tmp_path / "toggle")
    base, m1 = run_near_dup_pipeline(spark, clips_path, work, CFG)
    assert dict(base.dtypes)["cluster_id"] == "string"
    int_cfg = NearDupConfig(
        **{**CFG.__dict__, "int_ids": True, "include_exact_hashes": False}
    )
    ints, m2 = run_near_dup_pipeline(spark, clips_path, work, int_cfg)
    assert not m2["signatures"].get("skipped"), "signatures stage must re-run"
    assert dict(ints.dtypes)["cluster_id"] == "bigint"
    # and flipping BACK invalidates again (params None != "int_ids=True")
    back, m3 = run_near_dup_pipeline(spark, clips_path, work, CFG)
    assert not m3["signatures"].get("skipped")
    assert dict(back.dtypes)["cluster_id"] == "string"


def test_validate_ids_observe_fails_on_null_id(spark, tmp_path):
    """The default observe-mode contract check rides the signatures write
    (zero extra jobs) and must fail the stage loudly on a null id."""
    import pandas as pd

    src = str(tmp_path / "nullid.parquet")
    pdf = pd.DataFrame({
        "clip_id": ["a", None, "c"],
        "transcript": ["x y z w v u t s", "p q r s t u v w", "m n o p q r s t"],
    })
    spark.createDataFrame(pdf).write.parquet(src)
    with pytest.raises(Exception, match="NULL clip_id"):
        run_near_dup_pipeline(
            spark, src, str(tmp_path / "w"),
            NearDupConfig(include_exact_hashes=False),
        )


def test_validate_ids_strict_fails_on_duplicate_id(spark, tmp_path):
    """strict mode adds one count/count-distinct agg and fails BEFORE any
    stage commits when the id column is not a key."""
    import pandas as pd

    src = str(tmp_path / "dupid.parquet")
    pdf = pd.DataFrame({
        "clip_id": ["a", "b", "b"],
        "transcript": ["x y z w v u t s", "p q r s t u v w", "m n o p q r s t"],
    })
    spark.createDataFrame(pdf).write.parquet(src)
    work = tmp_path / "wdup"
    with pytest.raises(ValueError, match="duplicate"):
        run_near_dup_pipeline(
            spark, src, str(work),
            NearDupConfig(include_exact_hashes=False, validate_ids="strict"),
        )
    assert not (work / "_manifest" / "signatures.json").exists()


def test_validate_ids_observe_records_manifest_metric(spark, clips_path, tmp_path):
    """On a clean corpus the observe check is invisible except for the
    id_validation metric in the signatures manifest."""
    _, m = run_near_dup_pipeline(
        spark, clips_path, str(tmp_path / "wv"), CFG
    )
    v = m["signatures"]["metrics"]["id_validation"]
    assert v == {"n_ids": N, "null_ids": 0}

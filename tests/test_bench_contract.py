"""Cheap contract checks on bench.py internals (Spark only for the
sampled extra-merge re-derivation)."""
import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
bench = importlib.import_module("bench")


def test_executor_leg_rejects_indivisible_core_count(monkeypatch):
    """Silently rounding cores to EXEC_CORES multiples would misreport
    the scaling-efficiency denominator (a cores=3 leg would really run
    one 2-core executor); the leg must refuse instead. Pin the width to
    2 — the default geometry is 1 core/executor, where every core count
    divides and the guard is vacuous."""
    monkeypatch.setattr(bench, "EXEC_CORES", 2)
    with pytest.raises(ValueError, match="not a multiple"):
        bench.make_spark(bench.EXEC_CORES + 1, executors=True)


def test_worker_dir_is_stable_across_calls(monkeypatch, tmp_path):
    """SPARK_WORKER_DIR must not leak a fresh temp dir per make_spark
    call; the indivisible-cores guard fires after the env setup, so the
    refused call still exercises the env path."""
    monkeypatch.setattr(bench, "EXEC_CORES", 2)
    monkeypatch.delenv("SPARK_WORKER_DIR", raising=False)
    with pytest.raises(ValueError):
        bench.make_spark(bench.EXEC_CORES + 1, executors=True)
    first = os.environ["SPARK_WORKER_DIR"]
    with pytest.raises(ValueError):
        bench.make_spark(bench.EXEC_CORES + 1, executors=True)
    assert os.environ["SPARK_WORKER_DIR"] == first
    assert os.path.isdir(first)


def test_default_geometry_is_single_core_executors():
    """Round-4 session 9: the recorded scaling basis is 1 executor x 1
    core vs 4 x 1 (geometry A/B in BENCH/BASELINE.md); EXEC_CORES=1
    unless the env restores the historical 2-core basis."""
    if "SPARK_GRAFT_EXEC_CORES" not in os.environ:
        assert bench.EXEC_CORES == 1


def test_raw_eff_best_of_per_leg():
    """The adaptive top-up decides on best-of-per-leg efficiency: each
    leg's min sample, so extra reps are monotone (can only move a leg
    toward its reproducible floor)."""
    legs = {2: [{"seconds": 100.0}, {"seconds": 80.0}],
            8: [{"seconds": 50.0}, {"seconds": 25.0}]}
    # best lo=80, best hi=25 -> (80/25)/4 = 0.8
    assert bench._raw_eff(legs, 2, 8) == pytest.approx(0.8)


def _leg(cores, seconds, **over):
    base = {
        "cores": cores, "seconds": seconds, "n": 120000,
        "control_seconds": 2.5, "spin_ops_per_sec": 2e8,
        "membw_bytes_per_sec": 2e10, "keep_shingles": False,
        "int_ids": False, "aqe": True, "dup_pair_recall": 1.0,
        "mode": "executors", "executors": cores, "exec_cores": 1,
    }
    base.update(over)
    return base


def test_archived_floor_filters_and_aggregates(tmp_path, monkeypatch):
    """archived_scaling_floor must take the per-leg min ONLY over legs
    matching the live configuration — a faster leg from a different
    corpus size, geometry, id basis, or with failed recall must not
    leak into the floor."""
    import json as _json

    monkeypatch.setattr(bench, "N_SCALING", 120000)
    monkeypatch.setattr(bench, "EXEC_CORES", 1)
    # legacy-workload floors: the synthetic legs below omit simhash_ngram
    # (pre-round-5 records, absence-default 1), so match them with a
    # unigram live config
    monkeypatch.setattr(bench, "SIMHASH_NGRAM", 1)
    for var in ("SPARK_GRAFT_KEEP_SHINGLES", "SPARK_GRAFT_INT_IDS",
                "SPARK_GRAFT_AQE"):
        monkeypatch.delenv(var, raising=False)
    rows = [
        {"probe": {"healthy": True}},          # non-leg rows are skipped
        {"leg": _leg(1, 130.0)},
        {"leg": _leg(1, 127.0)},               # lo floor
        {"leg": _leg(4, 40.0)},
        {"leg": _leg(4, 37.5)},                # hi floor
        {"leg": _leg(4, 10.0, n=60000)},       # wrong corpus size
        {"leg": _leg(4, 10.0, exec_cores=2)},  # wrong geometry
        {"leg": _leg(4, 10.0, int_ids=True)},  # wrong id basis
        {"leg": _leg(4, 10.0, dup_pair_recall=0.5)},  # failed recall
        {"leg": _leg(4, 10.0, mode="threads")},       # wrong mode
        {"leg": _leg(4, 10.0, size_scale=1)},  # wrong corpus row size
        {"leg": _leg(4, 10.0, fused=False)},   # staged leg shape
        {"leg": _leg(4, 10.0, simhash_ngram=3)},  # trigram workload
        {"leg": {"cores": 4, "n": 120000}},    # malformed: no seconds
        {"leg": _leg(4, 10.0, dup_pair_recall=None)},  # malformed recall
        {"summary": {"raw_eff": 0.99}},        # summaries are ignored
    ]
    p = tmp_path / "rec.jsonl"
    p.write_text("\n".join(_json.dumps(r) for r in rows) + "\nnot json\n")
    (tmp_path / "ignored.json").write_text("{}")  # only .jsonl scanned
    floor = bench.archived_scaling_floor(1, 4, "executors",
                                         archive_dir=str(tmp_path))
    assert floor == {
        "lo_seconds": 127.0, "hi_seconds": 37.5,
        "raw_efficiency": round((127.0 / 37.5) / 4, 3),
        "hi_clips_per_sec": 3200.0, "n_clips": 120000,
        "sources": ["rec.jsonl"],
        "lo_commit": None, "hi_commit": None,
    }
    # one leg missing -> no floor (never report a one-sided ratio)
    p.write_text(_json.dumps({"leg": _leg(4, 37.5)}) + "\n")
    assert bench.archived_scaling_floor(
        1, 4, "executors", archive_dir=str(tmp_path)) is None
    # missing dir -> None, not an exception
    assert bench.archived_scaling_floor(
        1, 4, "executors", archive_dir=str(tmp_path / "nope")) is None


def test_archived_floor_real_artifacts(monkeypatch):
    """The repo's own BENCH/ archive must yield a floor for the default
    recorded configuration (geometry B executors at 120k) — this is the
    evidence trail BENCH_r04's scaling row points at."""
    for var in ("SPARK_GRAFT_KEEP_SHINGLES", "SPARK_GRAFT_INT_IDS",
                "SPARK_GRAFT_AQE"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(bench, "N_SCALING", 120000)
    monkeypatch.setattr(bench, "EXEC_CORES", 1)
    # the r2-r4 archive is the UNIGRAM-SimHash workload
    monkeypatch.setattr(bench, "SIMHASH_NGRAM", 1)
    floor = bench.archived_scaling_floor(1, 4, "executors")
    assert floor is not None and floor["sources"]
    assert 0.0 < floor["raw_efficiency"] <= 1.0
    # the trigram default must NOT inherit unigram floors
    monkeypatch.setattr(bench, "SIMHASH_NGRAM", 3)
    floor3 = bench.archived_scaling_floor(1, 4, "executors")
    assert floor3 is None or all(
        src not in floor["sources"] for src in floor3["sources"]
    )


def test_scaling_topup_knobs_parse():
    """SPARK_GRAFT_SCALING_TARGET / _BUDGET must exist with sane
    defaults: target inside (0,1], budget >= 0 (0 disables top-up)."""
    assert 0.0 < bench.SCALING_TARGET <= 1.0
    assert bench.SCALING_TOPUP_BUDGET >= 0.0


def test_compact_summary_is_small_and_keeps_contract_keys():
    """The stdout line must survive the driver's bounded tail capture
    (BENCH_r04 recorded parsed:null because the full line outgrew it) —
    compact the heaviest artifact on file and require every contract key
    plus a hard size ceiling with headroom below the observed ~3 KB
    capture window."""
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "BENCH_r04_s11_record.json")
    full = json.loads(open(path).read().strip().splitlines()[-1])
    compact = bench.compact_summary(full, "BENCH/BENCH_full_test.json")
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 2600, len(line)
    assert "\n" not in line
    for k in ("metric", "value", "unit", "queries", "sf",
              "throughput_clips_per_sec", "dup_pair_recall",
              "window_probes", "scaling", "full_artifact"):
        assert k in compact, k
    s = compact["scaling"]
    for k in ("lo", "hi", "efficiency", "speedup", "n_clips", "mode",
              "topup_reps", "control_efficiency", "efficiency_vs_control",
              "archived_floor"):
        assert k in s, k
    # the bulk arrays are exactly what got dropped
    assert "query_samples" not in compact
    assert "all_seconds" not in s["lo"] and "all_spin" not in s["hi"]
    # every query timing survives verbatim
    assert compact["queries"] == full["queries"]


def test_quality_floors_ok_needs_all_three_floors():
    ok = {"dup_pair_recall": 1.0, "pair_precision": 0.99, "ari": 0.995}
    assert bench.quality_floors_ok(ok)
    for k in ok:
        assert not bench.quality_floors_ok({**ok, k: 0.989})
        assert not bench.quality_floors_ok({**ok, k: None})
        assert not bench.quality_floors_ok({j: v for j, v in ok.items() if j != k})
    full = {"metric": "m", "value": 1.0, **ok, "quality_floors_ok": True}
    assert bench.compact_summary(full)["quality_floors_ok"] is True


def test_archived_record_artifact_has_contract_keys():
    """The driver reads one JSON line with metric/value/unit/queries/sf
    (+ scaling, probes, recall); pin the shape against the archived
    session-11 record so a bench refactor can't silently drop a key the
    grading driver or the round-over-round comparisons rely on."""
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "BENCH_r04_s11_record.json")
    d = json.loads(open(path).read().strip().splitlines()[-1])
    for k in ("metric", "value", "unit", "queries", "sf",
              "throughput_clips_per_sec", "dup_pair_recall",
              "window_probes", "scaling"):
        assert k in d, k
    s = d["scaling"]
    for k in ("lo", "hi", "efficiency", "speedup", "n_clips", "mode",
              "topup_reps", "control_efficiency", "efficiency_vs_control",
              "archived_floor"):
        assert k in s, k
    assert s["archived_floor"]["raw_efficiency"] > 0
    assert d["dup_pair_recall"] >= 0.99


def test_extra_merges_rederive_simhash_on_the_pipeline_basis(spark, tmp_path):
    """A word permutation of a document has the same unigram multiset, so
    its unigram SimHash is identical (Hamming 0), while the pipeline's
    trigram basis puts the two far apart: re-deriving the sampled merge
    on the unigram basis would vouch for a merge the pipeline's SimHash
    never makes."""
    import random

    rng = random.Random(7)
    vocab = ["".join(rng.choices("abcdefghij", k=5)) for _ in range(60)]
    words = [rng.choice(vocab) for _ in range(300)]
    shuffled = rng.sample(words, len(words))
    clips = str(tmp_path / "clips")
    spark.createDataFrame(
        [("a", " ".join(words)), ("b", " ".join(shuffled))],
        "clip_id string, transcript string",
    ).write.parquet(clips)
    both = spark.createDataFrame(
        [("c", 0, "a"), ("c", 1, "b")], "cluster_id string, _e int, clip_id string"
    )
    got = bench._explain_extra_merges(spark, both, clips)
    assert got["pairs_checked"] == 1
    assert got["simhash_ok_frac"] == 0.0

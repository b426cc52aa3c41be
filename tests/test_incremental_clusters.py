"""Incremental cluster maintenance (streaming/incremental_clusters.py):
log-structured union-find whose fully-resolved assignments must equal the
batch connected-components result over the union of all batches' pairs,
whatever the arrival order — plus the layout contracts (pruned lookups,
replay idempotence, alias-chain compaction)."""

from pyspark.sql import functions as F

from cc_net_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from cc_net_spark.sources.hadoop_fs import live_tree
from cc_net_spark.streaming.incremental_clusters import (
    IncrementalClusters,
    compact_clusters_state,
)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "clip_id string")


def _state(spark, root, table):
    """A state table's path in the live tree of the pointer root."""
    return f"{live_tree(spark, str(root))}/{table}"


def _pairs(spark, pairs):
    if not pairs:
        return spark.createDataFrame([], "id_a string, id_b string")
    return spark.createDataFrame(list(pairs), "id_a string, id_b string")


# three batches engineered to retire roots twice: batch 0 clusters {b,c}
# under root b; batch 1 merges {a,d} in via c (root -> a, alias b->a);
# batch 2 attaches "0" (string-min) via c again (root -> 0, alias a->0) —
# resolving c's original row then needs the 2-hop chain b->a->0.
BATCHES = [
    (["b", "c", "x"], [("b", "c")]),
    (["a", "d"], [("a", "c"), ("d", "c")]),
    (["0", "z"], [("0", "c")]),
]


def _run_batches(spark, state, batches=BATCHES):
    ic = IncrementalClusters(state, n_state_buckets=8)
    for bid, (ids, pairs) in enumerate(batches):
        ic.update(_ids(spark, ids), _pairs(spark, pairs), bid)
    return ic


def _batch_truth(spark, batches=BATCHES):
    all_ids = _ids(spark, [i for ids, _ in batches for i in ids])
    all_pairs = _pairs(spark, [p for _, ps in batches for p in ps])
    comp = connected_components(all_pairs, driver_threshold=2_000_000)
    return {
        r["clip_id"]: r["cluster_id"]
        for r in assign_clusters(all_ids, comp, "clip_id").collect()
    }


def test_incremental_equals_batch_cc_with_alias_chains(spark, tmp_path):
    ic = _run_batches(spark, str(tmp_path / "state"))
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == _batch_truth(spark)
    # the scenario really exercised a 2-hop chain: both retirements exist
    alias = spark.read.parquet(_state(spark, tmp_path / "state", "calias"))
    chains = {(r["old_root"], r["new_root"]) for r in alias.collect()}
    assert ("b", "a") in chains and ("a", "0") in chains
    # singletons kept their own id
    assert got["x"] == "x" and got["z"] == "z"


def test_resolve_is_pruned_point_lookup(spark, tmp_path):
    state = str(tmp_path / "state")
    ic = _run_batches(spark, state)
    # point lookup resolves through the alias chain
    out = {
        r["clip_id"]: r["cluster_id"]
        for r in ic.resolve(spark, _ids(spark, ["c", "x", "never-seen"])).collect()
    }
    assert out == {"c": "0", "x": "x", "never-seen": "never-seen"}
    # layout contract: a single-id lookup's cassign read prunes the file
    # index on BOTH hive levels (PartitionFilters, not row filtering)
    import io
    from contextlib import redirect_stdout

    kbs = ic._bucket_ids(_ids(spark, ["c"]), "clip_id")
    assert len(kbs) == 1
    hist = ic._history(spark, ic.cassign_path, 99, kbs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        hist.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "_kb" in pf[0] and "_batch_id" in pf[0], buf.getvalue()
    on_disk = {
        f.split("_kb=")[1].split("/")[0]
        for f in spark.read.parquet(ic.cassign_path).inputFiles()
    }
    assert len(on_disk) > 1  # there really were sibling buckets to skip


def test_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    ic = _run_batches(spark, state)
    before = sorted(map(tuple, ic.current(spark).collect()))
    # at-least-once redelivery of the LAST batch: same inputs, same batch id
    ids, pairs = BATCHES[-1]
    ic.update(_ids(spark, ids), _pairs(spark, pairs), len(BATCHES) - 1)
    after = sorted(map(tuple, ic.current(spark).collect()))
    assert after == before


def test_compaction_collapses_chains_and_preserves_results(spark, tmp_path):
    state = str(tmp_path / "state")
    ic = _run_batches(spark, state)
    want = sorted(map(tuple, ic.current(spark).collect()))
    assert compact_clusters_state(
        spark, state, upto_batch=len(BATCHES), n_state_buckets=8
    )
    # compacted in place: the next version is live, the old tree is gone
    assert live_tree(spark, state).endswith("/v1")
    assert not (tmp_path / "state" / "v0").exists()
    ic2 = IncrementalClusters(state, n_state_buckets=8)
    assert sorted(map(tuple, ic2.current(spark).collect())) == want
    # every alias chain was applied away
    alias = spark.read.parquet(_state(spark, state, "calias"))
    assert alias.count() == 0
    # compacted assignments live in ONE rebadged partition, still bucketed
    batches = {
        f.split("_batch_id=")[1].split("/")[0]
        for f in spark.read.parquet(_state(spark, state, "cassign")).inputFiles()
    }
    assert batches == {str(len(BATCHES) - 1)}
    # and a later batch folds into the compacted state seamlessly —
    # "!" sorts below "0", so the compacted root must be retired via a
    # fresh post-compaction alias
    ic2.update(_ids(spark, ["!"]), _pairs(spark, [("!", "c")]), len(BATCHES))
    got = {r["clip_id"]: r["cluster_id"] for r in ic2.current(spark).collect()}
    truth = _batch_truth(spark, BATCHES + [(["!"], [("!", "c")])])
    assert got == truth and got["c"] == "!"


def test_arrival_order_does_not_change_labels(spark, tmp_path):
    reordered = [BATCHES[2], BATCHES[0], BATCHES[1]]
    ic = _run_batches(spark, str(tmp_path / "state"), reordered)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == _batch_truth(spark)


def test_mismatched_bucket_count_is_rejected(spark, tmp_path):
    import pytest

    state = str(tmp_path / "state")
    _run_batches(spark, state)
    bad = IncrementalClusters(state, n_state_buckets=16)
    with pytest.raises(ValueError, match="n_state_buckets"):
        bad.update(_ids(spark, ["q"]), _pairs(spark, []), 99)


def test_neardup_pairs_feed_clusters_end_to_end(spark, tmp_path):
    """Wire the real near-dup handler's per-batch pairs into the cluster
    state and check the resolved clusters equal batch CC over the union
    of everything the handler emitted."""
    from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

    texts = {
        # batch 0: two exact twins + a singleton
        "a1": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "a2": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "s1": "completely different words about an unrelated topic entirely",
        # batch 1: matches history (a1/a2) + its own twin pair
        "b1": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "c1": "one two three four five six seven eight nine ten eleven",
        "c2": "one two three four five six seven eight nine ten eleven",
    }
    batches = [["a1", "a2", "s1"], ["b1", "c1", "c2"]]
    nd = IncrementalNearDup(
        str(tmp_path / "nd_state"), str(tmp_path / "nd_out"),
        text_col="text", id_col="clip_id",
        families=("minhash", "exact"), n_state_buckets=8,
    )
    ic = IncrementalClusters(str(tmp_path / "c_state"), n_state_buckets=8)
    for bid, ids in enumerate(batches):
        df = spark.createDataFrame(
            [(i, texts[i]) for i in ids], "clip_id string, text string"
        )
        nd.process_batch(df, bid)
        pairs = (
            spark.read.parquet(str(tmp_path / "nd_out" / "pairs"))
            .filter(F.col("_batch_id") == bid)
            .select("id_a", "id_b")
        )
        ic.update(df.select("clip_id"), pairs, bid)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    all_pairs = spark.read.parquet(str(tmp_path / "nd_out" / "pairs")).select(
        "id_a", "id_b"
    )
    comp = connected_components(all_pairs)
    truth = {
        r["clip_id"]: r["cluster_id"]
        for r in assign_clusters(
            _ids(spark, [i for ids in batches for i in ids]), comp, "clip_id"
        ).collect()
    }
    assert got == truth
    assert got["b1"] == got["a1"] == got["a2"] == "a1"
    assert got["c2"] == got["c1"] == "c1"
    assert got["s1"] == "s1"


def _write_handler_output(spark, out, batches, upto=None):
    """Fabricate the near-dup handler's output layout: flags (one row per
    arrived id) + pairs, hive-partitioned by _batch_id."""
    for bid, (ids, pairs) in enumerate(batches[:upto]):
        _ids(spark, ids).withColumn("is_dup", F.lit(False)).write.mode(
            "overwrite"
        ).parquet(f"{out}/flags/_batch_id={bid}")
        _pairs(spark, pairs).write.mode("overwrite").parquet(
            f"{out}/pairs/_batch_id={bid}"
        )


def test_fold_new_batches_is_incremental_and_matches_batch_cc(spark, tmp_path):
    """The CLI's post-drain glue (--clusters-state): folds exactly the
    output batches beyond the newest cassign partition, in order, and
    the resulting assignments equal batch CC over all pairs."""
    from cc_net_spark.streaming.incremental_clusters import fold_new_batches

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    _write_handler_output(spark, out, BATCHES, upto=2)
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [0, 1]
    # already current -> nothing re-folded
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == []
    # a later drain adds batch 2; only it is folded
    _write_handler_output(spark, out, BATCHES)
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [2]
    ic = IncrementalClusters(state, n_state_buckets=8)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == _batch_truth(spark)


def test_fold_new_batches_tolerates_missing_pairs_partition(spark, tmp_path):
    """A flags partition without a pairs sibling (crash between the two
    writes, later replayed) folds as singletons instead of crashing."""
    from cc_net_spark.streaming.incremental_clusters import fold_new_batches

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    _ids(spark, ["a", "b"]).write.mode("overwrite").parquet(
        f"{out}/flags/_batch_id=0"
    )
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [0]
    ic = IncrementalClusters(state, n_state_buckets=8)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == {"a": "a", "b": "b"}


def test_neardup_cli_clusters_flags_validate_before_spark():
    """Arg contract (checked before any JVM startup): clusters
    compaction needs --clusters-state; stream mode still needs
    input/output/checkpoint even when --clusters-state is given."""
    import pytest

    from cc_net_spark.__main__ import main

    with pytest.raises(SystemExit) as ei:
        main(["neardup", "--state", "s", "--compact-clusters-upto", "2"])
    assert ei.value.code == 2
    with pytest.raises(SystemExit) as ei:
        main(["neardup", "--state", "s", "--clusters-state", "c"])
    assert ei.value.code == 2
    # LSH compaction still needs --state; only a CLUSTERS-ONLY
    # compaction may omit it
    with pytest.raises(SystemExit) as ei:
        main(["neardup", "--compact-upto", "2"])
    assert ei.value.code == 2
    with pytest.raises(SystemExit) as ei:
        main(["neardup"])
    assert ei.value.code == 2


def test_neardup_cli_folds_clusters_after_drain(spark, tmp_path):
    """Deployment surface end-to-end: ``python -m cc_net_spark neardup
    --clusters-state`` runs the stream (AvailableNow) and then folds the
    new output batches into cluster state; a second invocation with a
    new shard folds ONLY the new batch and keeps assignments equal to
    batch CC over all pairs."""
    import json as _json

    from cc_net_spark.__main__ import main

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "s0.json").write_text(
        _json.dumps({"clip_id": "a0", "transcript": base})
        + "\n"
        + _json.dumps({"clip_id": "a1", "transcript": other})
    )
    argv = [
        "neardup",
        "--input", str(inp),
        "--state", str(tmp_path / "state"),
        "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--clusters-state", str(tmp_path / "cstate"),
        "--state-buckets", "8",
    ]
    main(argv)
    ic = IncrementalClusters(str(tmp_path / "cstate"), n_state_buckets=8)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == {"a0": "a0", "a1": "a1"}
    # second drain: b0 duplicates a0 -> joins a0's cluster
    (inp / "s1.json").write_text(
        _json.dumps({"clip_id": "b0", "transcript": base})
    )
    main(argv)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == {"a0": "a0", "a1": "a1", "b0": "a0"}
    # the second fold touched only batch 1's partition dir
    from cc_net_spark.streaming.incremental_clusters import _batch_dirs

    assert _batch_dirs(spark, _state(spark, tmp_path / "cstate", "cassign")) == [0, 1]
    # clusters-only maintenance verb: no --state needed
    main([
        "neardup",
        "--clusters-state", str(tmp_path / "cstate"),
        "--compact-clusters-upto", "2",
        "--state-buckets", "8",
    ])
    assert live_tree(spark, str(tmp_path / "cstate")).endswith("/v1")
    got_c = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got_c == got


def test_fold_new_batches_after_compact_and_swap(spark, tmp_path):
    """Folding after an in-place compaction must treat the
    rebadged corpus-wide partition as FOLDED (regression: the compacted
    calias _SUCCESS used to land one hive level too deep, so the cursor
    re-folded batch upto-1 and its overwrite replaced the corpus-wide
    cassign partition with that one batch's ids — earlier batches' ids
    were lost outright once older output partitions were pruned)."""
    import shutil

    from cc_net_spark.streaming.incremental_clusters import fold_new_batches

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    _write_handler_output(spark, out, BATCHES, upto=2)
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [0, 1]
    want = _batch_truth(spark, BATCHES[:2])
    assert compact_clusters_state(spark, state, upto_batch=2, n_state_buckets=8)
    # prune older output partitions — exactly the case that made the bug
    # destructive: a re-fold of the rebadged partition can't recover them
    shutil.rmtree(f"{out}/flags/_batch_id=0")
    shutil.rmtree(f"{out}/pairs/_batch_id=0")
    # already current: NOTHING re-folds, assignments survive intact
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == []
    ic = IncrementalClusters(state, n_state_buckets=8)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == want
    # a genuinely new batch still folds, on top of the compacted state
    _write_handler_output(spark, out, BATCHES)
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [2]
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == _batch_truth(spark)


def test_compaction_carries_passthrough_commit_markers(spark, tmp_path):
    """Batches >= upto pass through compaction with their BATCH-LEVEL
    _SUCCESS intact (even a zero-alias batch), so a compaction never
    demotes a committed tail batch to 'unfolded'; a torn tail batch stays
    torn."""
    import os

    from cc_net_spark.streaming.incremental_clusters import _fold_cursor

    state = str(tmp_path / "state")
    ic = _run_batches(spark, state)  # batches 0..2
    want = sorted(map(tuple, ic.current(spark).collect()))
    assert compact_clusters_state(spark, state, upto_batch=2, n_state_buckets=8)
    ic2 = IncrementalClusters(state, n_state_buckets=8)
    ic2._open(spark, write=False)
    assert _fold_cursor(spark, ic2) == (2, True)
    # identical resolved assignments after the partial compaction
    assert sorted(map(tuple, ic2.current(spark).collect())) == want
    # a torn tail batch in the live tree stays torn in the next version
    os.remove(_state(spark, state, "calias/_batch_id=2/_SUCCESS"))
    assert compact_clusters_state(spark, state, upto_batch=2, n_state_buckets=8)
    ic3 = IncrementalClusters(state, n_state_buckets=8)
    ic3._open(spark, write=False)
    assert _fold_cursor(spark, ic3) == (2, False)


def test_fold_new_batches_refolds_a_partial_crashed_fold(spark, tmp_path):
    """A crash between update()'s concurrent cassign/calias writes leaves
    a committed cassign partition without its calias sibling; the fold
    cursor must treat that batch as NOT folded (commit markers on BOTH
    tables) so the idempotent re-fold repairs it."""
    import os

    from cc_net_spark.streaming.incremental_clusters import fold_new_batches

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    _write_handler_output(spark, out, BATCHES, upto=2)
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [0, 1]
    # simulate the torn batch-1 fold: calias committed marker missing
    os.remove(_state(spark, tmp_path / "state", "calias/_batch_id=1/_SUCCESS"))
    assert fold_new_batches(spark, out, state, n_state_buckets=8) == [1]
    ic = IncrementalClusters(state, n_state_buckets=8)
    got = {r["clip_id"]: r["cluster_id"] for r in ic.current(spark).collect()}
    assert got == _batch_truth(spark, BATCHES[:2])


def test_small_fold_planner_is_plan_only(spark, tmp_path):
    """Row bounds (``update(..., pairs_rows=, ids_rows=)``) under
    ``small_fold_rows`` switch the fold to the low-latency planner (AQE
    off + few shuffle partitions) — a PLANNER change only: state rows
    match the unbounded fold exactly, and the session confs are
    restored afterwards."""
    outs = {}
    for label, with_bounds in (("plain", False), ("small", True)):
        ic = IncrementalClusters(str(tmp_path / label), n_state_buckets=8)
        for bid, (ids, pairs) in enumerate(BATCHES):
            kw = (
                {"pairs_rows": len(pairs), "ids_rows": len(ids)}
                if with_bounds
                else {}
            )
            ic.update(_ids(spark, ids), _pairs(spark, pairs), bid, **kw)
        outs[label] = {
            t: sorted(
                map(
                    tuple,
                    spark.read.parquet(_state(spark, tmp_path / label, t))
                    .drop("_kb", "_batch_id")
                    .collect(),
                )
            )
            for t in ("cassign", "calias")
        }
    assert outs["small"] == outs["plain"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_parquet_footer_rows_reads_what_spark_reads(tmp_path):
    """The fold's footer-only sizing hint counts the files Spark's reader
    would read — not a crash-left ``_temporary`` attempt or a hidden
    file — and an unreadable footer only loses the hint (None), never
    fails the fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_net_spark.streaming.incremental_clusters import _parquet_footer_rows

    def write(rel, n):
        f = tmp_path / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"x": list(range(n))}), f)
        return f

    write("_batch_id=0/part-0.parquet", 3)
    write("_batch_id=1/part-0.parquet", 4)
    write("_temporary/0/_temporary/attempt_0/part-1.parquet", 100)
    write("_batch_id=1/.part-2.parquet", 100)
    write("_batch_id=1/_part-3.parquet", 100)
    assert _parquet_footer_rows(str(tmp_path)) == 7

    # a truncated leftover inside _temporary/ is never opened
    partial = tmp_path / "_temporary" / "partial.parquet"
    partial.write_bytes(write("_batch_id=2/part-0.parquet", 5).read_bytes()[:20])
    assert _parquet_footer_rows(str(tmp_path)) == 12

    # a truncated visible file: pyarrow raises ArrowInvalid -> no hint
    (tmp_path / "_batch_id=2" / "part-1.parquet").write_bytes(partial.read_bytes())
    assert _parquet_footer_rows(str(tmp_path)) is None

"""The shared payload pair verify (multimodal/verify.py): its Python
kernel runs on every executor slot, each payload reaches a verify group
once, and the payload table is never a broadcast build side. Output
parity of the audio, image and video verifies is pinned by their own
test files."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
from pyspark import TaskContext
from pyspark.sql import functions as F

from cc_net_spark.multimodal import audio as au
from cc_net_spark.multimodal.verify import verify_pairs
from cc_net_spark.sources import synth


def _final_nodes(df) -> list[tuple[str, str]]:
    """(name, formatted details) of every node of AQE's final physical
    plan; call after an action over ``df``."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    final = set(re.findall(r"\((\d+)\)", tree))
    nodes = re.findall(r"^\((\d+)\) (\w+)(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S)
    return [(name, body) for i, name, body in nodes if i in final]


def _table(spark, n=60, nbytes=2000):
    return spark.range(n).selectExpr(
        "CAST(id AS STRING) AS id", f"unhex(repeat('ab', {nbytes})) AS bytes"
    )


def test_tiny_candidate_set_verifies_on_every_slot(spark):
    """Under the session's AQE defaults a 50-pair candidate shuffle
    coalesces to one partition; the verify input keeps one partition
    per slot instead."""
    slots = spark.sparkContext.defaultParallelism
    clips = synth.generate_clips(spark, 40, seed=42)
    pairs = synth.expected_dup_pairs(spark, 40).select(
        F.col("clip_id_a").alias("id_a"), F.col("clip_id_b").alias("id_b")
    ).distinct()  # a shuffle, as candidate_pairs ends in one
    assert pairs.rdd.getNumPartitions() == 1  # what AQE makes of it
    verified = au.pair_audio_invariants(pairs, clips)
    assert verified.rdd.getNumPartitions() == slots
    parts = verified.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts == min(slots, 50)


def test_each_referenced_payload_reaches_its_group_once(spark):
    """Each group's kernel prepares exactly the payloads its pairs
    reference, each once: a payload shipped twice would be prepared twice
    (and duplicate its pairs), an unreferenced one would be prepared for
    nothing, and a missing one would drop its pairs."""
    slots = spark.sparkContext.defaultParallelism
    pairs = spark.range(900).selectExpr(
        "CAST(id % 60 AS STRING) AS id_a", "CAST((id * 7 + 1) % 60 AS STRING) AS id_b"
    )
    prepared = []  # one copy per task: the closure is unpickled per task

    def prepare(blob):
        prepared.append(blob)
        return len(blob)

    rows = verify_pairs(
        pairs, _table(spark), "id", ["bytes"], prepare,
        lambda a, b: {
            "part": [TaskContext.get().partitionId()] * len(a),
            "n_prepared": [len(prepared)] * len(a),
            "nbytes": np.add(a, b),
        },
        "part int, n_prepared long, nbytes long",
    ).collect()
    assert len(rows) == 900
    assert {r["nbytes"] for r in rows} == {4000}
    assert {r["part"] for r in rows} <= set(range(slots))
    group, ids, n_prepared = {}, {}, {}
    for r in rows:
        assert group.setdefault(r["id_a"], r["part"]) == r["part"]  # a pair's group is its id_a's
        ids.setdefault(r["part"], set()).update((r["id_a"], r["id_b"]))
        assert n_prepared.setdefault(r["part"], r["n_prepared"]) == r["n_prepared"]
    assert n_prepared == {p: len(i) for p, i in ids.items()}


def test_verify_plan_broadcasts_no_payload(spark):
    """The broadcast build side is the (group, id hash) set, keyed by one
    long (a hash relation sized to its rows, not a whole memory page);
    the payload scan streams against it."""
    pairs = spark.range(300).selectExpr(
        "CAST(id % 60 AS STRING) AS id_a", "CAST((id * 7 + 1) % 60 AS STRING) AS id_b"
    )
    out = verify_pairs(
        pairs, _table(spark), "id", ["bytes"], len, lambda a, b: {"n": a}, "n long"
    )
    assert len(out.collect()) == 300
    broadcasts = [body for name, body in _final_nodes(out) if name == "BroadcastExchange"]
    assert broadcasts
    for body in broadcasts:
        assert "bytes" not in re.search(r"Input \[\d+\]: \[([^\]]*)\]", body)[1], body
        assert re.search(r"HashedRelationBroadcastMode\(List\(input\[\d+, bigint", body), body


def test_missing_ids_drop_and_duplicate_pairs_stay(spark):
    """Inner-join multiplicity: incremental's ``audio_snr_unverifiable``
    left-anti join counts the pairs that got no row."""
    pairs = spark.createDataFrame(
        [("1", "2"), ("1", "2"), ("1", "99"), ("99", "3"), ("4", "4"), ("5", None)],
        "id_a string, id_b string",
    )
    rows = verify_pairs(
        pairs, _table(spark, 10, 3), "id", ["bytes"], len,
        lambda a, b: {"n": np.add(a, b)}, "n long",
    ).collect()
    assert sorted(tuple(r) for r in rows) == [("1", "2", 6), ("1", "2", 6), ("4", "4", 6)]


def test_fingerprint_kernel_runs_once_per_op(spark):
    """The referenced-id set is read off the pair keys' own exchange (a
    ReusedExchange, no exchange of its own), so the upstream fingerprint
    ``mapInPandas`` is one plan node, in one stage, never recomputed for
    the broadcast."""
    clips = synth.generate_clips(spark, 80, seed=42).select("clip_id", "codec", "bytes")
    clips = clips.localCheckpoint()  # a scan: the generator is a mapInPandas too
    pairs, resolve = au.audio_near_dup_pairs(clips, with_metrics="observe")
    assert pairs.collect()
    resolve()
    nodes = _final_nodes(pairs)
    names = [name for name, _ in nodes]
    assert names.count("MapInPandas") == 1, names
    assert names.count("FlatMapCoGroupsInPandas") == 1, names
    reused = [body for name, body in nodes if name == "ReusedExchange"]
    assert any("_g#" in body for body in reused), reused
    group_exchanges = [b for n, b in nodes if n == "Exchange" and ("_g#" in b or "_pg#" in b)]
    assert len(group_exchanges) == 2, group_exchanges
    assert all("REPARTITION_BY_NUM" in b for b in group_exchanges), group_exchanges

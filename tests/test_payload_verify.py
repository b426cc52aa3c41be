"""The shared payload pair verify (multimodal/verify.py): its Python
kernel runs on every executor slot, and pair rows carrying two payloads
reach it in byte-bounded Arrow batches. Output parity of the audio,
image and video verifies is pinned by their own test files."""

import numpy as np
from pyspark import TaskContext
from pyspark.sql import functions as F

from cc_net_spark.multimodal import audio as au
from cc_net_spark.multimodal.verify import verify_pairs
from cc_net_spark.sources import synth


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


def test_payload_pair_batches_are_byte_bounded(spark):
    """~28 KB pair rows (two 14 KB payloads) arrive in the kernel in
    batches of at most 16 MiB — a few hundred rows, not the 4096-row
    record bound."""
    slots = spark.sparkContext.defaultParallelism
    table = spark.range(400).selectExpr(
        "CAST(id AS STRING) AS id", "unhex(repeat('ab', 14000)) AS bytes"
    )
    pairs = spark.range(800 * slots).selectExpr(
        "CAST(id % 400 AS STRING) AS id_a", "CAST((id * 7 + 1) % 400 AS STRING) AS id_b"
    )

    def kernel(pdf):
        nbytes = sum(map(len, pdf["bytes_a"])) + sum(map(len, pdf["bytes_b"]))
        return {
            "n": np.full(len(pdf), len(pdf)),
            "nbytes": np.full(len(pdf), nbytes),
            "part": np.full(len(pdf), TaskContext.get().partitionId()),
        }

    rows = verify_pairs(
        pairs, table, "id", ["bytes"], kernel, "n long, nbytes long, part int"
    ).groupBy("part").agg(
        F.count(F.lit(1)).alias("rows"), F.max("n").alias("n"), F.max("nbytes").alias("nbytes")
    ).collect()
    assert sum(r["rows"] for r in rows) == 800 * slots
    assert max(r["nbytes"] for r in rows) <= 16 << 20
    assert max(r["n"] for r in rows) < 1000  # ~600 rows of 28 KB
    # the bound actually split a partition's rows into several batches
    assert any(r["n"] < r["rows"] for r in rows)

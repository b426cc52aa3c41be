"""Jobs launched from the engine's driver threads stay in the caller's
job group, and the incremental probe's job count stays at or below a
measured ceiling."""

import uuid

import pytest
from pyspark.sql import functions as F

from cc_net_spark.plans.dag import Stage, StageRunner
from cc_net_spark.sources import synth
from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

TRIO = ("minhash", "simhash", "exact")
FIVE = (*TRIO, "audio", "embedding")

# Jobs of process_batch(batch 1) over batch 0's state in small_batch_mode,
# on the ``corpus`` fixture below, measured before the family table
# (streaming/incremental_neardup.py's per-family sections), where pool
# threads dropped the job group, so counted as every job launched in the
# window: trio 37 (38 in 1 of 6 runs), all five 68 (5 of 5 runs). The
# single families measured minhash 17, simhash 20, exact 16, audio 21,
# embedding 20.
CEILING = {TRIO: 38, FIVE: 68}


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """64 synth clips with audio and a 16-dim embedding per planted
    group, split by clip index: batch 0 the even clips, batch 1 the odd
    ones."""
    path = str(tmp_path_factory.mktemp("probe_jobs") / "clips")
    (
        synth.generate_clips(spark, 64, seed=42, with_audio=True)
        .withColumn("_i", F.expr("int(substring(clip_id, 6))"))
        .withColumn("embedding", F.expr(
            "transform(sequence(0, 15),"
            " k -> CAST(sin((_i DIV 8 + 1) * (k + 1)) AS FLOAT))"
        ))
        .write.parquet(path)
    )
    clips = spark.read.parquet(path)
    return (
        clips.filter("_i % 2 = 0").drop("_i"),
        clips.filter("_i % 2 = 1").drop("_i"),
    )


def _jobs(spark, fn) -> tuple[int, int]:
    """(jobs in a fresh job group, jobs in no group) launched by fn()."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"probe-jobs-{uuid.uuid4().hex[:8]}"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "job-count window")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return (
        len(tracker.getJobIdsForGroup(group)),
        len(set(tracker.getJobIdsForGroup(None)) - before),
    )


def test_driver_threads_keep_the_callers_job_group(spark, corpus, tmp_path):
    """A plain thread starts with no job group. The probe's family
    sections, its flags bucket collect and concurrent writes, and a
    multi-stage StageRunner level all run on driver threads, and every
    job they launch must stay in the caller's group."""
    b0, b1 = corpus
    nd = IncrementalNearDup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        families=("minhash", "simhash"),
    )
    nd.process_batch(b0, 0)
    runner = StageRunner(spark, tmp_path / "dag")
    stages = [
        Stage(name, lambda spark, n=n: spark.range(n).selectExpr("id", "id * 2 AS v"))
        for name, n in (("a", 4), ("b", 6))
    ]

    def run():
        nd.process_batch(b1, 1)
        runner.run(stages, max_parallel=2)

    in_group, outside = _jobs(spark, run)
    assert in_group > 0
    assert outside == 0


@pytest.mark.parametrize("families", [TRIO, FIVE], ids=["trio", "five"])
def test_probe_job_count_ceiling(spark, corpus, tmp_path, families):
    b0, b1 = corpus
    nd = IncrementalNearDup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        families=families, emb_dim=16, small_batch_mode=True,
    )
    nd.process_batch(b0, 0)
    in_group, outside = _jobs(spark, lambda: nd.process_batch(b1, 1))
    assert outside == 0
    assert in_group <= CEILING[families]

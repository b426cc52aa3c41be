"""Physical-plan audits: the properties that make the 100 TB design real
are visible in `.explain` output — assert them so a regression that
silently widens a scan or drops a broadcast fails CI.

* column pruning: no clustering stage may read the audio `bytes` payload
* small-dim joins broadcast (explicit hint survives to the plan)
* filters reach the Parquet scan (PushedFilters)
"""

import pytest
from pyspark.sql import functions as F

from cc_net_spark.sources import synth

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("plan_clips") / "clips.parquet"
    synth.generate_clips(spark, 64, seed=42).write.mode("overwrite").parquet(str(p))
    return str(p)


def test_clustering_never_reads_audio_payload(spark, clips_path, tmp_path):
    """Every text stage selects explicit columns, so Parquet column
    pruning must drop `bytes` from the scan ReadSchema."""
    from cc_net_spark.plans.pipeline import NearDupConfig, build_stages

    cfg = NearDupConfig(fused_pairs=True, include_exact_hashes=False)
    stages = build_stages(clips_path, cfg)
    built_sig = stages[0].build(spark)
    sig_df = built_sig[0] if isinstance(built_sig, tuple) else built_sig
    plan = plan_of(sig_df)
    assert "bytes" not in plan, "signatures stage reads the audio payload"
    built = stages[1].build(spark, signatures=sig_df)
    edges_df = built[0] if isinstance(built, tuple) else built
    assert "bytes" not in plan_of(edges_df), "edges stage reads the audio payload"


def test_scan_split_tuning_is_scoped_to_kernel_scans(spark, clips_path, tmp_path):
    """The compute-sized splits of ``tuned_scan_conf`` reach only the
    clips scans that feed a Python kernel (signatures here); the session
    — and with it every JVM read of the stage tables — keeps Spark's
    IO-sized defaults, during and after a pipeline run."""
    from cc_net_spark.plans.pipeline import (
        NearDupConfig,
        _input_bytes,
        build_stages,
        run_near_dup_pipeline,
        tuned_scan_conf,
    )

    key = "spark.sql.files.maxPartitionBytes"
    default = spark.conf.get(key)
    want = tuned_scan_conf(spark, _input_bytes(spark, clips_path))[key]
    assert want != default
    cfg = NearDupConfig(fused_pairs=True, include_exact_hashes=False)
    sig = build_stages(clips_path, cfg)[0].build(spark)[0]
    assert sig.sparkSession.conf.get(key) == want
    assert spark.conf.get(key) == default
    run_near_dup_pipeline(spark, clips_path, str(tmp_path / "wd"), cfg)
    assert spark.conf.get(key) == default


def test_broadcast_join_in_orders_by_segment(spark):
    from cc_net_spark import queries as Q

    plan = plan_of(Q.q_orders_by_segment(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    from cc_net_spark import queries as Q

    plan = plan_of(Q.q_select_where(spark, SF_DIR))
    assert "PushedFilters" in plan
    # both predicates pushed to the scan, not evaluated post-scan only
    assert "n_chars" in plan.split("PushedFilters")[1][:400]


def test_dedup_probe_reads_only_needed_columns(spark):
    """The dedup probe over chunked documents must not scan unrelated
    document columns (source, lang, ...)."""
    from cc_net_spark import queries as Q

    plan = plan_of(Q.q_dedup_chunks_dropall(spark, SF_DIR))
    scans = [seg for seg in plan.split("Scan parquet")[1:]]
    for seg in scans:
        head = seg[:600]
        assert "source" not in head.split("PushedFilters")[0], (
            "dedup scan reads unrelated columns"
        )


def test_partition_pruning_on_routed_output(spark, tmp_path):
    """write_partitioned routes rows into per-key directories; a reader
    filtering on the partition key must scan ONLY that partition
    (PartitionFilters in the scan, not a post-scan filter)."""
    from cc_net_spark.sources.sinks import write_partitioned

    df = spark.range(1000).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang"
    )
    out = str(tmp_path / "routed")
    write_partitioned(df, out, ["lang"])
    got = spark.read.parquet(out).filter("lang = 'de'")
    plan = plan_of(got)
    seg = plan.split("PartitionFilters")
    assert len(seg) > 1 and "lang" in seg[1][:200], "partition filter not pushed"
    assert got.count() == 333


def test_regional_revenue_broadcasts_both_dims(spark):
    """TPC-H Q5-shaped rollup: region AND nation must broadcast (the
    explicit hints pin what AQE would pick at scale)."""
    from cc_net_spark import queries as Q

    plan = plan_of(Q.q_regional_revenue(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2 or plan.count("BroadcastHashJoin") >= 2


def test_incremental_history_probe_prunes_partitions(spark, tmp_path):
    """The history probe filters `_batch_id < current` on the hive
    partition column, so Spark must prune later/own partitions at the
    SCAN (PartitionFilters) — at 10^12 scale the probe cost is bounded by
    matching band keys, never by re-listing replayed partitions."""
    from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

    nd = IncrementalNearDup(str(tmp_path / "s"), str(tmp_path / "o"))
    for b in range(3):
        nd.process_batch(
            spark.createDataFrame(
                [(f"x{b}", " ".join(f"w{i}" for i in range(12)))],
                "clip_id string, transcript string",
            ),
            b,
        )
    import re

    hist = nd._history(spark, nd.bands_path, 2, kbs=[0, 1, 2])
    plan = plan_of(hist)
    assert "PartitionFilters" in plan
    bracket = plan.split("PartitionFilters", 1)[1]
    bracket = bracket[: bracket.index("]")]
    # the `< 2` comparison itself must sit INSIDE the partition filters —
    # isnotnull alone (predicate evaluated post-scan) must fail here —
    # and since round 4 the key-bucket IN-list prunes there too
    assert re.search(r"_batch_id#?\d*\s*<\s*2", bracket), bracket
    assert "_kb" in bracket, bracket


def test_fallback_join_two_key_semantics(spark):
    """dmoz two-key fallback (make_dmoz_corpus.py:63-93): exact key wins
    over the fallback when both hit; fallback fills otherwise; unmatched
    docs drop (or survive with null when keep_unmatched). The plan
    broadcasts both probes — no corpus-side shuffle."""
    from cc_net_spark.operators.joins import fallback_join

    docs = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d1"), ("u3", "d2"), ("u4", "d3")],
        "url string, domain string",
    )
    lookup = spark.createDataFrame(
        [("u1", "t_exact"), ("d1", "t_dom1"), ("d2", "t_dom2")],
        "key string, tags string",
    )
    got = {
        r["url"]: r["tags"]
        for r in fallback_join(docs, lookup, primary="url", fallback="domain").collect()
    }
    assert got == {"u1": "t_exact", "u2": "t_dom1", "u3": "t_dom2"}
    kept = fallback_join(
        docs, lookup, primary="url", fallback="domain", keep_unmatched=True
    )
    assert kept.count() == 4 and kept.filter("tags IS NULL").count() == 1

    # dict parity (review findings): a matched key with a NULL value
    # still counts as matched, and duplicate lookup keys must not fan
    # out doc rows (deduped deterministically)
    lookup2 = spark.createDataFrame(
        [("u1", None), ("d2", "dom"), ("d2", "dom_dup")],
        "key string, tags string",
    )
    got2 = fallback_join(docs, lookup2, primary="url", fallback="domain")
    rows2 = {r["url"]: r["tags"] for r in got2.collect()}
    assert rows2 == {"u1": None, "u3": "dom"}  # u1 matched-with-null kept
    assert got2.count() == 2  # d2 duplicated in lookup -> still one row

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        fallback_join(docs, lookup, primary="url", fallback="domain").explain()
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 2


def test_sig_params_fingerprints_trigram_default():
    """Absence in the signatures-stage fingerprint must mean HISTORICAL
    content: pre-trigram checkpoints hold unigram SimHash under
    params=None, so the trigram default must emit its value (a resumed
    workdir would otherwise silently serve the over-merging unigram
    table), while an explicit ngram=1 run stays resumable against the
    old checkpoints (ADVICE r5 high finding)."""
    from cc_net_spark.plans.pipeline import NearDupConfig, _sig_params

    assert _sig_params(NearDupConfig()) == "simhash_ngram=3"
    assert _sig_params(NearDupConfig(simhash_ngram=1)) is None
    assert _sig_params(NearDupConfig(simhash_ngram=2)) == "simhash_ngram=2"
    assert (
        _sig_params(NearDupConfig(int_ids=True, simhash_ngram=1)) == "int_ids=True"
    )
    assert (
        _sig_params(NearDupConfig(int_ids=True))
        == "int_ids=True,simhash_ngram=3"
    )

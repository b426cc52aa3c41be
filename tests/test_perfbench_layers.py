"""The benchmark's layer parser (``perfbench/layers.py``) on a real event
log: a tiny local job in a child process (the event log must be on when
its SparkContext starts, and this process already has one) writes the
log and its spans; ``read_event_log`` and ``layer_table`` turn them into
per-span rows here."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import Span, layer_table, read_event_log  # noqa: E402

CHILD = """
import json, sys, time
from pyspark.sql import SparkSession
from perfbench.layers import Tracer

log_dir, out = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[2]")
    .appName("perfbench-layers-tier1")
    .config("spark.ui.enabled", "false")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", "file://" + log_dir)
    .config("spark.eventLog.compress", "false")
    .config("spark.eventLog.rolling.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext
tr = Tracer()
with tr.span("run"):
    with tr.span("map"):
        assert sc.parallelize(range(100), 2).map(lambda x: x + 1).count() == 100
        time.sleep(0.3)  # driver time with no job running
    with tr.span("shuffle"):
        pairs = sc.parallelize(range(1000), 2).map(lambda x: (x % 7, 1))
        assert len(pairs.reduceByKey(lambda x, y: x + y, 2).collect()) == 7
spark.stop()
with open(out, "w") as f:
    json.dump([[s.name, s.start, s.end, s.parent] for s in tr.spans], f)
"""


def test_layer_table_from_a_local_event_log(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    out = tmp_path / "spans.json"
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])}
    subprocess.run(
        [sys.executable, "-c", CHILD, str(log_dir), str(out)],
        cwd=ROOT, env=env, check=True, timeout=300,
    )
    spans = [Span(*row) for row in json.loads(out.read_text())]
    jobs, stages = read_event_log(str(log_dir))
    assert len(jobs) == 2
    t = layer_table(spans, jobs, stages)
    assert t["map"]["jobs"] == 1 and t["shuffle"]["jobs"] == 1
    assert t["map"]["driver_gap_s"] >= 0.25
    assert t["map"]["task_s"] > 0
    assert t["map"]["shuffle_mb"] == 0
    assert t["shuffle"]["shuffle_mb"] > 0
    root = t["_root"]
    assert root["jobs"] == 2 and root["unattributed_jobs"] == 0
    assert root["leaf_s"] + root["unattributed_s"] == pytest.approx(root["wall_s"])

"""Sessionization: batch window-function path vs the stateful-streaming
path (applyInPandasWithState) — same gap semantics."""

import json

import pytest
from pyspark.sql import functions as F

from cc_net_spark.streaming.sessionize import sessionize, sessionize_stream


def test_batch_sessionize_gap_semantics(spark):
    rows = [
        # user 1: two sessions split by a 40-min gap
        (1, "2024-01-01 10:00:00", 1, 1.0),
        (2, "2024-01-01 10:10:00", 1, 2.0),
        (3, "2024-01-01 10:50:01", 1, 4.0),
        # user 2: one session (gaps exactly 30 min are NOT new sessions)
        (4, "2024-01-01 09:00:00", 2, 8.0),
        (5, "2024-01-01 09:30:00", 2, 16.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in sessionize(ev, gap_minutes=30.0).collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 4.0), (2, 1): (2, 24.0)}


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Two micro-batches; the second advances the watermark far past the
    first's sessions, so the stateful operator must emit exactly the
    sessions the batch path computes for the early events."""
    inp = tmp_path / "in"
    inp.mkdir()
    early = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 1, "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 12:00:00", "user_id": 1, "value": 4.0},
        {"event_id": 4, "ts": "2024-01-01 10:05:00", "user_id": 2, "value": 8.0},
    ]
    late = [{"event_id": 9, "ts": "2024-01-03 00:00:00", "user_id": 99, "value": 0.0}]
    import os

    (inp / "b0.json").write_text("\n".join(json.dumps(r) for r in early))
    (inp / "b1.json").write_text("\n".join(json.dumps(r) for r in late))
    # the file source orders by mtime: force b0 before b1
    os.utime(inp / "b0.json", (1_700_000_000, 1_700_000_000))
    os.utime(inp / "b1.json", (1_700_000_100, 1_700_000_100))

    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    )
    out = sessionize_stream(stream, gap_minutes=30.0, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    # expected closed sessions for the early events (user 99 still open)
    assert (1, "2024-01-01 10:00:00", 2, 3.0) in got
    assert (1, "2024-01-01 12:00:00", 1, 4.0) in got
    assert (2, "2024-01-01 10:05:00", 1, 8.0) in got
    assert not any(u == 99 for u, *_ in got)


def test_streaming_sessionize_late_event_merges_without_corruption(spark, tmp_path):
    """A late event (older than the open session's end, inside the
    watermark) must merge into the session WITHOUT rewinding its end —
    the following in-order event must not see a false gap split."""
    import os

    inp = tmp_path / "in"
    inp.mkdir()
    b0 = [
        {"event_id": 1, "ts": "2024-01-01 10:10:00", "user_id": 1, "value": 1.0},
    ]
    b1 = [  # late 10:00 (inside 2h watermark) + in-order 10:35
        {"event_id": 2, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 10:35:00", "user_id": 1, "value": 4.0},
    ]
    b2 = [  # far-future row closes user 1's session via timeout
        {"event_id": 9, "ts": "2024-01-03 00:00:00", "user_id": 99, "value": 0.0},
    ]
    for i, batch in enumerate((b0, b1, b2)):
        f = inp / f"b{i}.json"
        f.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(f, (1_700_000_000 + i * 100,) * 2)
    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(inp))
    )
    out = sessionize_stream(stream, gap_minutes=30.0, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM late_sessions").collect()
    }
    # ONE session: 10:00-10:35 with all three events (10:10 and 10:35 are
    # 25 min apart — a rewound last_us would have split them)
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:35:00", 3, 7.0) in got
    assert len([g for g in got if g[0] == 1]) == 1

"""Shared Hadoop FS marker helpers: metadata ops, no Spark jobs."""


def test_hadoop_fs_marker_roundtrip(spark, tmp_path):
    from cc_net_spark.sources.hadoop_fs import (
        hadoop_fs,
        read_small_text,
        write_small_text,
    )

    p = str(tmp_path / "sub" / "marker.json")
    assert read_small_text(spark, p) is None  # absent -> None, no raise
    write_small_text(spark, p, '{"k": 1}')
    assert read_small_text(spark, p) == '{"k": 1}'
    write_small_text(spark, p, '{"k": 2}')  # overwrite
    assert read_small_text(spark, p) == '{"k": 2}'
    fs, jpath = hadoop_fs(spark, p)
    assert fs.exists(jpath)


def test_torn_first_commit_reads_as_uncommitted(spark, tmp_path):
    """A commit goes through ``<f>.tmp``; a ``.tmp`` left without ``<f>``
    is rolled forward only if it parses — a first commit torn mid-write
    (a truncated manifest) reads as "nothing committed", so a resume
    re-runs the stage instead of failing on every later start."""
    import json

    from cc_net_spark.sources.hadoop_fs import commit_small_text, read_committed

    p = str(tmp_path / "m.json")
    assert read_committed(spark, p, json.loads) is None
    commit_small_text(spark, p, '{"rows": 1}')
    assert read_committed(spark, p, json.loads) == {"rows": 1}
    (tmp_path / "torn.json.tmp").write_text('{"rows": ')
    assert read_committed(spark, str(tmp_path / "torn.json"), json.loads) is None

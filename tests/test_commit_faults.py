"""Fault injection over every commit point of the engine.

Every mutating filesystem call a commit makes goes through one of three
functions of ``sources/hadoop_fs.py`` (``write_small_text``,
``fs_delete``, ``fs_rename``). A clean run counts them; the test then
crashes the commit before call k, for every k, once with real renames
and once with copy+delete renames (the object-store shape, with its own
crash point between the copy and the delete). After each crash:

* a reader sees the old content or the new, never a mix,
* a fresh runner or handler restarts and finishes, with the same result
  as the uncrashed run,
* after that restart (itself the next compaction) exactly one ``v<N>``
  tree remains under a state root.
"""

import json
import pathlib
import re
import shutil

import pyarrow.parquet as pq
import pytest

import cc_net_spark.sources.hadoop_fs as hfs
from cc_net_spark.plans.dag import (
    Stage,
    StageRunner,
    _scan_parquet_dir,
    fingerprint_listing,
    read_manifest,
)
from cc_net_spark.streaming.incremental_clusters import (
    IncrementalClusters,
    compact_clusters_state,
)
from cc_net_spark.streaming.incremental_neardup import (
    IncrementalNearDup,
    maybe_compact_state,
)

_L = "abcdefghijklmnopqrstuvwxyz"
TEXTS = [" ".join(f"{c}{_L[i]}" for i in range(26)) for c in "pqrs"]


class Crash(Exception):
    pass


class Faults:
    """Counts the primitive's mutating calls; raises ``Crash`` before
    call ``crash_at`` (once). ``mode="copy"`` makes every rename a copy
    followed by a delete, each a separate call."""

    def __init__(self, spark, monkeypatch, mode, crash_at=None):
        self.mode, self.crash_at, self.calls = mode, crash_at, 0
        write, delete, rename = hfs.write_small_text, hfs.fs_delete, hfs.fs_rename

        def step():
            self.calls += 1
            if self.calls == self.crash_at:
                raise Crash(f"crash before mutating call {self.calls}")

        def fs_write(spark_, path, content):
            step()
            write(spark_, path, content)

        def fs_delete(spark_, path, recursive=True):
            step()
            return delete(spark_, path, recursive)

        def fs_rename(spark_, src, dst):
            step()
            if mode == "rename":
                return rename(spark_, src, dst)
            fs, jsrc = hfs.hadoop_fs(spark_, src)
            _, jdst = hfs.hadoop_fs(spark_, dst)
            spark_._jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, jsrc, fs, jdst, False, spark_._jsc.hadoopConfiguration()
            )
            step()
            delete(spark_, src, True)

        monkeypatch.setattr(hfs, "write_small_text", fs_write)
        monkeypatch.setattr(hfs, "fs_delete", fs_delete)
        monkeypatch.setattr(hfs, "fs_rename", fs_rename)


def _rows(tree: str | None, table: str, cols: list[str]) -> list[tuple]:
    """Every row of a hive-partitioned state table, with its partition
    path — read with pyarrow, so checking costs no Spark job."""
    if tree is None:
        return []
    base = pathlib.Path(tree, table)
    out = []
    for f in sorted(base.rglob("*.parquet")):
        part = str(f.parent.relative_to(base))
        t = pq.read_table(f, columns=cols)
        out.extend((part, *r) for r in zip(*(t.column(c).to_pylist() for c in cols)))
    return sorted(out)


def _markers(tree: str | None, table: str) -> list[str]:
    if tree is None:
        return []
    return sorted(
        str(p.parent.relative_to(pathlib.Path(tree, table)))
        for p in pathlib.Path(tree, table).glob("*/_SUCCESS")
    )


def _versions(root: str) -> list[str]:
    return sorted(p.name for p in pathlib.Path(root).iterdir() if re.fullmatch(r"v\d+", p.name))


class StageCommit:
    """A forced re-run of a committed stage whose output differs."""

    versioned = False

    @staticmethod
    def stage(n):
        return Stage(
            "nums",
            lambda spark: spark.range(n).selectExpr("id", f"'{n}' AS v"),
            params=f"n={n}",
        )

    def base(self, spark, d):
        StageRunner(spark, d).run([self.stage(4)])

    def run(self, spark, d):
        StageRunner(spark, d).run([self.stage(6)], force=True)

    def restart(self, spark, d):
        # a plain resume: re-runs the stage unless the new commit landed
        StageRunner(spark, d).run([self.stage(6)])
        assert not list(pathlib.Path(d).glob("_tmp-*"))

    def view(self, spark, d):
        # None: the commit is withdrawn, so a runner re-runs the stage
        m = read_manifest(spark, d, "nums")
        if m is None:
            return None
        n_rows, parts = _scan_parquet_dir(pathlib.Path(d, "nums"))
        assert fingerprint_listing(parts) == m["fingerprint"], "manifest/data mix"
        return m["fingerprint"], n_rows, tuple(_rows(d, "nums", ["id", "v"]))


class LshCompaction:
    """``maybe_compact_state``: next version, CURRENT flip, old tree
    deleted."""

    versioned = True

    def base(self, spark, d):
        nd = IncrementalNearDup(f"{d}/state", f"{d}/out", n_state_buckets=2)
        for b in range(2):
            nd.process_batch(
                spark.createDataFrame(
                    [(f"c{b}{i}", TEXTS[2 * b + i]) for i in range(2)],
                    "clip_id string, transcript string",
                ),
                b,
            )

    def run(self, spark, d):
        maybe_compact_state(spark, f"{d}/state", upto_batch=2, min_batches=2)

    restart = run

    def root(self, d):
        return f"{d}/state"

    def view(self, spark, d):
        live = hfs.live_tree(spark, f"{d}/state")
        meta = hfs.read_committed(spark, f"{live}/meta/meta.json", json.loads)
        return (
            json.dumps(meta, sort_keys=True),
            tuple(_rows(live, "sigs", ["clip_id", "tkey"])),
            tuple(_rows(live, "bands", ["clip_id", "band", "key"])),
        )


class ClusterCompaction:
    """``compact_clusters_state``: the same publish over cluster state,
    with a pass-through tail batch and its commit markers."""

    versioned = True
    BATCHES = [
        (["b", "c", "x"], [("b", "c")]),
        (["a", "d"], [("a", "c"), ("d", "c")]),
        (["0", "z"], [("0", "c")]),
    ]

    def base(self, spark, d):
        ic = IncrementalClusters(f"{d}/cstate", n_state_buckets=2)
        for b, (ids, pairs) in enumerate(self.BATCHES):
            ic.update(
                spark.createDataFrame([(i,) for i in ids], "clip_id string"),
                spark.createDataFrame(pairs, "id_a string, id_b string"),
                b,
            )

    def run(self, spark, d):
        compact_clusters_state(spark, f"{d}/cstate", upto_batch=2, n_state_buckets=2)

    restart = run

    def root(self, d):
        return f"{d}/cstate"

    def view(self, spark, d):
        live = hfs.live_tree(spark, f"{d}/cstate")
        meta = hfs.read_committed(spark, f"{live}/meta/meta.json", json.loads)
        return (
            json.dumps(meta, sort_keys=True),
            tuple(_rows(live, "cassign", ["clip_id", "root"])),
            tuple(_rows(live, "calias", ["old_root", "new_root"])),
            tuple(_markers(live, "cassign")),
            tuple(_markers(live, "calias")),
        )


class MetaFirstWrite:
    """A fresh root's first write: ``CURRENT -> v0``, then the meta
    marker."""

    versioned = True

    def base(self, spark, d):
        pass

    def run(self, spark, d):
        IncrementalNearDup(f"{d}/state", f"{d}/out", n_state_buckets=2)._open_state(spark)

    restart = run

    def root(self, d):
        return f"{d}/state"

    def view(self, spark, d):
        # an empty live tree and no root at all are the same content
        live = hfs.live_tree(spark, f"{d}/state")
        return live and hfs.read_committed(spark, f"{live}/meta/meta.json", json.loads)


POINTS = {
    "stage": StageCommit(),
    "lsh_compaction": LshCompaction(),
    "cluster_compaction": ClusterCompaction(),
    "meta_first_write": MetaFirstWrite(),
}


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One committed starting state per commit point, copied per run."""
    out = {}
    for name, point in POINTS.items():
        d = tmp_path_factory.mktemp(f"base-{name}")
        point.base(spark, str(d))
        out[name] = d
    return out


@pytest.mark.parametrize("mode", ["rename", "copy"])
@pytest.mark.parametrize("name", list(POINTS))
def test_crash_at_every_mutating_call(spark, bases, tmp_path, monkeypatch, name, mode):
    point = POINTS[name]

    def fresh(label):
        d = tmp_path / label
        shutil.copytree(bases[name], d)
        return str(d)

    clean = fresh("clean")
    old = point.view(spark, clean)
    with monkeypatch.context() as mp:
        counter = Faults(spark, mp, mode)
        point.run(spark, clean)
    new = point.view(spark, clean)
    assert new != old
    assert counter.calls > 0

    for k in range(1, counter.calls + 1):
        d = fresh(f"crash-{k}")
        with monkeypatch.context() as mp:
            Faults(spark, mp, mode, crash_at=k)
            with pytest.raises(Crash):
                point.run(spark, d)
        seen = point.view(spark, d)
        # a withdrawn stage commit (None) is neither content: it re-runs
        assert seen in (old, new) or (name == "stage" and seen is None), (k, seen)
        point.restart(spark, d)
        assert point.view(spark, d) == new, k
        if point.versioned:
            assert len(_versions(point.root(d))) == 1, (k, _versions(point.root(d)))
        shutil.rmtree(d)


def test_commit_points_use_only_the_primitive():
    """No commit point under plans/ or streaming/ renames or deletes on
    its own: every such call goes through sources/hadoop_fs.py, where the
    fault injector above intercepts it."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "cc_net_spark"
    banned = re.compile(
        r"os\.rename\(|os\.replace\(|shutil\.rmtree\(|\.rename\(|\.delete\("
    )
    hits = [
        f"{f.relative_to(pkg)}:{i}: {line.strip()}"
        for sub in ("plans", "streaming")
        for f in sorted((pkg / sub).rglob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits

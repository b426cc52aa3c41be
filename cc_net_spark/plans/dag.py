"""Resumable stage DAG with per-partition lineage + metrics.

Spark-native replacement for the reference's file-level idempotence
(skip-if-output-exists at ``cc_net/mine.py:254-257,312-321`` and atomic
tmp->rename at ``cc_net/mine.py:221-234``):

* each stage materializes ONE Parquet table under ``workdir/<stage>``,
* a manifest JSON under ``workdir/_manifest/<stage>.json`` commits the
  stage — published with ``sources/hadoop_fs.commit_small_text``, the
  engine's one commit protocol (see ``StageRunner._run_one`` for the
  crash order): per-partition (per output file) row counts read from the
  Parquet FOOTERS (no Spark job — round 1 paid a full count() job per
  stage, which dominated the fixed cost that capped scaling efficiency),
* the stage fingerprint is CONTENT-BASED (hash of the output file
  listing: names, sizes, per-file row counts) — identical output =>
  identical fingerprint, so downstream skips survive benign re-runs and
  a changed output invalidates downstream even if the manifest clock
  says "complete",
* external (non-stage) inputs are fingerprinted the same way from their
  file listing + sizes, so a changed source table re-runs the stages
  that read it (round-1 gap: ``inputs=[]`` stages silently reused stale
  outputs),
* re-running the DAG skips every stage whose manifest + data exist AND
  whose recorded input + external fingerprints still match,
* ``lineage()``/``metrics()``/``partition_metrics()`` expose the records
  as DataFrames (north rule: per-partition lineage + metrics).
"""

from __future__ import annotations

import hashlib
import json
import re
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

import cc_net_spark.sources.hadoop_fs as hfs


def _footer_stats_digest(md) -> str:
    """Digest of the footer's per-column row-group statistics (null
    counts, min/max) — makes the fingerprint sensitive to VALUE changes
    even when row counts and byte sizes happen to coincide, still with
    zero data reads."""
    h = hashlib.sha256()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            h.update(str(col.path_in_schema).encode())
            st = col.statistics
            if st is not None:
                h.update(
                    repr((st.null_count, st.min, st.max, st.num_values)).encode()
                )
    return h.hexdigest()[:16]


def _scan_parquet_dir(path: Path) -> tuple[int, list[dict]]:
    """(total_rows, per-file partition records) from Parquet footers only —
    metadata reads, no Spark job, no data IO.

    rglob: a stage written with partitionBy() nests its files under
    key=value directories — a top-level-only glob would commit rows=0 and
    an empty fingerprint, silently corrupting downstream skips. File
    records carry the path RELATIVE to the stage dir so identically-named
    part files in different partition dirs stay distinguishable in
    partition_metrics()."""
    import pyarrow.parquet as pq

    parts: list[dict] = []
    total = 0
    for f in sorted(path.rglob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        parts.append(
            {
                "file": str(f.relative_to(path)),
                "rows": md.num_rows,
                "bytes": f.stat().st_size,
                "stats": _footer_stats_digest(md),
            }
        )
        total += md.num_rows
    if not parts:
        raise RuntimeError(
            f"stage output under {path} lists no parquet files — refusing "
            "to commit an empty-listing manifest"
        )
    return total, parts


def readback_schema_json(df: DataFrame) -> str:
    """The schema ``spark.read.parquet`` would infer for ``df``'s output:
    Spark writes every Parquet column as optional ("all columns are
    automatically converted to be nullable for compatibility reasons"),
    so read-back inference reports nullable=true recursively. Recording
    THIS normalized schema in the manifest lets stage reads pass it
    explicitly and skip the footer-inference Spark job entirely, while
    yielding a byte-identical downstream schema."""

    def norm(t: dict) -> dict:
        if not isinstance(t, dict):
            return t
        t = dict(t)
        kind = t.get("type")
        if kind == "struct" or "fields" in t:
            t["fields"] = [
                {**f, "nullable": True, "type": norm(f["type"])}
                for f in t["fields"]
            ]
        elif kind == "array":
            t["containsNull"] = True
            t["elementType"] = norm(t["elementType"])
        elif kind == "map":
            t["valueContainsNull"] = True
            t["keyType"] = norm(t["keyType"])
            t["valueType"] = norm(t["valueType"])
        elif kind == "udt":
            pass
        return t

    return json.dumps(norm(json.loads(df.schema.json())))


def fingerprint_listing(parts: list[dict]) -> str:
    """Content-addressed fingerprint of a file listing.

    Spark part-file NAMES embed a per-run UUID, so only content-stable
    attributes participate: the multiset of per-file (rows, bytes,
    footer-statistics digest). Identical output data laid out identically
    => identical fingerprint; changed values surface through the column
    min/max/null statistics even at identical shape. (Stage CODE changes
    are still invisible to lineage — resume after editing a stage's logic
    requires force=True, as documented.)
    """
    shape = sorted((p["rows"], p["bytes"], p.get("stats", "")) for p in parts)
    blob = json.dumps(shape).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def fingerprint_external(path: str | Path, spark: SparkSession | None = None) -> str:
    """Fingerprint an external input (file or directory) from its file
    listing + sizes + mtimes — cheap stat() walk, no data reads.

    Scheme URIs (s3a/hdfs/abfs) are listed through the Hadoop FS API of
    ``spark`` (or the thread's active SparkSession) — a pathlib walk
    would report every remote input as "missing", making its fingerprint
    CONSTANT and silently skipping stages whose remote input changed.
    Callers running OFF the main thread must pass ``spark`` explicitly:
    ``getActiveSession()`` is thread-local and returns None in worker
    threads (StageRunner's parallel mode always passes its own)."""
    if "://" in str(path):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"fingerprint_external({path}): scheme-URI inputs need an "
                "active SparkSession for Hadoop FS listing"
            )
        fs, jpath = hfs.hadoop_fs(spark, str(path))
        if not fs.exists(jpath):
            return "missing"
        parts = []
        it = fs.listFiles(jpath, True)  # recursive
        while it.hasNext():
            st = it.next()
            parts.append(
                {"file": st.getPath().toString(), "bytes": st.getLen(),
                 "mtime_ns": st.getModificationTime()}
            )
        blob = json.dumps(sorted(parts, key=lambda d: d["file"]),
                          sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]
    p = Path(path)
    if not p.exists():
        return "missing"
    files = [p] if p.is_file() else sorted(f for f in p.rglob("*") if f.is_file())
    parts = [
        {"file": str(f.relative_to(p.parent)), "bytes": f.stat().st_size,
         "mtime_ns": f.stat().st_mtime_ns}
        for f in files
    ]
    blob = json.dumps(parts, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


@dataclass
class Stage:
    name: str
    # (spark, **input_dfs) -> DataFrame, or -> (DataFrame, extra_metrics):
    # a build that computes side metrics during candidate generation (e.g.
    # capped-bucket drop counters) returns them in the tuple and they are
    # merged into the manifest's metrics record (no silent truncation)
    build: Callable[..., DataFrame]
    inputs: list[str] = field(default_factory=list)
    # external (non-stage) inputs this stage reads directly, e.g. the
    # source clips table — fingerprinted into the manifest so changed
    # input data invalidates the stage
    external_inputs: list[str] = field(default_factory=list)
    # optional callable computing extra metrics from the materialized output
    metrics_fn: Callable[[DataFrame], dict] | None = None
    # config fingerprint: a string naming the build-parameter choices that
    # change this stage's OUTPUT for identical input data (e.g.
    # "int_ids=True"). Content fingerprints cannot see a pure config flip,
    # so a resumed workdir would otherwise silently serve a table built
    # under the other configuration. None (the default) matches manifests
    # written before this field existed.
    params: str | None = None


def manifest_path(workdir: str | Path, stage: str) -> Path:
    return Path(workdir) / "_manifest" / f"{stage}.json"


def read_manifest(
    spark: SparkSession, workdir: str | Path, stage: str
) -> dict | None:
    """The committed manifest of ``stage`` under ``workdir``, or None —
    the one manifest reader (StageRunner and the pipeline's row hints)."""
    return hfs.read_committed(spark, str(manifest_path(workdir, stage)), json.loads)


class StageRunner:
    """Runs and resumes a list of ``Stage``s under ``workdir``; every
    stage output is committed by its manifest (see ``_run_one``)."""

    def __init__(self, spark: SparkSession, workdir: str | Path):
        self.spark = spark
        self.workdir = Path(workdir)
        # external-input fingerprints memoized per run() invocation: the
        # same source table is fingerprinted by every stage that reads it
        # (skip check + manifest write — up to 2x per stage, 6 stat
        # walks of the corpus listing per 3-stage pipeline). Within one
        # run() the input is immutable by contract (a mid-run mutation
        # was never detectable anyway — the walk happens once per stage,
        # not per read), so one walk per path is equivalent.
        self._ext_cache: dict[str, str] = {}
        # manifests this runner committed or read since run() started: a
        # manifest read is several py4j round trips (and a reply past
        # ~8 KB stalls ~40 ms), so a run reads each prior manifest once
        self._manifests: dict[str, dict | None] = {}

    # -- paths -------------------------------------------------------------
    def data_path(self, stage: str) -> Path:
        return self.workdir / stage

    # -- manifest ----------------------------------------------------------
    def _manifest(self, stage: str) -> dict | None:
        if stage not in self._manifests:
            self._manifests[stage] = read_manifest(self.spark, self.workdir, stage)
        return self._manifests[stage]

    def _fingerprint(self, stage: str) -> str:
        m = self._manifest(stage)
        return m["fingerprint"] if m else ""

    def _ext_fp(self, path: str) -> str:
        if path not in self._ext_cache:
            self._ext_cache[path] = fingerprint_external(path, self.spark)
        return self._ext_cache[path]

    def is_complete(self, stage: Stage) -> bool:
        m = self._manifest(stage.name)
        if m is None or not (self.data_path(stage.name) / "_SUCCESS").exists():
            return False
        if m.get("params") != stage.params:
            return False
        expected = {i: self._fingerprint(i) for i in stage.inputs}
        if m.get("input_fingerprints", {}) != expected:
            return False
        expected_ext = {e: self._ext_fp(e) for e in stage.external_inputs}
        return m.get("external_fingerprints", {}) == expected_ext

    # -- execution ---------------------------------------------------------
    def load(self, stage_name: str) -> DataFrame:
        # manifests committed since round 4 record the stage's read-back
        # schema: passing it to the reader skips the footer-inference job
        # (1 Spark job per stage read — fixed serial latency locally, and
        # a real distributed footer scan on a 10^6-file table at cluster
        # scale). Older manifests fall back to inference.
        m = self._manifest(stage_name)
        reader = self.spark.read
        if m and m.get("schema"):
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
        return reader.parquet(str(self.data_path(stage_name)))

    def rows(self, stage_name: str) -> int | None:
        """Committed row count of a completed stage (manifest lookup)."""
        m = self._manifest(stage_name)
        return m["rows"] if m else None

    def run(
        self, stages: list[Stage], force: bool = False, max_parallel: int = 1
    ) -> dict[str, dict]:
        """Run stages respecting dependencies; returns {stage: manifest}.
        Completed stages (manifest + data + matching input/external
        lineage) are skipped.

        Stages run level by level (a level = every stage whose in-list
        inputs are committed). A level with one stage to run, or any
        level when ``max_parallel == 1``, runs inline on the caller's
        thread, in list order, so its jobs keep the caller's job group.
        ``max_parallel > 1`` runs the stages of a wider level (e.g. the
        four pair families that all read only the signatures table)
        concurrently from driver threads: Spark's scheduler interleaves
        their jobs across the executor slots, so the per-stage
        driver-side barriers (planning, commit, footer scan) overlap
        instead of summing. Results and manifests are identical either
        way (stage outputs are independent files; each level is a
        barrier)."""
        from concurrent.futures import ThreadPoolExecutor

        # fresh external fingerprints and manifests per run(): resume
        # across separate run() calls must still observe source-table
        # changes and commits made by another runner
        self._ext_cache.clear()
        self._manifests.clear()
        results: dict[str, dict] = {}
        remaining = list(stages)
        in_list = {s.name for s in stages}
        while remaining:
            # ready = all in-list inputs already committed this run
            level = [
                s
                for s in remaining
                if all(i in results or i not in in_list for i in s.inputs)
            ]
            if not level:
                raise RuntimeError(
                    "stage dependency cycle or missing input among: "
                    + ", ".join(s.name for s in remaining)
                )
            todo: list[Stage] = []
            for st in level:
                if not force and self.is_complete(st):
                    results[st.name] = {**self._manifest(st.name), "skipped": True}
                else:
                    todo.append(st)
            if len(todo) > 1 and max_parallel > 1:
                with ThreadPoolExecutor(max_workers=max_parallel) as pool:
                    futs = {st.name: pool.submit(self._run_one, st) for st in todo}
                    for name, fut in futs.items():
                        results[name] = fut.result()
            else:
                for st in todo:
                    results[st.name] = self._run_one(st)
            remaining = [s for s in remaining if s.name not in results]
        return results

    def _run_one(self, st: Stage) -> dict:
        """Build, write and commit one stage, in this order:

        1. Spark writes ``_tmp-<stage>-<uuid>`` (a failing build or write
           leaves the previous commit untouched),
        2. the stage's manifest is withdrawn (uncommit),
        3. ``workdir/<stage>`` is replaced by the tmp dir,
        4. the footer scan sizes the new output,
        5. the manifest is committed (``commit_small_text``).

        A crash anywhere before step 5 leaves the stage uncommitted, so
        the next run re-runs it; the restart first deletes the stage's
        ``_tmp-*`` leftovers."""
        spark = self.spark
        t0 = time.time()
        leftover = re.compile(rf"_tmp-{re.escape(st.name)}-[0-9a-f]{{8}}")
        for p in self.workdir.glob("_tmp-*"):
            if leftover.fullmatch(p.name):
                hfs.fs_delete(spark, str(p))
        inputs = {name: self.load(name) for name in st.inputs}
        built = st.build(spark, **inputs)
        build_metrics: dict = {}
        if isinstance(built, tuple):
            df, build_metrics = built
        else:
            df = built

        final = self.data_path(st.name)
        schema_json = readback_schema_json(df)
        tmp = self.workdir / f"_tmp-{st.name}-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(str(tmp))
        mpath = str(manifest_path(self.workdir, st.name))
        hfs.uncommit_small_text(spark, mpath)
        self._manifests.pop(st.name, None)
        hfs.fs_delete(spark, str(final))
        hfs.fs_rename(spark, str(tmp), str(final))
        # rows + per-partition records from footers: zero Spark jobs
        n_rows, partitions = _scan_parquet_dir(final)
        # observe-mode metrics (operators/pairs._observed_metrics) are
        # callables resolvable only after the write action above ran
        build_metrics = {
            k: (v() if callable(v) else v) for k, v in build_metrics.items()
        }
        # read with THIS run's schema, not load()'s manifest lookup — the
        # stage's previous manifest (if any) may describe an older schema
        if st.metrics_fn:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
            extra = st.metrics_fn(spark.read.schema(schema).parquet(str(final)))
        else:
            extra = {}
        manifest = {
            "stage": st.name,
            "rows": n_rows,
            "files": len(partitions),
            "partitions": partitions,
            "wall_seconds": round(time.time() - t0, 3),
            "input_fingerprints": {i: self._fingerprint(i) for i in st.inputs},
            "external_fingerprints": {
                e: self._ext_fp(e) for e in st.external_inputs
            },
            "fingerprint": fingerprint_listing(partitions),
            "schema": schema_json,
            "metrics": {**build_metrics, **extra},
            **({"params": st.params} if st.params is not None else {}),
        }
        hfs.commit_small_text(spark, mpath, json.dumps(manifest, indent=2))
        self._manifests[st.name] = manifest
        return manifest

    # -- lineage / metrics tables -------------------------------------------
    def _committed(self) -> list[dict]:
        """Every committed manifest under the workdir, by stage name."""
        names = {
            p.name.removesuffix(".tmp").removesuffix(".json")
            for p in (self.workdir / "_manifest").glob("*.json*")
            if p.name.endswith((".json", ".json.tmp")) and not p.name.startswith(".")
        }
        found = (read_manifest(self.spark, self.workdir, n) for n in sorted(names))
        return [m for m in found if m is not None]

    def lineage(self) -> DataFrame:
        rows = []
        for m in self._committed():
            deps = [
                *m.get("input_fingerprints", {}).items(),
                *m.get("external_fingerprints", {}).items(),
            ]
            for inp, fp in deps:
                rows.append((m["stage"], inp, fp, m["fingerprint"]))
            if not deps:
                rows.append((m["stage"], None, None, m["fingerprint"]))
        return self.spark.createDataFrame(
            rows, "stage string, input_stage string, input_fingerprint string, fingerprint string"
        )

    def metrics(self) -> DataFrame:
        rows = [
            (m["stage"], m["rows"], m["files"], m["wall_seconds"], json.dumps(m["metrics"]))
            for m in self._committed()
        ]
        return self.spark.createDataFrame(
            rows, "stage string, rows long, files long, wall_seconds double, metrics_json string"
        )

    def partition_metrics(self) -> DataFrame:
        """One row per (stage, output file): the per-partition metrics table."""
        rows = [
            (m["stage"], part["file"], part["rows"], part["bytes"])
            for m in self._committed()
            for part in m.get("partitions", [])
        ]
        return self.spark.createDataFrame(
            rows, "stage string, file string, rows long, bytes long"
        )

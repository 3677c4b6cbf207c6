"""SparkSession builder with the engine's standard configs.

Arrow on (all heavy ops are Arrow-batched pandas UDFs), AQE left at
Spark's defaults (on, with runtime coalesce and skew-join handling; only
the coalescer's minimum partition size is lowered), UTC session timezone
(oracle parity),
shuffle partitions sized for the local-mode core count rather than the 200
default — on a real cluster this is set per-job from executor count.
"""
from __future__ import annotations

import functools
import os
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory that contains the docext_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEM`` is unset: half of the
    host's physical memory in whole GiB, at least 1g and at most 24g. A
    fixed 24g on a 15 GB host let G1 grow the heap with garbage (a test
    JVM whose live data fit in 1 GB reached 11 GB RSS)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, phys // 2 // 2**30))}g"


def get_spark(app_name: str = "docext_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    # default: the cores this process may run on (a fixed count above
    # that oversubscribes small hosts; a 4-vCPU box lost 62% at local[32])
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    n = master[master.index("[") + 1:-1] if "[" in master else "32"
    shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE's coalescer folds post-shuffle partitions below
        # minPartitionSize (default 1 MB) together "for efficiency" — but a
        # CPU-heavy post-shuffle stage (levenshtein scoring, pUDF batches)
        # over a few MB then runs on 1-4 cores of 32 (measured r7:
        # j1_field_alignment's scoring stage). Small partitions of
        # compute-bound work are fine locally; production can raise this
        # back through ``extra_conf`` when shuffle-fetch overhead
        # dominates compute.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        # Prefer shuffled-hash over sort-merge when a side's per-partition
        # build fits (guide §3.1/§9): the engine's equi-joins key on ids
        # whose per-partition hash tables are small, and skipping two full
        # sorts is a strict win; AQE's OOM-guard threshold stays in force.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "256m")
        # Broadcast only genuinely dimension-sized relations: building a
        # broadcast hash relation is SINGLE-THREADED on the driver and
        # every executor holds a copy — broadcasting a ~10 MB-estimate /
        # million-row mid table measured ~1.8× slower than the parallel
        # shuffled-hash path (q5's lineitem⋈orders, r7). Config-scale dims
        # (nation, aggregated key sets) stay under 4 MB and still
        # broadcast; explicit F.broadcast() hints are unaffected.
        .config("spark.sql.autoBroadcastJoinThreshold", "4m")
        .config("spark.sql.session.timeZone", "UTC")
        # File-split sizing (guide §6): openCostInBytes models per-file
        # open latency. The 4 MB default is tuned for object stores; on
        # local NVMe it caps a single small parquet file at totalBytes/4MB
        # scan tasks (a 6 MB table plans TWO tasks on 32 cores, leaving a
        # map-heavy pUDF stage 94% idle — measured r7 on the minhash
        # signature stage). With a small open cost, maxSplitBytes falls
        # back to totalBytes/defaultParallelism, so every scan can fill
        # the local cores. Production (object store, many large files)
        # should raise it back toward 4 MB through ``extra_conf`` and
        # rely on maxPartitionBytes for the split ceiling.
        .config("spark.sql.files.openCostInBytes", "131072")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that stops the per-task
        # importlib.invalidate_caches() re-reading unchanged zip archives
        # (0.15-0.3 s per task on 4 vCPUs, see worker_daemon.py); the
        # PYTHONPATH lets it import from any working directory.
        .config("spark.python.daemon.module", "docext_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # per-caller overrides (e.g. perfbench turns the console progress bar
    # off and points the JVM's temp files into its run directory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fanout_small(df, max_bytes_per_slot: int = 8 << 20):
    """Round-robin fan-out for a compute-heavy map stage over a SMALL
    input: when the optimizer's size estimate for ``df`` fits within
    defaultParallelism × ``max_bytes_per_slot``, repartition to
    defaultParallelism so the stage can use every core even when the
    source's effective parallelism is degenerate (e.g. a single-row-group
    parquet file: Spark plans byte-range splits, but a row group is
    unsplittable, so one task carries all rows — measured r7: the minhash
    pUDF ran on 1 of 32 cores at sf1.0).

    Scale-adaptive by construction (the round rule: derive from input
    size, never a local-mode constant): past the size bound the frame is
    returned untouched — at 100 TB the corpus never pays an extra
    shuffle, and inputs that large have natural scan parallelism anyway.
    Call it on a frame already projected to the columns the heavy stage
    needs, so the shuffle moves only those bytes."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if 0 <= size <= p * max_bytes_per_slot:
        return df.repartition(p)
    return df


def _per_jvm(build):
    """Memoize ``build``, a function of hashable positional arguments that
    returns a native Column, for the life of the JVM.

    Each ``F.*`` call and each lambda in a Column expression is a py4j
    round trip, so a large expression tree costs tenths of a second to
    build on every call. A Column stays valid after ``spark.stop()`` and a
    new SparkContext in the same JVM, but not after a JVM relaunch: its
    py4j id then names nothing, or an unrelated object. The memo is
    therefore dropped whenever ``SparkContext._gateway`` changes.

    Never wrap a builder of Columns that hold a Python UDF: a UDF binds
    to the first SparkContext that runs it. Arguments are keyed with their
    types, so ``5`` and ``5.0`` (different literals) build separately.
    ``cached.cache_clear()`` empties the memo."""
    memo = {"gateway": None, "cols": {}}
    lock = threading.Lock()

    @functools.wraps(build)
    def cached(*args):
        key = tuple((type(a), a) for a in args)
        with lock:
            if memo["gateway"] is not SparkContext._gateway:
                memo["gateway"], memo["cols"] = SparkContext._gateway, {}
            col = memo["cols"].get(key)
            if col is None:
                col = memo["cols"][key] = build(*args)
            return col

    def cache_clear():
        with lock:
            memo["gateway"], memo["cols"] = None, {}

    cached.cache_clear = cache_clear
    return cached

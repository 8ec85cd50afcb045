"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime re-plan +
skew-join splitting), Arrow batching for the pandas-UDF paths, and
shuffle partition counts sized to the data rather than left at 200.

Python workers fork from `clann_spark.worker_daemon` instead of the
stock `pyspark.daemon`. Spark calls `importlib.invalidate_caches()` at
the start of every Python task, and for the `zipimporter`s that pyspark
itself is loaded through (`$SPARK_HOME/python/lib/pyspark.zip`, 15.6 MB,
1328 entries, 16 importers in a reused worker) that re-parses the zip's
whole central directory: ~0.2 s of fixed cost per task, even on warm,
reused workers. A 100-row identity `mapInArrow` took ~250 ms on one
partition and ~1.2 s on 16 (local[4], 4-vCPU host); the JVM alone does
it in ~50 ms. The daemon re-reads an archive only when its mtime or
size changed since the worker last read it (~115 ms and ~440 ms for
those two jobs). That is safe: directory finders are
still invalidated, a zip shipped later with `addPyFile` gets a fresh
importer when first imported from, and a zip rewritten in place has a
new stamp and is re-read (tests/test_worker_daemon.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def track_cache(owner, *cached):
    """Attach persisted intermediates to a returned DataFrame so
    long-running callers (a streaming foreachBatch that builds these
    plans once per micro-batch) can release executor storage with
    unpersist_intermediates after the consuming action — otherwise
    cached blocks accumulate unboundedly over a stream's lifetime.
    Chains: upstream _clann_cached lists on `cached` frames are
    absorbed too."""
    out = list(getattr(owner, "_clann_cached", []))
    for c in cached:
        out.extend(getattr(c, "_clann_cached", []))
        out.append(c)
    owner._clann_cached = out
    return owner


def unpersist_intermediates(df) -> None:
    """Unpersist every intermediate registered by track_cache (safe to
    call repeatedly; plans stay valid — blocks just recompute if ever
    re-executed)."""
    for c in getattr(df, "_clann_cached", []):
        try:
            c.unpersist()
        except Exception:
            pass
    df._clann_cached = []


def estimated_bytes(df) -> int | None:
    """The optimizer's size estimate for df's plan (None if unknown)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def adaptive_input_split(df, per_task_bytes: int):
    """Size-adaptive under-split guard for operators that run expensive
    per-row work directly on a scan (guide §2: derive partitioning from
    the data, not a core-count constant).

    A single local parquet file arrives as ONE partition, which
    serializes the operator's compute into one task; a blanket
    repartition(2x parallelism) instead makes every downstream stage a
    wide task storm over kilobytes. This splits to
    clamp(optimizer_estimated_bytes / per_task_bytes, current, 2x
    parallelism): small inputs keep their natural partitioning, big
    under-split ones fan out, well-partitioned cluster-scale scans
    (partitions >= parallelism) are untouched. per_task_bytes is
    calibrated per caller against the OPTIMIZER'S estimate (well below
    raw data bytes) so one task holds ~0.1-0.2 s of that operator's
    work."""
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= want:
        return df
    size = estimated_bytes(df)  # unknown -> assume big
    target = (
        want * 2
        if size is None
        else min(want * 2, max(1, -(-size // per_task_bytes)))
    )
    return df.repartition(target) if target > cur else df


def get_spark(
    app_name: str = "clann_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make the package importable by Python workers (pandas UDF paths).
    # On a real cluster this is `spark-submit --py-files clann_spark.zip`;
    # in local mode the forked workers inherit PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    executor_mem = None
    if shuffle_partitions is None:
        spec = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        if spec == "*":
            shuffle_partitions = 32
        elif "," in spec:  # local-cluster[workers,cores,memMB]
            parts = spec.split(",")
            # 3x total cores: post-exchange stages then run in >=3
            # waves, so one slow task costs a fraction of a wave
            # instead of stalling the whole stage (at exactly
            # 1 task/core, any skewed partition serializes the stage
            # tail — measured on the N->4N protocol, where the 4N
            # level ran single-wave and lost ~10% wall to stragglers).
            # AQE coalescing shrinks small stages back automatically.
            shuffle_partitions = max(8, 3 * int(parts[0]) * int(parts[1]))
            if len(parts) > 2:
                # leave headroom below the worker's memory budget
                executor_mem = f"{max(1024, int(parts[2]) - 1024)}m"
        else:
            shuffle_partitions = max(8, int(spec))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting — the backstop
        # behind our explicit salting (SURVEY.md §4 skew row).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE (incl. partition coalescing) apply INSIDE cached
        # plans: off by default, which pins every persisted
        # aggregation/exchange at spark.sql.shuffle.partitions and
        # makes each map-over-cache stage a full-width task storm
        # regardless of data size (round-6 stage timelines: 32-task
        # stages over kilobytes for the signature/value-table caches).
        # Size-driven, so it coalesces small caches and leaves big
        # ones wide — scale-neutral by construction.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDFs / toPandas (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Accept subset co-partitioning for joins keyed on a superset
        # of a child's hash partitioning (e.g. a (band_hash, salt) join
        # over children hashed by band_hash alone — salt is a function
        # of rows within one band_hash). The round-5 candidate stage is
        # join-free and no longer needs this, but query-mode band joins
        # and the grouped aggregation still benefit; the flag (default
        # true since Spark 3.3) would otherwise "fix" such plans with
        # redundant full exchanges.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # multi-JVM modes (local-cluster / standalone): executors must
        # also see the package
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        # fork Python workers from a daemon that stops every task
        # re-reading the unchanged pyspark.zip (module docstring);
        # it imports through the PYTHONPATH above
        .config("spark.python.daemon.module", "clann_spark.worker_daemon")
    )
    if executor_mem is not None:
        b = b.config("spark.executor.memory", executor_mem)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a 1000-executor cluster deployment would set
per-executor; the parallelism level is injected so the same job can be run
at two cluster sizes (local[8] vs local[32]) for the scaling-efficiency
benchmark (BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Heap size when neither ``driver_memory`` nor
    $SPARK_GRAFT_DRIVER_MEM is given: a quarter of the tightest memory
    limit (this process's cgroup limit, v2 ``memory.max`` or v1
    ``memory.limit_in_bytes``, and the host's MemAvailable), between
    512 MiB and 16 GiB. The heap is pre-sized and pre-touched, so all of
    it is resident from the start; the rest is left to the Python
    workers and the page cache. A fixed 16g default kept the JVM from
    starting on a 16 GB host."""
    limits = []
    try:
        with open("/proc/self/cgroup") as f:
            groups = [ln.rstrip("\n").split(":", 2) for ln in f]
    except OSError:
        groups = []
    for _, ctrl, path in groups:
        if ctrl == "":
            file = f"/sys/fs/cgroup{path.rstrip('/')}/memory.max"
        elif "memory" in ctrl.split(","):
            file = (f"/sys/fs/cgroup/memory{path.rstrip('/')}"
                    "/memory.limit_in_bytes")
        else:
            continue
        try:
            with open(file) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():  # "max" (v2) means no limit
            limits.append(int(v))
    try:
        with open("/proc/meminfo") as f:
            limits += [int(ln.split()[1]) * 1024 for ln in f
                       if ln.startswith("MemAvailable:")]
    except OSError:
        pass
    if not limits:
        return "16g"
    mib = min(limits) // 4 >> 20
    return f"{min(max(mib, 512), 16 << 10)}m"


def get_spark(
    app_name: str = "ocr_spark",
    cores: int | str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int N -> master local[N]; "*" -> local[*]; default from
    $SPARK_GRAFT_CPUS else "*". Shuffle partitions follow the core
    count, at least 4, and 32 for "*" (local mode: no reason for 200 tiny
    partitions at small SF; at cluster scale this would be ~2-3x total
    cores).
    """
    # one BLAS thread per Python worker: N workers already saturate the
    # box; nested OpenBLAS thread pools oversubscribe it and add pool
    # synchronization jitter to every small matmul (measured 2x on the
    # recognizer's 500x35 Hamming matmul). Local mode: workers inherit
    # the JVM env, which inherits this process env — set before launch.
    # spark-submit path: operators pin at runtime (blas_pin.py).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    mem = (driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
           or _default_driver_memory())
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Pre-size + pre-touch the heap: local-mode measurements showed
        # multi-second allocation-growth stalls (run times 3s..80s for the
        # identical plan) when the heap grows under churn; -Xms fixes the
        # variance. On a real cluster the same goes in
        # spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local-bench stand-in for cluster scan parallelism: the sf0.1
        # corpus is a few hundred MB, so the production default
        # (128 MB/split) would plan a handful of scan tasks and starve the
        # map-side UDF stages. At 100 TB the default yields ~10^6 splits
        # and these knobs are a no-op; here they keep splits >= cores so
        # scaling is measurable.
        .config("spark.sql.files.maxPartitionBytes", "4194304")
        .config("spark.sql.files.openCostInBytes", "262144")
        # InferFiltersFromGenerate turns explode(f(x)) into
        # Filter(size(f(x))>0) + Generate(f(x)) with f fully re-inlined in
        # the filter; for shingling, f contains element_at(split(text),i)
        # per position, so the inferred filter re-runs split() per element
        # — O(len^2) per document (measured 9.5s -> 0.7s at sf0.1 for
        # dedup.word_shingles). The rule only ever skips empty-array rows
        # early, which Generate does anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def checkpoint_truncate(df):
    """Lineage-truncating checkpoint: reliable if a checkpoint dir is set.

    The iterative operators (connected components, NB label folding,
    PageRank) checkpoint once per round so the logical plan stays O(1).
    ``localCheckpoint`` blocks are EXECUTOR-LOCAL with lineage gone — the
    right trade on the single-box bench, but on a multi-node cluster one
    executor loss makes the remaining rounds unrecoverable mid-query, and
    block release rides the driver's GC cadence.

    Deployments that need fault tolerance call
    ``spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)`` once; every
    iterative operator then switches to reliable checkpoints here
    automatically (files survive executor loss; freed by the
    ContextCleaner deleting the directory), trading per-round write
    latency for recoverability. No per-operator flag to thread through.
    Both forms checkpoint eagerly.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()

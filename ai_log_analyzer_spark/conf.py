"""SparkSession factory with the tuned configuration in ONE place
(SURVEY.md §4.3): AQE on, skew-join on, Arrow on, shuffle partitions
= cores, so every reduce stage -- and the stateful stream's state
store -- runs one task per core. At cluster scale the same confs
apply; only master/memory change via spark-submit."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "ai-log-analyzer-spark",
                  cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict | None = None) -> SparkSession:
    # one BLAS thread per python worker: N workers × multi-threaded BLAS
    # oversubscribes the box and collapses the scorer stage at high core
    # counts (measured: 4.4x slowdown at local[32] vs local[8])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # one reduce task per core: each task of a Python-UDF reduce stage
    # pays a worker round trip, and each stateful-stream task a state-
    # store load/commit, so extra waves are pure fixed cost (SCALING.md,
    # "shuffle partitions = cores").  Pass shuffle_partitions= (or
    # --conf on spark-submit) for skewed few-series batches, where
    # several waves let the scheduler balance load.  A stream checkpoint
    # keeps the count it was created with.
    if shuffle_partitions is None:
        shuffle_partitions = cores
    b = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # byte-based shuffle coalescing measured PATHOLOGICAL for the
        # CPU-bound scorer stage on this box (61s vs 19s at local[32],
        # same final partition count) and caps UDF parallelism below
        # core count at local-bench shuffle volumes; skew-join splitting
        # stays on. At petabyte shuffle volumes re-enable per-job.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # scan-split granularity knob (default = Spark's 128m): smaller
        # splits → more scan tasks → the scheduler can route around a
        # straggling core; on a multi-tenant box (and any real cluster
        # with uneven executors) coarse 1-task-per-core scans make the
        # whole stage wait on the slowest core
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # tmpfs shuffle dirs: local mode funnels every level's shuffle
        # through ONE disk, an artifact a real cluster doesn't have
        # (4x executors bring 4x disks). RAM-backed shuffle restores the
        # per-core scaling a multi-node shuffle service would give.
        .config("spark.local.dir", os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to executor Python workers — same artifact a real
    # cluster gets via spark-submit --py-files (see packaging.py)
    from .packaging import package_zip
    spark.sparkContext.addPyFile(package_zip())
    return spark

"""SparkSession factory with scale-aware defaults.

The reference runs single-threaded pandas (SURVEY §4.2); here every knob
is set for distributed execution:

* AQE on — runtime coalescing, skew-join splitting, dynamic join strategy
  switches survive a 1000-executor deployment unchanged.
* ``spark.sql.shuffle.partitions`` defaults to ``max(cores, 8)``; AQE
  starts each shuffle at 4× that and coalesces down.  On a real cluster
  the deployer passes ``shuffle_partitions`` or ``extra_conf``.  Nothing
  in the engine assumes a partition count.
* session timezone pinned UTC — the reference mixes UTC / GMT+7 / naive
  timestamps (SURVEY §7.4); the engine standardizes on UTC internally and
  exposes explicit conversion ops in :mod:`.functions.timestamps`.
* Arrow enabled for every pandas interchange (pandas UDFs, createDataFrame).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data_pipeline_bigquery_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (falling back to all cores); on a cluster, pass the real master URL or
    rely on spark-submit's configuration (builder settings never override
    an existing session).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = int(cpus) if cpus else (os.cpu_count() or 8)
        shuffle_partitions = max(n, 8)

    # One BLAS thread per Python worker: Spark already runs one task
    # per core, so OpenBLAS spawning its own thread pool inside EVERY
    # pandas-UDF worker oversubscribes cores² (measured: wildly
    # unstable numpy matmul times in the knn kernel at sf10).  Local
    # mode: workers inherit this process env (set BEFORE the JVM
    # forks them); clusters: spark.executorEnv carries it.  Deployers
    # with spare cores per task override via the same env var.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start shuffles fine-grained and let AQE coalesce DOWN: with a
        # pinned partition count, per-task execution memory is heap /
        # (2 x cores) regardless of data volume, and a 10x-scale corpus
        # OOMs its aggregates (measured: the r13 sf10 probe's 205M-edge
        # distinct threw AGGREGATE_OUT_OF_MEMORY at 32 partitions; 4x
        # initial partitions clear it — 1.6M edge rows/task — with
        # small-SF plans unchanged because AQE coalesces them back).
        # Exactly 4x, no floor: a floor would collapse every small
        # configuration onto one initial width and blunt the
        # partition-count invariance sweep's 5-vs-7-partition arms.
        # NOT 8x: at 32 cores that is 256 initial partitions, which
        # crossed a measured single-JVM cliff on the array-heavy
        # SMJ/SHJ key (minhash_estimate_calibration sf1: 32s at
        # 64/128 initial, 58-104s at 256; not the sort-bypass
        # writer — raising spark.shuffle.sort.bypassMergeThreshold
        # did not recover it).  Deployers sizing a real cluster set
        # shuffle.partitions to the data and this multiplier rides it.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 4),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Use the unified sort-based shuffle writer for every real
        # exchange.  The bypass-merge writer fires when reduce-partition
        # count R <= 200 (no map-side combine — i.e. every SQL exchange
        # here, since initialPartitionNum = 4x cores = 128 locally) and
        # writes M x R shuffle files per stage; the 4096 file
        # creates/deletes per exchange dominate small-to-mid shuffles
        # (measured: a 20k-row groupBy exchange floors at 0.90-1.06 s
        # bypass vs 0.31-0.35 s sort writer on this host, fresh JVMs,
        # interleaved).  On a production cluster shuffle.partitions
        # always exceeds 200, so the sort writer is what runs at scale
        # anyway — this pins the SAME writer locally instead of letting
        # the local partition count flip Spark onto the M x R path.
        # Shuffles with R <= 7 (below the engine's 8-partition floor;
        # only explicit tiny repartitions in tests) keep the bypass
        # path, where it genuinely wins.  Deployers override via
        # ``extra_conf``.
        .config("spark.shuffle.sort.bypassMergeThreshold", "7")
        .config("spark.sql.session.timeZone", "UTC")
        # pin ANSI to Spark 4's default so the engine doesn't float on
        # the installed build's flag; the registry is additionally
        # PROVEN flag-independent (ANSI-off invariance sweep, round 11
        # — the arithmetic routes through DECIMAL/guarded div paths
        # that behave identically both ways on in-contract inputs)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # cluster twin of the local env pin above (one BLAS thread per
        # task-pinned python worker); reads the post-setdefault env so a
        # deployer's override reaches executors in both deployment modes
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ["OPENBLAS_NUM_THREADS"],
        )
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config("spark.sql.parquet.filterPushdown", "true")
        # per-Column-call Python stack capture (error context) costs ~5 ms
        # per DataFrame API call; off in production, plan-build time drops
        # measurably on expression-heavy queries (minhash: ~0.6 s)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # fixture events.parquet uses TIMESTAMP(NANOS); read as long and
        # convert in catalog.load (Spark has no nanosecond timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

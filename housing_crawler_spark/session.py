"""SparkSession factory tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code is
correct on a multi-executor cluster (AQE on, Arrow on, adaptive skew-join
on). ``spark.sql.shuffle.partitions`` defaults to the local core count —
on a real cluster it should be set to ~2-3x total cores by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# paths in one parquet read above which Spark lists them with a parallel
# Spark job instead of on the driver (its default is 32). Crawl reads
# name one dir per manifest bucket: at the default, every read of a
# 64-bucket base launched a listing job, each paying the job floor
PARTITION_DISCOVERY_THRESHOLD = 1 << 16


def _driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half the
    host's RAM capped at 48g. A heap larger than the host never comes
    under GC pressure before the kernel's OOM killer ends the JVM."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1, min(48 * 1024, kb // 2048))}m"


def spark_session(
    app_name: str = "housing_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE + Arrow + UTC are mandatory for this engine:
    - AQE coalesces small shuffle partitions and splits skewed ones at
      runtime (the frontier's hot hosts additionally get explicit salting
      in ``operators.frontier`` — AQE alone does not fix skewed windows).
    - Arrow makes the pandas-UDF image codec path batch-transfer.
    - UTC pins timestamp semantics so results match ANSI-SQL oracles.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or cores
    # one BLAS thread per python worker: task-level parallelism already
    # saturates the cores; nested BLAS threading (OpenBLAS defaults to
    # n_cores PER process) oversubscribes 32x32 and thrashes
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARTITION_DISCOVERY_THRESHOLD),
        )
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (spark-submit --py-files
    semantics): local-mode workers don't inherit the driver's cwd, so
    mapInPandas closures referencing the package would fail to unpickle
    without it."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(
        tempfile.gettempdir(), f"hcs_pyfiles_{os.getpid()}", "housing_crawler_spark"
    )
    if not os.path.exists(zip_base + ".zip"):
        os.makedirs(os.path.dirname(zip_base), exist_ok=True)
        shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "housing_crawler_spark")
    try:
        spark.sparkContext.addPyFile(zip_base + ".zip")
    except Exception:
        pass  # already added in this context

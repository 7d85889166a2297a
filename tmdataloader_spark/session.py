"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same settings express the
intent that matters on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), shuffle partition count
sized to the parallelism, Arrow for any Python exchange, and UTC
timestamps for reproducibility.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of the host's MemTotal in whole GB (at least 1g), so the
    driver JVM leaves room for the Python workers and the OS."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "1g"
    return f"{max(kb // 2 // 1024**2, 1)}g"


def get_spark(
    app_name: str = "tmdataloader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime stats re-plan joins, coalesce post-shuffle
      partitions, and split skewed partitions — the Spark-native
      replacement for the reference's hand-tuning (SURVEY.md §4:
      planner hints, index-rebuild thresholds, path-length buckets).
    - ``spark.sql.shuffle.partitions`` sized to local parallelism for
      tests; on a real cluster this is overridden (or left to AQE's
      coalescing with a high initial value).
    - Arrow enabled so any Pandas-UDF exchange is columnar.
    - Driver heap from ``SPARK_GRAFT_DRIVER_MEM``, else
      :func:`default_driver_memory`.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Classic (non-ANSI) eval: the engine's type inference relies on
        # try-parse casts (SURVEY.md §1.2); library code also uses
        # try_cast so it is correct under ANSI defaults too.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver testdata parquet tables as DataFrames (TESTDATA.md)."""
    out = [spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names]
    return out[0] if len(out) == 1 else out

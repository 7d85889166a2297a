"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same settings express the
intent that matters on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), shuffle partition count
sized to the parallelism, Arrow for any Python exchange, and UTC
timestamps for reproducibility.

The driver JVM of a short one-shot run (a small ``tm_etl`` upload, a
tool, a benchmark run) lives 10-40 s; under HotSpot's default tiered
JIT its C2 compiler threads take most of its CPU compiling code that
the process exits before it can run.  :data:`ONE_SHOT_JIT` makes
HotSpot compile with C1 only, with a code cache large enough that it
never fills (PERF_NOTES.md, "Upload path").  It applies to the driver
JVM only, which in local mode also runs the executor tasks; executors
on a cluster keep their own JIT.  A run long enough for C2's faster
code to pay back its compile time (a large upload, the test suite's
session) passes :data:`FULL_JIT` instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: ``spark.driver.defaultJavaOptions`` of every session :func:`get_spark`
#: builds: C1 only, with a 240 MB code cache.  ``TieredStopAtLevel=1``
#: alone leaves HotSpot one unsegmented 48 MB code cache, which a single
#: upload fills to about 38 MB.
ONE_SHOT_JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

#: HotSpot's default tiered JIT (C1, then C2 for hot code), as the
#: ``spark.driver.defaultJavaOptions`` of a long-lived driver.
FULL_JIT = "-XX:TieredStopAtLevel=4"


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
    - Driver JIT sized for a short-lived process: :data:`ONE_SHOT_JIT`
      (C1 only, 240 MB code cache) as ``spark.driver.defaultJavaOptions``,
      which replaces a site's own setting of that key; a site's or
      caller's ``spark.driver.extraJavaOptions`` still applies, after
      it.  It only takes effect when this call launches the driver JVM.
      A long-lived session passes ``{"spark.driver.defaultJavaOptions":
      FULL_JIT}`` in ``extra_conf``.
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
        .config("spark.driver.defaultJavaOptions", ONE_SHOT_JIT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-side frame of ``rows`` (tuples in ``ddl`` column order)
    built in the JVM.

    ``spark.createDataFrame(<list>, ddl)`` parallelizes the rows as a
    Python RDD, so every action over the frame forks ``pyspark.daemon``
    workers to scan it.  Here the rows become a ``pyarrow.Table`` typed
    by ``StructType.fromDDL(ddl)``, which Spark turns into a
    ``LocalRelation`` (planned as ``LocalTableScan``): no Python worker
    runs, and Catalyst's ``PropagateEmptyRelation`` drops an empty one
    from a union.  Schema (names, types, nullability) and rows equal
    those of ``spark.createDataFrame(rows, ddl)``.

    For the loader's control rows (empty landing tables, registry and
    tree-node rows, audit rows); the table is sent through the driver,
    so keep it small.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)

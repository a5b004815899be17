"""SparkSession factory with scale-aware defaults.

Local runs use ``local[N]`` (single JVM); the configuration below is
written for a real multi-executor cluster and degrades gracefully to
local mode:

* AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy) — at 100 TB the static plan is always wrong somewhere.
* shuffle partitions sized to cores locally; on a cluster AQE coalesces
  from a high initial number, so the exact value matters less.
* UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle compares naive-UTC values).
* Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
* a codegen class cache that holds the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a query built again in the same
  session reuses its compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: entries of Spark's JVM-wide cache of compiled generated classes
#: (``spark.sql.codegen.cache.maxEntries``, default 100). Measured: one
#: sf0.01 session's 87 bench.py headline queries compile 1,431 distinct
#: classes, the perfbench ``catalog-cold`` pass 131 and the
#: ``daily-pipeline`` pass 186-191. At the default size every repeated
#: pass evicted and recompiled nearly all of them (98 and 176-178
#: compiles per pass). Holding all 1,431 classes cost about 15 MB of
#: metaspace and 17 MB of JIT code heap.
CODEGEN_CACHE_ENTRIES = 2048


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "multithreaded_mapreduce_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or the machine's CPU
    count; ``shuffle_partitions`` defaults to ``cores`` (local mode:
    one wave of shuffle tasks; a cluster deployment would raise this
    and let AQE coalesce).

    The codegen cache size is a static conf that the JVM fixes at its
    first compile, so it takes effect only in a session this function
    starts (the CLI, bench.py, the tests and perfbench all do); a
    session that already exists keeps its size. ``extra_conf`` can
    override it like any other conf.
    """
    n = cores or default_parallelism()
    parts = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # NOTE: runtime-filter injection (bloomFilter / semiJoinReduction)
        # is deliberately LEFT AT DEFAULT: measured here, enabling it sent
        # the optimizer into a multi-minute planning blowup on the deeply
        # nested iterative plans (10-round PageRank join tree). On a real
        # cluster enable it per-query for selective fact⋈dim joins, not
        # globally.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the session's JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile count; a cache hit does not count)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

"""SparkSession factory.

The reference runs eager single-threaded pandas (transformation_pipeline.py:40-118)
with no parallelism, no spill, no optimizer. We replace that with a tuned
SparkSession: AQE for runtime re-planning (skew joins, partition coalescing),
Arrow for the few Python-UDF crossings, UTC session timezone so timestamp
semantics match a UTC-naive oracle (DuckDB), and shuffle partitions sized to
the local core count rather than the 200 default.

At cluster scale the same factory applies — only ``master`` and the memory /
shuffle-partition knobs change (shuffle partitions ~ 2-3x total cores, or
left to AQE's ``spark.sql.adaptive.coalescePartitions`` with a high initial
number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "books2scrape_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings rationale:
    - AQE on: runtime join-strategy switches, skew-join splitting, and
      post-shuffle partition coalescing — the scale-safety net.
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp
      formatting, matches DuckDB's UTC-naive timestamps.
    - Arrow on: every pandas_udf / applyInPandas / createDataFrame(pandas)
      crossing is Arrow-batched instead of pickled row-at-a-time.
    - shuffle partitions ~ cores locally; AQE coalesces further.
    - Generated-class cache sized to a whole headline pass: with Spark's
      default of 100 entries every warm pass recompiled its ~256 classes
      with Janino; with room for them it compiles 4-14. The conf is
      static, so it only takes effect on the session builder that starts
      the JVM.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan-parallelism floor (guide §6), scale-adaptive: single-file
        # parquet inputs otherwise collapse to one ~128MB split per
        # table, serializing every scan stage regardless of core count
        # (measured on the 3x-fact probe: flagship −30%, text_stats
        # −23% warm with the floor; neutral at sf0.1 where scans
        # overlap broadcast builds). minPartitionNum tracks the core
        # count — on a real cluster scans have thousands of splits and
        # the floor is a no-op; openCostInBytes 256KB keeps the split
        # math from re-merging the floored splits (4MB default floors
        # split size above small-file sizes).
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Codegen cache (static conf: set before the JVM's first codegen,
        # spark.conf.set cannot change it). One headline pass compiles
        # 256 distinct classes (sf0.001 and sf0.01); the default 100
        # entries evicted them before the next pass, so every warm pass
        # recompiled 268-274 (measured with CodegenMetrics). 512 holds a
        # pass with 2x headroom across Guava's LRU segments: warm passes
        # compile 4-12, the same as at 2000. A full-registry sweep
        # compiles 5,091 classes (mean bytecode 3.0 KB, p99 12 KB), but
        # it runs each qname once, so holding it would gain nothing.
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

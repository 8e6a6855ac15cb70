"""SparkSession factory tuned for the dedup engine.

Local mode is a stand-in for a multi-executor cluster: every config here
is chosen to also be the right default at 1000 executors (AQE for runtime
re-planning / skew splitting, Arrow for vectorized Python, shuffle
partitions sized to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dedup_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    On a real cluster the master/executor topology comes from
    spark-submit; everything below is topology-independent tuning.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Shuffle partitions == cores, not 2x: measured 30% faster on
        # shuffle-heavy pipelines (fewer task launches; AQE splits skewed
        # partitions at runtime, which covers what 2x was insurance for).
        .config("spark.sql.shuffle.partitions", str(cores))
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Big binary payloads: keep scan partitions bounded so a partition
        # of image bytes fits executor memory at 100 TB scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Auto-broadcast small dims (candidate-key sets, configs).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # With a large heap the derived Tungsten page size hits its 64 MB
        # cap; every hash-aggregate task then allocates+zeroes a 64 MB
        # long[] for its fast map — measured 10-40x slowdown on small
        # stages. 4 MB pages keep allocation proportional to data and
        # cost nothing at scale (maps grow by adding pages).
        .config("spark.buffer.pageSize", "4m")
        # The generated-class cache defaults to 100 entries, but one
        # dedup_pipeline call needs ~220-240 distinct classes and one
        # dedup_job call 164: at the default every warm call recompiles
        # all of them in Janino and re-runs the C2 JIT on the result.
        # 1000 holds both working sets in one session (164 + ~240)
        # with about 2x headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Checkpointed/cached RDD partitions carry locality preferences;
        # waiting 3s (default) per wave for NODE_LOCAL slots stalls tiny
        # stages. Schedule immediately — at our task sizes a remote fetch
        # is cheaper than any wait.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Hook for the scaling harness (tools/bench_cgroup.py): under a
        # CFS cpu quota the JVM still sizes GC/JIT thread pools to the
        # HOST's cpu count (32), so GC threads thrash the quota
        # (GCLocker retry storms -> spurious heap OOM). The harness
        # passes -XX:ActiveProcessorCount=<quota cores>, which is also
        # the faithful emulation of a real N-core executor JVM.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

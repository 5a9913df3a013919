"""SparkSession factory tuned for the harness (local[N]) and for scale.

The reference builds its session at
`containers/spark-etl/streaming_etl.py:10-16` (Kryo serializer, Kafka/Redis
jars, streaming schema inference, AQE commented out because it does not
apply to streaming). Our engine serves both batch and streaming surfaces,
so we enable AQE (batch-only effect), pin the session timezone to UTC so
DuckDB-oracle comparisons are stable, and size shuffle partitions to the
local core count instead of the 200 default.

It also sizes Spark's generated-code class cache to the working set of
an analyst session (`CODEGEN_CACHE_MAX_ENTRIES`). A dashboard refresh
re-plans the same queries, and each plan's generated classes are looked
up in that cache by source text; at Spark's default of 100 entries a
pass over the dashboard, views and stats families (~190 classes) missed
on nearly every lookup and Janino-compiled ~143 classes again per pass.
The generated class names also leave out the codegen stage id, which
AQE assigns in the order concurrent stages finish.

At cluster scale the same builder applies; only `master`, memory and
`spark.sql.shuffle.partitions` change (partitions ≈ 2-3× total cores;
AQE coalescing trims the excess at runtime). The class cache is a static
conf: it reaches every executor JVM through SparkConf, and each JVM keeps
its own cache.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: `spark.sql.codegen.cache.maxEntries` (Spark's default is 100). Regime:
#: one interactive session that cycles through the dashboard, views and
#: stats families (~190 generated classes per pass, counted with
#: `codegen_compiles`) plus the streaming query. At 100 entries the LRU
#: thrashed and each warm pass recompiled ~143 classes; at this size a
#: warm pass compiles none. Not sized to the whole registry (~3,900
#: classes for one call of every query): cached classes keep their JIT
#: code alive, and a full code heap switches the JIT off (SCALING.md,
#: "Known costs").
CODEGEN_CACHE_MAX_ENTRIES = 1024


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (cache
    hits are not counted): the difference across a query is its compile
    count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "banking_streaming_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # local mode runs every "executor" thread inside the driver JVM, whose
    # 1g default heap cannot hold the session-lifetime lazy persists a
    # long query sweep accumulates (bench OOMed at ~50 cached frames at
    # sf0.1). Honored only at JVM launch — a getOrCreate against a live
    # gateway ignores it, which is fine: each CLI/pytest process launches
    # its own JVM. On a real cluster this is the executor-memory knob.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # Executor Python workers otherwise resolve via $PATH, which under a
        # scrubbed env (or a differently-configured driver host) lands on a
        # system interpreter without pandas/pyarrow — any mapInPandas stage
        # then dies with ModuleNotFoundError. Pin workers to the exact
        # interpreter running the driver program.
        .config("spark.pyspark.python", sys.executable)
        .config("spark.pyspark.driver.python", sys.executable)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # The class cache is keyed by source text, and by default the
        # source names its whole-stage codegen stage id. AQE numbers the
        # stages it re-plans in the order their inputs finish, so two
        # runs of one plan can get permuted ids and compile the same
        # code again (naive_bayes_approval, theil_sen_hourly_trend).
        # Without the id, equal code is one cache entry.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert to broadcast joins when runtime stats allow, split skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle parity: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the pandas-UDF slow path (similarity / multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame debugging (Spark 4) captures the Python call site on
        # EVERY DSL Column/DataFrame call via ~4 extra py4j roundtrips
        # (getActiveSession + conf.get + PySparkCurrentOrigin.set/clear)
        # plus a Python stack walk; its only effect is enriching error
        # messages with the user call site. Profiled on this engine's
        # wide expression builders (bootstrap_mean_ci: 36,766 roundtrips,
        # ~25 s of a ~30 s plan build) — driver-side overhead at ANY
        # cluster scale, so it is off here and in production alike.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Kryo: reference keeps it for its RDD sink path (streaming_etl.py:14).
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

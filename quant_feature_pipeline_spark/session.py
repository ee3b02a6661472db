"""SparkSession builder — the one place that sets the engine's conf.

Local-mode testing (``local[N]``) with configs that carry over to a real
multi-executor cluster: AQE on (runtime re-plan + skew-join splitting),
Arrow enabled for pandas-UDF exchange, UTC session timezone, shuffle
partitions sized to the parallelism level instead of the 200 default.

Compile policy. At the engine's sizes a run is dominated by fixed
overhead, and most of that overhead is compilation: Janino compiling the
generated classes of each plan, then the JIT compiling those classes and
the driver's planning code. Two constants keep that cost once per JVM:

- ``CODEGEN_CACHE_ENTRIES`` sizes Spark's generated-class cache. One
  flagship run needs 129 distinct classes at two timeframes and 163-167
  at four; with the default 100 entries every repeat run evicts and
  recompiles, and the JIT then compiles the new classes again.
- ``JIT_OPTIONS`` raise the C2 (tier-4) thresholds tenfold. Catalyst
  rules, Janino and py4j run 10^3-10^5 times per run, enough for C2 at
  the defaults, yet C1 code is good enough for them. Data-plane loops
  (generated ``processNext``, Arrow, parquet) run millions of times and
  still reach C2 within milliseconds at scale. C1-only
  (``TieredStopAtLevel=1``) would give those loops up, so it is not used.

The JVM flags go in ``spark.{driver,executor}.defaultJavaOptions``, which
Spark prepends to ``extraJavaOptions``, so a caller's own
``extraJavaOptions`` add to them instead of replacing them.

Deployment caveat: under ``spark-submit`` in client mode the driver JVM
starts before Python runs, so a builder conf cannot reach it. Pass the
driver flags on the command line::

    spark-submit --driver-java-options "<JIT_OPTIONS>" ...

The executor flags and the codegen cache size still apply from the
builder, since executors start (and the cache is first sized) after the
session is created.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headroom over the largest measured run: ~290 whole-stage spans
# across a 4-timeframe flagship run
CODEGEN_CACHE_ENTRIES = 1000
# JDK 17 defaults are 5000 / 600 / 15000 / 40000
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)


def build_session(app_name: str, conf: dict[str, str]) -> SparkSession:
    """``getOrCreate`` a session with the confs the engine's plans and
    compile policy rely on, overlaid by ``conf``. Sets no master, so
    spark-submit's ``--master`` stands."""
    engine = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # allow joins to co-partition on a SUBSET of the join keys: the
        # engine hash-partitions everything by entity once up front, and
        # every later (entity, ts)-keyed join should reuse that layout.
        # With the default (true), EnsureRequirements re-exchanges BOTH
        # sides on ALL join keys and then re-exchanges the join output
        # back to hash(entity) for the next window — measured on the
        # token pipeline: 5.3 GB of wide-frame shuffle vs 0.9 GB and
        # 30.2 s vs 23.6 s wall at 4x4 executors with this off (r4)
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.driver.defaultJavaOptions": JIT_OPTIONS,
        "spark.executor.defaultJavaOptions": JIT_OPTIONS,
    }
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**engine, **conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "quant_feature_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cpus`` controls ``local[N]`` parallelism — the bench harness runs the
    identical job at two levels (e.g. 8 and 32) to evidence scaling
    efficiency in lieu of a real two-size cluster.
    """
    n = cpus or DEFAULT_CPUS
    return build_session(app_name, {
        "spark.master": f"local[{n}]",
        # 2x overpartition: per-entity groups hash unevenly into exactly-N
        # partitions (Poisson stragglers); AQE coalesces the small ones
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 2 * n),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    })


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

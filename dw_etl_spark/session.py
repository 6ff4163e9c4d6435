"""SparkSession factory.

Scale notes (100 TB / 1000-executor design intent):
- AQE on everywhere: runtime shuffle-partition coalescing, skew-join
  splitting, and dynamic join-strategy switching are the main levers that
  keep the same plan healthy from sf0.001 local runs to cluster scale.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces down. For local[32] testing 32 is right; on a cluster set it
  to ~2-3x total cores via ``extra_conf``.
- Arrow enabled so the few Pandas-UDF code paths (exact qcut oracle,
  multimodal decode plumbing) use columnar batch transfer, not pickled rows.

JIT contract: the driver JVM this factory launches runs HotSpot's C1
compiler only (``-XX:TieredStopAtLevel=1``: no profiling tier, no C2).
A local driver here is short-lived (one nightly build and load per
process) on a few cores, where C2's compiler threads compete with the
task slots for the first tens of seconds. Measured on a 4-core box, the
cold sf0.01 build and load (perfbench ``etl_nightly`` op) fell from a
median 14.8 s to 10.7 s, its driver-JVM CPU from 48.7 s to 28.3 s and
compiler CPU from 23.1 s to 4.7 s (``tools/jvm_cpu.py``). The cost is
peak speed once warm: a warm sf0.1 build and load took 7.8-8.6 s
against 6.3-7.1 s, and ``tests/test_oracle_parity.py`` took 380 s
against 369 s. C1-only HotSpot would also shrink the code cache
from tiered's 240 MB to 48 MB, which a long session fills (after ~40 s
of sf0.1 loads): HotSpot then stops compiling and the next load took
10.1 s, so ``-XX:ReservedCodeCacheSize=240m`` keeps the tiered size.
Restore tiered C2 with ``extra_conf={"spark.driver.extraJavaOptions":
""}``. The options apply only when this call launches the JVM; a
session created elsewhere (e.g. a vanilla ``SparkSession.builder``)
keeps its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def get_spark(
    app_name: str = "dw_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults target local mode for tests/bench; on a real cluster pass
    ``master=None`` with externally-provided master/deploy config and a
    larger ``shuffle_partitions``.

    The driver JVM is launched with ``-XX:TieredStopAtLevel=1
    -XX:ReservedCodeCacheSize=240m`` (C1 JIT only, tiered-size code
    cache; the module docstring has the measured trade-off: a cold
    nightly op faster, warm runs slower).
    ``extra_conf`` is applied after every default, so
    ``extra_conf={"spark.driver.extraJavaOptions": ""}`` brings back
    tiered C2 and any other value replaces these options. Like every
    launch-time option it has no effect when ``getOrCreate`` returns a
    session whose JVM is already running.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 (guide §2.2): with parallelismFirst (default), AQE
        # coalesces a post-shuffle stage to
        # max(bytes/defaultParallelism, minPartitionSize) — the 1 MB
        # default floor collapses small-but-fanning-out intermediates
        # (e.g. BM25 postings feeding a candidate explode-join: ~4 MB
        # → 2 partitions → a 3-core-s join ran on 2 of 32 cores).
        # 64k keeps such frames at ~defaultParallelism partitions.
        # Scale-adaptive by construction: anything larger than
        # parallelism×1 MB is untouched at any cluster size, and the
        # value is env-overridable rather than tuned to this host.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", _DRIVER_JAVA_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

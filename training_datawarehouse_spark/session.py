"""SparkSession construction with scale-appropriate defaults.

The driver hands us a session in ``__spark_entry__.entry``; this module is
for tests / bench / standalone use. Config choices are the ones we would
ship on a 1000-executor cluster, scaled down for local[N]:

- AQE on (runtime partition coalescing + skew-join splitting) — at 100 TB
  static shuffle-partition counts are always wrong somewhere.
- Arrow transfer on — every Pandas UDF crossing is Arrow-batched.
- UTC session timezone — deterministic calendar math regardless of host.
- A codegen cache sized to the pipeline (``CODEGEN_CACHE_ENTRIES``) —
  repeated passes in one JVM reuse their Janino-compiled classes instead
  of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``: how many generated classes
#: Spark keeps compiled. One diary pass, and some single ``bench.HEADLINE``
#: entries, need more than the default of 100, so a JVM that runs the same
#: plans again recompiled nearly all of them each time. 2000 holds the whole
#: headline (about 1000 classes) plus the variants AQE re-plans. It pays
#: only for repeated passes in one JVM (tests, ``bench.py``, long-lived
#: tools); a one-shot CLI run compiles each class once either way. The
#: conf is static, read once per JVM, so only ``get_spark`` can set it.
#: Compile counts and timings are in ``CHANGES.md``.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "training-datawarehouse-spark",
    master: str | None = None,
) -> SparkSession:
    """A session on ``master`` (default ``local[$SPARK_GRAFT_CPUS]``,
    32 cores when unset), finished by ``tune_for_queries`` so the
    shuffle-partition count follows the cores the master actually
    gives."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return tune_for_queries(builder.getOrCreate())


def tune_for_queries(spark: SparkSession) -> SparkSession:
    """Runtime-settable knobs applied to an externally-provided session.

    Static confs are out of reach here. In particular
    ``spark.sql.codegen.cache.maxEntries`` is read once per JVM, so a
    session the caller built (such as the one ``__spark_entry__.entry``
    receives) keeps Spark's 100-entry codegen cache, and warm passes
    whose plans need more classes than that recompile them (see
    ``CODEGEN_CACHE_ENTRIES``). Only a session started by ``get_spark``
    gets the larger cache."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Size the initial shuffle-partition count to the actual cores —
    # an externally-built session may carry the 200 default, which is
    # pure task overhead under local[N] (AQE coalesces, but cheaper to
    # start right).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark

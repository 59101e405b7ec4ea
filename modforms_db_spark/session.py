"""SparkSession factory + per-query session preparation.

Two distinct paths:

- :func:`get_spark` — our own session (tests, bench.py): local[$SPARK_GRAFT_CPUS],
  AQE on, shuffle partitions sized for single-node SF (SURVEY.md §4: "8-32, not
  the 200 default"), UTC timezone, Arrow enabled.
- :func:`prep` — called at the top of every registered query builder, because the
  DRIVER owns the session there (__spark_entry__.py contract). Only touches
  runtime-settable confs that correctness depends on (timezone; Arrow for the
  pandas-UDF operators). Never assumes our factory ran.

Generated-class cache. Spark keeps the Janino-compiled classes of
whole-stage codegen in one JVM-wide LRU cache whose size is the static conf
``spark.sql.codegen.cache.maxEntries`` (Spark's default: 100). A session that
cycles through many operators needs more than that, and at 100 nearly every
class is evicted before its query runs again, so each run recompiles its
classes and HotSpot JIT-compiles the new copies anew. Measured
working sets (perfbench op lists, sf0.01, local[4]):

- one warm pass over the bench headline set (P0/P1 headline queries plus the
  four index consumers) needs about 200 distinct classes, and its warm-up
  pass 340-360: at 100 entries every warm pass compiled 180-195 of them
  again; at 1000 the first timed pass compiles 10 (the index consumers'
  first cache-read plans) and later passes 0;
- a fresh-input k-means + LSH rebuild pass with two streaming ingests
  needs about 170 (150-160 compiles per pass at 100 entries, 4 at 1000);
- one sweep over all 540 registered operators at sf0.001 compiles 7,261
  classes (13.4 per operator), so holding the whole registry is not the aim.

:data:`CODEGEN_CACHE_ENTRIES` (1000) holds a session's working set with room
to spare. What it retains is small next to the heap: after a warm-up and
three headline passes, 100 vs 1000 entries left Metaspace at 162 vs 163 MB
and the JIT code heaps at 70 vs 72 MB.

The size counts only for the JVM's FIRST session: ``CodeGenerator``'s static
initializer reads ``SQLConf.get.codegenCacheMaxEntries`` once. So it holds
where :func:`get_spark` creates the JVM's first session (tests, bench.py,
the CLI), while a driver-owned session keeps Spark's default, and
:func:`prep` cannot change it (a static conf is not settable at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache size; see the module docstring for its measured basis.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "modforms-db-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("MFDB_SHUFFLE_PARTITIONS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MFDB_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, Janino milliseconds) since the JVM started.

    Spark counts both for every codegen cache miss, driver or executor side
    (one JVM in local mode); the difference of two readings is what the code
    run between them compiled. Reading them launches no job.
    """
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    count = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(count), generator.compileTime() / 1e6


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime confs correctness depends on; safe on any session.

    UTC so TIMESTAMP values collected from Spark equal DuckDB's naive
    timestamps (FIXTURES.md parity rules); Arrow so pandas-UDF operators run
    vectorized instead of falling back to pickle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # conf may be restricted on an unknown session; Arrow is perf-only
    return spark

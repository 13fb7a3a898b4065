"""SparkSession factory tuned for the matching pipeline.

Settings rationale (100 TB target, tested on local[N]):
  * AQE on with skew-join splitting — blocking keys are Zipf-skewed
    (the reference hand-rolled a greedy batcher for exactly this,
    tools/matcher_funcs.py:894-986; AQE + explicit salting replace it).
  * Arrow batches capped so a pair-scoring batch's string matrix fits in
    executor memory (the reference capped batches at 10k x 20k rows,
    tools/constants.py:217-218).
  * shuffle partitions default to cores on local mode; on a real cluster
    leave spark.sql.shuffle.partitions to AQE coalescing.
  * the generated-class cache holds CODEGEN_CACHE_ENTRIES classes, not
    Spark's default 100.  Spark keeps every Janino-compiled class in one
    JVM-wide LRU of spark.sql.codegen.cache.maxEntries entries; one
    waterfall generates more classes than 100, so at the default every
    request recompiled classes an earlier request had already built
    (63-82 per one-address lookup, 347-378 per batch_skewed call;
    docs/PLANS.md, "Generated-class cache").  It is a STATIC SQL conf:
    it takes effect only when set before the JVM compiles its first
    class, so it is set here, in the builder, and the spark-submit entry
    points (scripts/job_match.py, scripts/job_stream.py,
    scripts/submit_example.sh) set it too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS = 20_000
# sized from the matcher's measured class set with headroom: a
# batch_skewed process generates 435-443 distinct classes, a
# lookup_single process 161 after four requests (docs/PLANS.md,
# "Generated-class cache")
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "address-matcher-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing stays ON for the many tiny bookkeeping stages
        # (it cuts per-stage task-dispatch overhead at high core counts).
        # It sizes partitions by BYTES, which is the wrong model for the
        # compute-bound scoring stage — that stage is therefore pinned
        # with an explicit numbered repartition (exempt from coalescing)
        # in blocked.candidates rather than disabling coalescing
        # globally.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )

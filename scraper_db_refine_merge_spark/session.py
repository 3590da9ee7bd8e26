"""SparkSession factory.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads), but every
config below is chosen for a real multi-executor cluster at ~100 TB:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting) so the
  same plans survive 1000× scale without retuning ``shuffle.partitions``.
- ``shuffle.partitions`` is only the *pre-AQE* upper bound; AQE coalesces down
  using ``advisoryPartitionSizeInBytes`` (64 MiB) at small SF and splits skewed
  partitions at large SF.
- Arrow enabled for the (rare) Pandas-UDF paths.
- Session timezone pinned to UTC: the reference stores ISO-UTC strings and
  compares them lexicographically (database/api_server.py:269); we canonicalize
  to TimestampType in UTC so timestamp comparisons have identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "scraper_db_refine_merge_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus), 32)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): A/B-measured r6 on
        # an idle host, false coalesced sf0.1 joins to ~3 tasks and lost
        # 25% aggregate bench time (4.36 vs 3.36 s over 8 queries) — the
        # "respect advisory size" guidance trades CPU parallelism for
        # fewer tasks, a win only when task overhead dominates compute,
        # which it does not at local[32]. (An earlier measurement showing
        # false ahead was contaminated by a concurrent test suite.)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Reliable checkpoints (operators/ranking._pin_range_partitions,
        # operators/graph.py) are otherwise never garbage-collected: a
        # long-lived session would leak one frame copy to the checkpoint
        # dir per ranking call (ADVICE r10). SparkConf — must be set at
        # context creation, so it lives here, not at the call site.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()

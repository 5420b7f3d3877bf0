"""SparkSession factory tuned for both local testing and cluster scale.

The reference has no engine of its own (single pandas process +
remote Postgres; SURVEY.md §3); every knob here exists to make the
Spark replacement behave well at 100 TB while staying testable on
``local[N]``:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — replaces the reference's hand-rolled 100-symbol
  chunking (``cloud_TAQ/taq_chunks.py:21,28``).
- Session timezone pinned to UTC so timestamps compare bit-exact
  against the DuckDB oracle (DuckDB timestamps are TZ-naive).
- Arrow enabled for the few Pandas-UDF boundaries (tensor export,
  multimodal decode).
- Generated-class cache sized to the engine's working set.  Spark
  keeps 100 compiled codegen classes by default, but one pass of the
  benchmark's batch mix (four headline queries, universe, 1 s panels,
  60 s corr) generates about 270 distinct classes and one store
  ingest about 250, so LRU eviction recompiled nearly all of them on
  every call (q52 ~60, corr ~87 = 1.3-1.9 s of Janino per call).
  1000 entries hold that with headroom; stage ids are left out of
  class names so an identical stage body at another stage id in a
  larger plan reuses its class (batch-mix compiles 272 -> 190 cold,
  10-26 -> 0 per warm pass).  Memory held: JVM metaspace read
  ~170 MB after several passes with either cache size (an evicted
  class stays loaded until its loader is collected), and the
  benchmark's peak RSS did not rise (4-core host).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache size (a static conf: it only takes effect
# when this call launches the session).  See the module docstring.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "wrds_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    On a real cluster, ``master``/memory come from spark-submit and the
    values here are harmless defaults; locally we size shuffle
    partitions to the core count instead of the 200 default.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Phase-split profiler for headline queries (guide §1: measure first).

For each query: one untimed warm pass (bench protocol), then N timed
repeats split into
  build = time to call QUERIES[name](spark, sf_dir) (driver planning +
          any eager plan-build jobs: census short-circuits, pinned
          collects on first touch)
  exec  = time for .count() on the returned DataFrame
and the Spark job/stage counts consumed by each phase (statusTracker),
so "many tiny stages" vs "one heavy stage" is visible without the UI.
Each repeat also reports its Janino compiles (whole-stage and
expression codegen classes not found in Spark's generated-class
cache) and their compile ms; a warm repeat that still compiles is
paying codegen per call.

Usage: python tools/profile_query.py q66_gated_near_dup [q43_... ...]
       (no args = full bench HEADLINE)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

REPEATS = int(os.environ.get("PROFILE_REPEATS", "3"))


def main() -> None:
    only = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from wrds_data_pipeline_spark import driver_queries
    from wrds_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile_query")
    tracker = spark.sparkContext.statusTracker()
    jvm = spark.sparkContext._jvm
    # one histogram update per compile; its reservoir cannot give an
    # exact time sum, so the ms come from CodeGenerator's own
    # nanosecond accumulator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    names = only or HEADLINE
    for name in names:
        fn = driver_queries.QUERIES[name]
        fn(spark, sf_dir).count()  # warm (bench protocol)
        for rep in range(REPEATS):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            c0, ns0 = compiles.getCount(), codegen.compileTime()
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            n = df.count()
            t2 = time.time()
            j2 = len(tracker.getJobIdsForGroup(None) or [])
            c1, ns1 = compiles.getCount(), codegen.compileTime()
            print(
                f"{name} rep{rep}: build={t1-t0:.3f}s ({j1-j0} jobs) "
                f"exec={t2-t1:.3f}s ({j2-j1} jobs) "
                f"compiles={c1-c0} ({(ns1-ns0)/1e6:.0f} ms) "
                f"total={t2-t0:.3f}s rows={n}"
            )


if __name__ == "__main__":
    main()

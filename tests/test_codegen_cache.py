"""Generated-class reuse across calls.

A fixed mix of plans (six headline queries on the driver tables plus
the universe and the universe -> resample chain on the WRDS fixtures)
generates more codegen classes in one run than Spark's default class
cache holds (100; about 250 in a fresh session).  With that default
the LRU evicts every class before its next use and the second run
recompiles about 170 of them; the session factory sizes the cache so
the second run compiles nothing.

The correlation step is left out of the mix on purpose: under AQE
its later calls compile a few variant stage classes, depending on
which shuffle stage finishes first (none with AQE off).
"""

from __future__ import annotations

import datetime

from wrds_data_pipeline_spark import driver_queries
from wrds_data_pipeline_spark.plans.taq import day_universe_symbols, resampled_prices
from wrds_data_pipeline_spark.plans.universe import build_universe

MIX_QUERIES = (
    "q01_pricing_summary",
    "q07_topk_per_group",
    "q26_jaccard_pairs",
    "q43_curation_report",
    "q53_pack_sequences",
    "q57_tfidf_keywords",
)


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark, sf_dir, wrds) -> dict[str, int]:
    """Each plan of the mix once; the Janino compiles of each."""
    plans = {
        q: (lambda q=q: driver_queries.QUERIES[q](spark, sf_dir))
        for q in MIX_QUERIES
    }
    plans["universe"] = lambda: build_universe(
        wrds["dsp500list"], wrds["dsf"], wrds["msenames"],
        wrds["ccmxpf_linktable"], as_of=datetime.date(2017, 6, 30),
    )
    plans["prices"] = lambda: resampled_prices(
        wrds["nbbo"],
        day_universe_symbols(wrds["taqmclink"].select("date", "permno", "ticker")),
        freq_seconds=60,
    )
    counts = {}
    for name, build in plans.items():
        c0 = _compiles(spark)
        build().collect()
        counts[name] = _compiles(spark) - c0
    return counts


def test_second_run_of_plan_mix_compiles_nothing(spark, sf_dir, wrds):
    first = _run_mix(spark, sf_dir, wrds)
    second = _run_mix(spark, sf_dir, wrds)
    assert sum(second.values()) == 0, (first, second)

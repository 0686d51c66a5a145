"""A warm repeat of the headline queries compiles no generated code.

Spark's generated-class cache defaults to 100 entries; one pass of the
11 headline queries needs more than that, so at the default every
repeat recompiled the classes the pass itself had evicted. The
session's cache size must hold a pass's whole working set.
"""

from __future__ import annotations

from bench import HEADLINE
from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import CATALOG
from perfbench import gen


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_repeat_of_headline_queries_compiles_nothing(spark, tmp_path):
    gen.write_analytics_inputs(tmp_path, seed=7, scale=0.01)

    def run_pass():
        for name in HEADLINE:
            CATALOG[name].spark(spark, str(tmp_path)).write.mode("overwrite").format("noop").save()

    run_pass()
    before = _compiles(spark)
    run_pass()
    assert _compiles(spark) - before == 0

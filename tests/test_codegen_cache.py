"""Default-suite lock on warm-pass code reuse: building the five
perfbench catalog entries a second time in one session compiles no
generated class (CodegenMetrics' compile count).  That holds while the
session's codegen cache holds the working set and no build writes a
per-run value, such as an unseeded ``shuffle``'s seed or an AQE stage
id, into generated code."""

from __future__ import annotations

from prod2vec_spark.queries import QUERIES
from tests.conftest import SF_SMOKE

ENTRIES = [
    "dedup_clusters",
    "kmeans_audit",
    "packed_input_ids",
    "pricing_summary",
    "sessionize",
]


def test_second_pass_compiles_nothing(spark):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    metric = codegen.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = metric.getCount()
        for name in ENTRIES:
            df = QUERIES[name](spark, SF_SMOKE)
            df.write.format("noop").mode("overwrite").save()
        return metric.getCount() - before

    one_pass()
    assert one_pass() == 0

"""Engine session settings that change cost, not results."""

from __future__ import annotations

from dedup_spark.fixtures.images import generate_corpus, to_spark


def test_warm_pipeline_call_reuses_generated_classes(spark):
    """A repeat dedup_pipeline call must find its generated classes in
    the codegen cache. Its working set (~230 classes) overflows Spark's
    default 100-entry cache, where every call recompiles every
    class."""
    from dedup_spark.pipeline import dedup_pipeline

    imgs, _ = to_spark(
        spark, generate_corpus(200, dup_ratio=0.3, near_dup_ratio=0.1, seed=3)
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    for _ in range(2):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        dedup_pipeline(imgs).write.format("noop").mode("overwrite").save()
    recompiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert recompiled <= 25, recompiled

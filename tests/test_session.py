"""Session defaults that change how the engine runs, not what it returns."""


def test_codegen_cache_holds_a_pipeline_working_set(spark):
    """A warm re-run reuses the generated classes of more than 100
    distinct queries (Spark's default cache size) instead of compiling
    them again."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_all():
        for i in range(150):
            spark.range(4).selectExpr(f"id * {i} + {i} AS x").collect()

    before = compiled.getCount()
    run_all()
    first = compiled.getCount()
    assert first - before >= 150  # every query generated a class of its own
    run_all()
    assert compiled.getCount() == first

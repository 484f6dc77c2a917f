"""Session harness helpers: the message-scoped accumulator-noise filter
and the generated-class cache size."""

from __future__ import annotations

from duckdb_vortex_spark.session import quiet_accumulator_noise


def test_quiet_accumulator_noise_scoped_and_idempotent(spark):
    """The r13 form suppresses ONLY the accumulator-GC message on the
    DAGScheduler logger (verified live against captured JVM stderr
    when built: matching message hidden, real ERROR on the same logger
    and the same message on other loggers both print). Here: repeated
    installation must not stack filters, and the dedicated
    LoggerConfig must exist with a filter after the call."""
    quiet_accumulator_noise(spark)
    quiet_accumulator_noise(spark)  # idempotent
    jvm = spark.sparkContext._jvm
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    lc = ctx.getConfiguration().getLoggerConfig(
        "org.apache.spark.scheduler.DAGScheduler"
    )
    assert lc.getName() == "org.apache.spark.scheduler.DAGScheduler"
    flt = lc.getFilter()
    assert flt is not None
    # a CompositeFilter here would mean the idempotence guard failed
    assert "Composite" not in flt.getClass().getSimpleName()


def test_codegen_cache_holds_more_than_the_default_100_classes(spark):
    """``get_spark`` sizes Spark's generated-class cache for the engine's
    working set: after more than 100 distinct generated classes, the
    first one is still cached, so running its query again compiles
    nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME().getCount

    def projection(i):
        # the literal is inlined, so each i generates a class of its own;
        # preparing the physical plan compiles it without running a job
        df = spark.range(2).selectExpr(f"id * {i + 7} + {i} AS v")
        df._jdf.queryExecution().executedPlan().execute()

    before = compiled()
    for i in range(120):
        projection(i)
    assert compiled() - before >= 120
    warm = compiled()
    projection(0)
    assert compiled() == warm

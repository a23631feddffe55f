"""SparkSession factory with 100 TB-minded defaults, scaled to local testing.

The settings below are the local-mode projection of a cluster config: AQE on
(runtime re-plan ≈ the reference's _choose_method heuristics,
flox/core.py:2215-2239), partition coalescing + skew-join splitting, Arrow
for any Pandas-UDF path, UTC session time so timestamp-derived group keys
match DuckDB/pandas oracles bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dask-groupby-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: "dict[str, str] | None" = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE skew handling: skewJoin splits oversized join partitions at
        # runtime (threshold: partition > 5× median AND > 256MB by default —
        # tune skewJoin.skewedPartitionFactor / skewedPartitionThresholdInBytes
        # per-cluster; forceOptimizeSkewedJoin extends the split even when it
        # adds a shuffle, worth enabling on clusters with known-pathological
        # join skew — measured ~10% planning overhead on iterative joins
        # here, so not a default).  NOTE AQE cannot split a skewed
        # AGGREGATION or WINDOW partition — a hot group key must be handled
        # in the operator plan itself: grouped_topk/sample_per_group take
        # skew_salt= (salted two-stage, asserted result-identical in
        # tests/test_skew.py), and sketch reductions (approx_quantile /
        # approx_nunique) replace the holistic buffers.  See docs/SCALE.md
        # for the per-operator contract.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's DataFrame query context: with it on, EVERY Column
        # function call first reads the session conf over Py4J, walks the
        # Python stack and sets/clears a JVM call-site origin — ~10 extra
        # round trips per ``F.col``/``F.when``/``cast``, 2-3x the cost of
        # the expression itself.  A reduction builds dozens of Columns per
        # call, so it is off: error messages lose the Python call site,
        # the JVM error and plan context stay.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Whole-stage codegen class cache, sized to the library's working
        # set so each plan shape compiles once per JVM.  Spark's default of
        # 100 entries is an LRU smaller than one mixed round of calls: a
        # perfbench `interactive` round compiles ~200 classes and one pass
        # of the 196-key driver contract ~2 300, so at 100 every repeated
        # call recompiled (Janino) and ran as cold, un-JIT-ed bytecode.
        # 4096 is about 2x the whole surface (docs/SCALE.md has the
        # measurements).  Static conf: CodeGenerator reads it once per
        # JVM, so it only takes effect when this call creates the JVM's
        # first session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The cache key is the generated source, and by default the class
        # name carries the codegen stage id.  AQE numbers stages in the
        # order their inputs finish, so a plan with several independent
        # stages (e.g. crossJoined aggregates) got new ids, hence new
        # classes, on some repeats.  The id stays in the plan's `*(n)`.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores timestamp[ns]; Spark can't read TIMESTAMP(NANOS)
        # natively — read as BIGINT nanos, sources.load_table casts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # files: pack small test parquet into few tasks; at cluster scale
        # maxPartitionBytes governs scan granularity instead
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    conf = dict(extra_conf or {})
    # Python workers import library functions used as pandas UDFs by
    # module name, so put the package's parent directory first on their
    # PYTHONPATH: a script then works from any directory, not only from
    # one whose working directory holds the package.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = (
        pkg_parent + os.pathsep + prior if prior else pkg_parent
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (cache misses of the
    codegen class cache).  Take the difference around a call to see how
    many classes it compiled; 0 on a repeat means every plan shape hit."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

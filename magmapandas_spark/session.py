"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration keys are what we would set on a real cluster — AQE for
runtime re-planning/skew handling, Arrow for pandas-UDF exchange,
shuffle partitions sized to cores locally (on a cluster: 2-3× total
executor cores, or leave to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "magmapandas-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # JVM (not ICU) case mappings for UTF8_BINARY lower()/upper()/
        # initcap(). Spark 4's default ICU path lazily initializes
        # CollationAwareUTF8String, whose static initializer title-
        # cases all 1,114,112 Unicode code points through a fresh ICU
        # BreakIterator clone each — measured 350-450 s of one-core
        # CPU on this sandbox (jstack: Lower.execBinaryICU blocked on
        # the class-init monitor), charged to whichever query first
        # lowercases a string, in EVERY fresh JVM. JVM and ICU case
        # mappings agree on ASCII, and every case-mapped column in
        # this suite is ASCII (audited: the only non-ASCII test-data
        # column, events.props, is JSON-extracted, never case-mapped),
        # so results are identical. This DIVERGES from stock Spark 4
        # for non-ASCII data — overridable per-deployment via
        # $SPARK_GRAFT_ICU_CASE_MAPPINGS=true (stock ICU semantics;
        # the init amortizes over a long multilingual job), and
        # documented in README.md "Session defaults".
        .config(
            "spark.sql.icu.caseMappings.enabled",
            os.environ.get("SPARK_GRAFT_ICU_CASE_MAPPINGS", "false"),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # No per-operator call-site capture. With it on (Spark's
        # default), every Column operator PySpark builds walks the
        # Python stack, reads the active session and
        # spark.sql.stackTracesInDataFrameContext, and sets and clears
        # the JVM's PySparkCurrentOrigin: a py4j round trip each. The
        # key's own doc string says it "has a non-trivial performance
        # overhead because of the stack trace collection". Measured
        # warm on 4 cores, building the four geochem_models queries
        # took 4331 round trips with it and 1401 without. An error
        # keeps its class, condition, message and `== DataFrame ==`
        # block; only that block's call site loses the Python
        # file:line (README.md "Session defaults").
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``magmapandas_spark`` importable on executor Python workers.

    pandas UDFs cloudpickle references to this package; a process whose
    cwd is not the repo root (or a real cluster) needs the package
    shipped. ``addPyFile`` with a zip named by the SHA-256 of the
    package's files (code and data; see ``suite.package_zip``) works in
    local and cluster mode alike and is idempotent per session."""
    from magmapandas_spark.relational.suite import ensure_workers_can_import

    ensure_workers_can_import(spark)

"""SparkSession construction.

One place to pin every config that matters for correctness (UTC
timestamps for oracle comparison, ANSI off to match reference semantics)
and for scale (AQE on, Arrow on, shuffle partitions sized to cores), and
the one way a query scopes its conf: :func:`query_session`.

At 100 TB the same code runs unchanged on a real cluster: only
``master``/memory/partition counts move to spark-submit conf. Nothing in
the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test rig: single JVM, N threads. The driver runs bench on
# local[$SPARK_GRAFT_CPUS]; default to all cores.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

# Runtime confs every registered query runs under, with ONE source of
# truth: get_session builds with them and query_session sets them on the
# per-query child session. Semantic confs first — UTC session clock
# (timestamp bucketing/formatting; DuckDB timestamps are UTC-naive),
# ANSI off (permissive casts, matching the reference's
# Double.parseDouble path, src/Kmeans.java:67-68, and the DuckDB
# oracles as written), Arrow on (the pandas-UDF operators and
# io.local_rows assume vectorized transfer) — then plan-choice confs at
# the ENGINE's declared values, never a hardcoded Spark default, so the
# deliberate 64MB broadcast threshold holds whatever the caller set.
QUERY_CONF_PINS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "10GB",
    # Default TRUE (parse only needed CSV columns). scan_csv_corrupt
    # overrides to false on its own query session — pruned parsing
    # never sees the malformed field, so _corrupt_record stays null
    # (the classic PERMISSIVE gotcha).
    "spark.sql.csv.parser.columnPruning.enabled": "true",
}


def query_session(spark: SparkSession) -> SparkSession:
    """The child session one query runs in: a clone of ``spark`` with
    :data:`QUERY_CONF_PINS` set on it.

    A clone has its own runtime conf, temp views and functions over the
    caller's SparkContext and shared state (cache manager, block store),
    so freezes and caches still work while nothing the query sets —
    pins, per-query overrides such as join_bloom_prune's disabled
    broadcast, temp views, UDTFs — reaches the caller. The query's
    DataFrame keeps its own session, so overrides hold through its lazy
    execution, whenever the caller runs it. ``cloneSession`` rather
    than ``newSession``: the clone inherits the caller's runtime tuning
    (shuffle partitions, codegen, plan-string limits), so a caller's
    deliberate settings still reach every conf the engine does not
    pin."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in QUERY_CONF_PINS.items():
        child.conf.set(k, v)
    return child


def get_session(
    app_name: str = "nchu_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Correctness-critical configs: :data:`QUERY_CONF_PINS` (UTC session
    clock, ANSI off, Arrow on, the plan-choice pins).
    Scale-critical configs:
      * AQE + partition coalescing + skew-join: runtime re-planning is the
        first line of defense against skewed keys at 100 TB.
      * Arrow: vectorized Python<->JVM transfer for the Pandas-UDF ops.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in QUERY_CONF_PINS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence WindowExec's per-execution "No Partition Defined" WARN
    # (VERDICT r11 item 7): every unpartitioned Window in the engine is
    # STRUCTURALLY audited as bounded-input by the single-task-window
    # rule (tests/test_single_task_window_rule.py) — that audit is the
    # guarantee; the hundreds of repeated WARN lines only bury real
    # signals in gate err_tails. Scoped to this one logger, never the
    # root level.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 - logging cosmetics must never fail a job
        pass
    return spark

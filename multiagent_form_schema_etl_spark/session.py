"""SparkSession bootstrap tuned for both local testing and cluster scale.

Design notes for 100 TB posture:
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned partition counts.
- Arrow on: every Pandas-UDF boundary is vectorized (batch, not row-at-a-time).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB oracle
  and are cluster-invariant.
- shuffle.partitions is only the *initial* value; AQE coalesces down. On a real
  cluster this would be set ~2-3x total cores by the submitter.
- Generated-code cache sized to the working set: Spark keeps compiled
  janino classes in an LRU of ``spark.sql.codegen.cache.maxEntries``
  (default 100), but one doc pipeline + evaluate batch needs 109 distinct
  classes and one corpus filter/dedup/decontaminate batch 215-219, so LRU
  evicted every class before its next use and each steady batch
  recompiled all of them -- once in the Spark driver and again in every
  task. ``CODEGEN_CACHE_ENTRIES`` holds several such working sets. It is
  a static conf: a session passed in by the caller (``tune_for_session``,
  ``__spark_entry__.entry``) keeps Spark's 100-entry default, because it
  cannot be changed once the JVM runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Compiled-class cache capacity. Measured distinct classes per batch:
# doc pipeline + evaluate 109, corpus_prep's four faces 215-219, one
# bench.py cold pass over its 26 headliners 450-452 (its warm pass then
# compiles 0-2). 2000 holds any of these working sets with room to spare.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(app_name: str = "multiagent-form-schema-etl-spark",
              cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the session with scale-oriented defaults.

    Any existing active session is reused (configs are then whatever it was
    built with) -- the driver may pass its own session to ``entry``.
    The Spark UI stays off: per-stage shuffle, spill and memory figures
    are read from the status store, which Spark keeps without the UI.
    """
    # When no real protobuf distribution exists, expose the repo's
    # clean-room wire-format shim (vendor/pbshim) on PYTHONPATH *before*
    # the JVM launches: transformWithState's driver-side schema worker and
    # the executor Python workers inherit the JVM's environment, and
    # addPyFile alone does not reach the driver-side worker. A genuine
    # installation always wins -- the shim path is only added when the
    # import fails here.
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        vendor = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "vendor", "pbshim")
        pp = os.environ.get("PYTHONPATH", "")
        if vendor not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (pp + os.pathsep + vendor
                                        if pp else vendor)
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session (the
    driver hands us one in ``entry``); static confs are left alone."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/conf-locked in this deployment; harmless
    return spark

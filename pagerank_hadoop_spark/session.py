"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
config choices below are the ones that matter on a real cluster too:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's hand-picked reducer counts (``PageRank.java:442``).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a 1000-
  executor cluster this is overridden upward (AQE coalesces down).
* Arrow enabled so any Pandas-UDF path is batch-vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "pagerank-hadoop-spark") -> SparkSession:
    """The active session, unchanged, when there is one; otherwise a
    new session with the confs below. A running session's confs are
    its caller's: re-applying the builder's would reset any width,
    AQE, bloom or broadcast setting the caller chose."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime row-group pruning for shuffled joins: inject a bloom
        # filter built from the smaller join side into the bigger
        # side's scan (and the matching semi-join DPP variant). At
        # 100 TB this is the difference between scanning a fact table
        # and scanning the ~1% of it that can possibly join; free
        # locally, big on clusters. (Spark default-on in 3.5+ for
        # creationSideThreshold-sized builds; pinned here so the plan
        # audit can rely on it.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # NOTE: runtimeFilter.semiJoinReduction.enabled is deliberately
        # NOT set — on this Spark build turning it on deadlocks the
        # very first job of the session (reproduced on range().count();
        # bisected 2026-08 across the two runtime-filter confs)
        # codegen cache maxEntries deliberately NOT set: the r15 guess
        # (2000 entries for a multi-query session) was A/B'd in r16
        # with one full-registry sweep per arm — canary-divided
        # difference 0.8%, below the 2% keep-bar VERDICT r15 set — so
        # the session stays minimal at the Spark default (100).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-batch Python UDTF exchange too (defaults to pickled
        # row-at-a-time); with it every Python hop in the engine is
        # Arrow-vectorized — audited in PLANS.md
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert (see queries._events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s optimized plan, in bytes;
    no job runs. ``None`` when the plan reports no stats: callers
    must then treat the input as big (fail closed)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (columnar Parquet scan, S4)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
config choices below are the ones that matter on a real cluster too:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's hand-picked reducer counts (``PageRank.java:442``).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a 1000-
  executor cluster this is overridden upward (AQE coalesces down).
* Arrow enabled so any Pandas-UDF path is batch-vectorized.

After the session starts, the engine changes its SQL conf in one place
only, :func:`conf_scope`: the loop-width scope
(``operators/pagerank._loop_shuffle_scope``) and the stream drain
(``streaming/windows.drain``) both open it.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

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


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# held while a conf_scope is open, and while a caller decides what to
# scope from the session's values; re-entrant, so scopes nest
CONF_LOCK = threading.RLock()


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions``; 32 when it is
    not an integer (e.g. ``auto`` on auto-tuning platforms)."""
    try:
        return int(spark.conf.get(SHUFFLE_PARTITIONS, "32"))
    except (ValueError, TypeError):
        return 32


@contextmanager
def conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session's SQL conf for the body, then
    restore every value read, unsetting a key the session had not set.
    The restore runs even when a set or the body raises.

    The conf is session-global, so the scope holds :data:`CONF_LOCK`
    while it is open: a scope in another thread waits until this one
    closes, so every scope reads and restores the session's own
    values, and nested scopes in one thread stack. A caller whose
    settings depend on the session's values (a width that may only
    narrow) reads them under the same lock. A query in another thread
    that opens no scope still plans on the scoped values: its exact
    aggregates cannot move (the engine scopes only physical knobs), but
    a wide query runs under-parallel and a float sum may change in its
    last ulp. Run such a query in a child session
    (``spark.newSession()``), which has its own conf."""
    with CONF_LOCK:
        saved: dict[str, str | None] = {}
        try:
            for key, value in settings.items():
                saved[key] = spark.conf.get(key, None)
                spark.conf.set(key, value)
            yield
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


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


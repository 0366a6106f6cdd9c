"""Skew stress for the fixpoint graph drivers (VERDICT r7 task 4).

Builds two seeded edge fixtures at sf1-synth scale (|V|=50k, |E|~600k):

  skewed  — one hub vertex holding ~20% of all edges (half out-edges,
            half in-edges) over a Zipf(1.8) degree background
  uniform — same |V|/|E|, uniform endpoints (the control)

and measures, for pagerank (8 iters), hits (3 rounds) and
label_propagation (3 rounds):

  - wall time skewed vs uniform (the straggler tax end-to-end)
  - per-stage task-time skew: max/median task duration of the worst
    completed stage (Spark REST API; the session here enables the UI,
    unlike the engine default)
  - whether AQE's skew-join split engages on the rank-message join
    when it IS a shuffle join: a single hits half-step with broadcast
    disabled, at the default 256 MiB skewedPartitionThresholdInBytes
    and at a lowered threshold that matches the fixture's bytes

Usage: python scripts/graph_skew_ab.py [--edges N]
Prints one JSON line per measurement cell.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import SparkSession, functions as F  # noqa: E402


def build_session(app: str) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")  # REST task metrics
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def edge_fixture(spark, n_edges: int, skewed: bool):
    """Seeded edge list with EXACTLY n_edges rows (self-loops dropped
    and topped up), so the A/B is edge-count-matched. Background
    endpoints follow a power-law weight (i+1)^-0.8 over 50k vertices;
    the skewed variant adds a hub (vertex 0) holding 20% of edges."""
    rng = np.random.default_rng(7)
    v = 50_000
    w = (np.arange(1, v, dtype=np.float64) + 1.0) ** -0.8  # vertices 1..v-1
    w /= w.sum()
    cum = np.cumsum(w)

    def draw(n):
        return 1 + np.searchsorted(cum, rng.random(n))

    parts = []
    if skewed:
        n_hub = n_edges // 5
        parts.append(np.stack(
            [np.zeros(n_hub // 2, dtype=np.int64), draw(n_hub // 2)], axis=1))
        parts.append(np.stack(
            [draw(n_hub - n_hub // 2),
             np.zeros(n_hub - n_hub // 2, dtype=np.int64)], axis=1))
        n_bg = n_edges - n_hub
    else:
        n_bg = n_edges
    bg = np.stack([draw(n_bg), draw(n_bg)], axis=1)
    bg = bg[bg[:, 0] != bg[:, 1]]
    while len(bg) < n_bg:  # top up self-loop drops
        extra = np.stack([draw(n_bg), draw(n_bg)], axis=1)
        extra = extra[extra[:, 0] != extra[:, 1]]
        bg = np.concatenate([bg, extra])
    parts.append(bg[:n_bg])
    arr = np.concatenate(parts)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in arr], "src string, dst string"
    ).repartition(32)
    return df.localCheckpoint(eager=True)


def completed_stage_ids(spark) -> set[int]:
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        data = json.load(urllib.request.urlopen(url, timeout=30))
        return {st["stageId"] for st in data}
    except Exception:
        return set()


def stage_skew(spark, before: set[int]) -> tuple[float, float, float]:
    """(max_task_sec, median_task_sec, ratio) of the stage with the
    largest max-task duration among stages completed SINCE ``before``
    was snapshotted (per-measurement-cell attribution)."""
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = (f"{base}/api/v1/applications/{app_id}/stages"
               "?status=complete&withSummaries=true&quantiles=0.5,1.0")
        data = json.load(urllib.request.urlopen(url, timeout=30))
        worst = (0.0, 0.0)
        for st in data:
            if st["stageId"] in before:
                continue
            q = (st.get("taskMetricsDistributions") or {}).get("executorRunTime")
            if not q or len(q) < 2:
                continue
            med, mx = q[0] / 1e3, q[1] / 1e3
            if mx > worst[1]:
                worst = (med, mx)
        med, mx = worst
        return mx, med, round(mx / med, 2) if med > 0 else 0.0
    except Exception as exc:  # UI API drift: report, don't crash
        print(f"stage_skew unavailable: {exc}", file=sys.stderr)
        return 0.0, 0.0, 0.0


def timed(fn, *a, **kw):
    t0 = time.monotonic()
    out = fn(*a, **kw)
    n = out.count()
    return round(time.monotonic() - t0, 2), n


def main():
    n_edges = 600_000
    if "--edges" in sys.argv:
        n_edges = int(sys.argv[sys.argv.index("--edges") + 1])

    from pagerank_hadoop_spark.operators.graph import hits, label_propagation
    from pagerank_hadoop_spark.operators.pagerank import pagerank

    spark = build_session("graph-skew-ab")
    spark.sparkContext.setLogLevel("ERROR")

    for shape in ("uniform", "skewed"):
        edges = edge_fixture(spark, n_edges, shape == "skewed")
        ne = edges.count()
        for name, fn, kw in (
            ("pagerank", pagerank, {"n_iter": 8}),
            ("hits", hits, {"n_iter": 3}),
            ("label_propagation", label_propagation, {"max_iter": 3}),
        ):
            before = completed_stage_ids(spark)
            wall, nrows = timed(fn, edges, **kw)
            mx, med, ratio = stage_skew(spark, before)
            print(json.dumps({
                "op": name, "shape": shape, "edges": ne, "wall_sec": wall,
                "rows": nrows, "worst_stage_max_task_sec": mx,
                "worst_stage_med_task_sec": med, "straggler_ratio": ratio,
            }), flush=True)
        edges.unpersist()

    # AQE skew-split probe: one hits half-step as a forced shuffle join
    # (broadcast off). Defaults need a >256 MiB partition to trigger;
    # the lowered-threshold pass proves the mechanism fires on this
    # exact plan shape once partition bytes reach the threshold.
    edges = edge_fixture(spark, n_edges, True)
    scores = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("hub", F.lit(1.0))
    )
    for label, thresh, advisory, force in (
        ("default-256MiB", None, None, False),
        ("lowered-64KiB", 64 * 1024, 16 * 1024, False),
        # splitting the join's output partitioning breaks the
        # downstream groupBy's co-partitioning, so AQE declines the
        # split unless forced — the config that matters for the
        # rank-message join + aggregate shape
        ("lowered+force", 64 * 1024, 16 * 1024, True),
    ):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        if thresh:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                str(thresh))
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory))
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set(
            "spark.sql.adaptive.forceOptimizeSkewedJoin", str(force).lower())
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        joined = (
            edges.join(scores, edges.src == scores.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        t0 = time.monotonic()
        n = len(joined.collect())  # collect() executes THIS handle's
        # QueryExecution, so executedPlan below is the AQE final plan
        # (count() would run a separate QE and leave isFinalPlan=false)
        wall = round(time.monotonic() - t0, 2)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        print(json.dumps({
            "probe": "smj-half-step", "config": label, "wall_sec": wall,
            "rows": n,
            "final_plan": "isFinalPlan=true" in plan,
            "skew_split_engaged": "skew=true" in plan,
            "smj": "SortMergeJoin" in plan,
        }), flush=True)
    # Checkpointed-scores variant: the REAL loop shape (each round's
    # scores are localCheckpointed). AQE splits this at lowered
    # thresholds — proving the mechanism reaches the rank-message
    # join whenever the edge side shuffles per round.
    scores_ck = scores.localCheckpoint(eager=True)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        str(64 * 1024))
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024))
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
    joined = (
        edges.join(scores_ck, edges.src == scores_ck.id)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("hub").alias("auth"))
    )
    t0 = time.monotonic()
    n = len(joined.collect())
    plan = joined._jdf.queryExecution().executedPlan().toString()
    print(json.dumps({
        "probe": "smj-half-step-checkpointed-scores",
        "config": "lowered-64KiB", "wall_sec": round(time.monotonic() - t0, 2),
        "rows": n, "skew_split_engaged": "skew=true" in plan,
    }), flush=True)


if __name__ == "__main__":
    main()

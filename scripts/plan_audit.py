"""Plan-quality audit across the whole query registry.

Builds every registered query at a small SF and reports physical-plan
health — the things SCALE.md claims, checked in bulk rather than for
the handful of queries test_plans.py pins individually:

* exchange (shuffle) count,
* broadcast joins present / cartesian products (flagged),
* parquet filter pushdown in the scan,
* Python evaluation nodes (Arrow-batched vs row-oriented),
* TakeOrderedAndProject for top-k shapes.

Usage::

    python scripts/plan_audit.py [sf_dir] > PLANS.md

Queries that execute at build time (streaming drains, iterative
loops) still audit fine — the returned DataFrame's plan is the final
consumer plan; the cost is bounded by the small SF.

Iterative honesty (VERDICT r5 task 7): loop drivers truncate lineage
with localCheckpoint every round, so the final plan under-reports
fixpoint cost (scc shows ~1 exchange while paying dozens across
rounds). Loop drivers tick ``runtime_counters.note_round`` per
executed round — with ``PGH_AUDIT_ROUNDS=1`` (set below) they also
record the exchanges of each round's own plan — and the table adds a
``rounds×ex`` column: ``rounds`` executed at audit time and the TOTAL
per-round exchanges those rounds paid, which is the number to scale,
not the final-plan column.

Bias note: loops that materialize each round (pregel's fused count)
yield exact per-round plans; loops that only materialize at the end
(HITS) capture not-yet-truncated earlier lineage in later rounds'
plans — an over-count, never an under-count. Loops that run all
their rounds on the driver (small cc, scc and parity PageRank)
tick rounds without a frame and show ``Nr/0ex``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pagerank_hadoop_spark import queries as registry  # noqa: E402
from pagerank_hadoop_spark.plans.checks import formatted_plan  # noqa: E402
from pagerank_hadoop_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def audit_one(plan: str) -> dict:
    lines = plan.splitlines()
    # formatted explain prints each node once in the tree and once in
    # the details; count the numbered detail headers, which appear
    # exactly once per physical node
    n_exchange = sum(
        1 for ln in lines if ln.startswith("(") and "Exchange" in ln and "Reused" not in ln
    )
    return {
        "exchanges": n_exchange,
        "broadcast": "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan,
        "cartesian": "CartesianProduct" in plan,
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "py_arrow": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("PythonMapInArrow")
        + plan.count("AggregateInPandas"),
        "py_row": plan.count("BatchEvalPython"),
        "topk": "TakeOrderedAndProject" in plan,
    }


def main() -> None:
    os.environ["PGH_AUDIT_ROUNDS"] = "1"
    from pagerank_hadoop_spark import runtime_counters

    spark = get_spark("plan-audit")
    qs = registry.queries()
    rows = []
    for name in sorted(qs):
        t0 = time.time()
        runtime_counters.reset()
        try:
            df = qs[name](spark, SF_DIR)
            m = audit_one(formatted_plan(df))
            m.update(runtime_counters.snapshot())
            m["name"] = name
            m["build_s"] = round(time.time() - t0, 1)
            rows.append(m)
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append({"name": name, "error": str(exc)[:80]})
        print(f"# {name} {rows[-1]}", file=sys.stderr)

    ok = [r for r in rows if "error" not in r]
    print("# PLANS — physical-plan audit of every registered query")
    print()
    print(f"Generated by `scripts/plan_audit.py` at `{SF_DIR}`;")
    print("plan shapes are SF-independent (same Catalyst output at any")
    print("scale factor; only AQE's runtime coalescing differs).")
    print()
    n = len(ok)
    print(f"**{n} queries audited.** Summary:")
    print()
    print(f"- shuffle-light (≤2 exchanges): "
          f"{sum(1 for r in ok if r['exchanges'] <= 2)}/{n}")
    print(f"- use a broadcast join: {sum(1 for r in ok if r['broadcast'])}/{n}")
    print(f"- parquet filter pushdown in scan: "
          f"{sum(1 for r in ok if r['pushed'])}/{n}")
    print(f"- top-k via TakeOrderedAndProject: "
          f"{sum(1 for r in ok if r['topk'])}/{n}")
    print(f"- Arrow-batched Python nodes: "
          f"{sum(1 for r in ok if r['py_arrow'])} queries "
          f"(row-oriented Python: "
          f"{sum(1 for r in ok if r['py_row'])} — kept at zero)")
    print(f"- cartesian products: {sum(1 for r in ok if r['cartesian'])} "
          f"(broadcast query-side nested loops only)")
    n_iterative = sum(1 for r in ok if r.get("rounds"))
    print(f"- iterative (fixpoint) queries: {n_iterative} — their "
          f"`rounds×ex` column is the executed per-round shuffle "
          f"total; the `exchanges` column is only the final "
          f"checkpoint-truncated plan and must not be read as their "
          f"cost")
    print()
    print("| query | exchanges | rounds×ex | broadcast | pushdown | py(arrow/row) | top-k | cartesian |")
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        if "error" in r:
            print(f"| {r['name']} | ERROR: {r['error']} | | | | | | |")
            continue
        rx = (
            f"{r['rounds']}r/{r['round_exchanges']}ex"
            if r.get("rounds")
            else ""
        )
        print(
            f"| {r['name']} | {r['exchanges']} |"
            f" {rx} |"
            f" {'✓' if r['broadcast'] else ''} |"
            f" {'✓' if r['pushed'] else ''} |"
            f" {r['py_arrow']}/{r['py_row']} |"
            f" {'✓' if r['topk'] else ''} |"
            f" {'⚠' if r['cartesian'] else ''} |"
        )


if __name__ == "__main__":
    main()

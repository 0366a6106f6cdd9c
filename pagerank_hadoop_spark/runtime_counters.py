"""Process-local counters for fixpoint loop drivers.

PLANS.md audits the FINAL plan of each registered query, but iterative
operators (pregel, PageRank, Lloyd, k-truss, BPE…) truncate lineage
with ``localCheckpoint`` every round — the final plan shows ~1
exchange while execution paid exchanges × rounds (VERDICT r5 task 7).
Loop drivers call :func:`note_round` once per executed round so the
audit can report the true per-round × round-count shuffle cost.

``note_round(frame)`` is a bare integer increment in production. Only
when ``PGH_AUDIT_ROUNDS=1`` (set by ``scripts/plan_audit.py``) does it
also walk the round frame's optimized plan to count the exchanges that
round actually paid — plan formatting costs a py4j round-trip, which
is noise in an audit but not something the hot loop should pay.

SINGLE-THREADED-AUDIT ASSUMPTION: ``_STATE`` is process-global and
unsynchronized, and memoized helpers (``_confirmed_pairs_cached``)
attribute their rounds to whichever audited query builds them first.
The audit/bench harnesses run queries strictly sequentially with a
``reset()`` per query, where this is exact. If a harness ever runs
queries concurrently, counts would interleave — that skews the AUDIT
REPORT only; production semantics never read these counters.
"""

from __future__ import annotations

import os

_STATE = {"rounds": 0, "round_exchanges": 0}


def reset() -> None:
    _STATE["rounds"] = 0
    _STATE["round_exchanges"] = 0


def snapshot() -> dict:
    return dict(_STATE)


def _audit_enabled() -> bool:
    return os.environ.get("PGH_AUDIT_ROUNDS") == "1"


def note_round(frame=None) -> None:
    """Record one executed fixpoint round.

    ``frame`` — the round's result DataFrame BEFORE checkpoint
    truncation (its plan is the work the round pays). Optional: loops
    whose per-round frame is awkward to thread through still count
    rounds.
    """
    _STATE["rounds"] += 1
    if frame is None or not _audit_enabled():
        return
    try:
        from pagerank_hadoop_spark.plans.checks import formatted_plan

        plan = formatted_plan(frame)
        _STATE["round_exchanges"] += sum(
            1
            for ln in plan.splitlines()
            if ln.startswith("(")
            and "Exchange" in ln
            and "Reused" not in ln
        )
    except Exception:  # audit must never break the loop itself
        pass

"""Data-bound scaling probe (r15 VERDICT item 6).

At sf0.1 the whole bench is job/stage-overhead-bound, so the driver's
8-vs-32-core comparison shows ratio ~1 for every query and cannot
validate parallelism claims. This probe makes the scaling signal
informative: it synthesizes a 10x scale factor (FK-consistent
replication, scripts/make_synth_sf.py), then runs the top-N
wall-clock queries through the UNCHANGED bench.py contract
($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS, one subprocess per core
count so each gets its own local[N] JVM) and prints ONE JSON line:

    {"metric": "scale_probe_c8_over_c32", "value": <median ratio>,
     "unit": "x", "queries": {name: {"c8": s, "c32": s, "ratio": r}},
     "sf": "1synth", "n_queries": N}

ratio > 1 means the query actually uses the extra cores (c8 slower);
ratio ~ 1 at THIS sf means the query is genuinely serial or
driver-bound (loop-round latency), not that cpus are ignored.

Usage:
    python scripts/scale_probe.py [--top N] [name ...]

Defaults: top 10 of BENCH_FULL.json. The synth SF is built once into
/tmp/sf1_synth (~10x sf0.1) and reused once its build has finished (a
``_COMPLETE`` sentinel written after make_synth_sf.py succeeds; an
interrupted build is redone). bench.py itself is untouched — this tool
is additive.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SYNTH_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/sf1_synth")
SENTINEL = os.path.join(SYNTH_DIR, "_COMPLETE")


def ensure_synth() -> None:
    if os.path.exists(SENTINEL):
        return
    print(f"# building {SYNTH_DIR} (10x sf0.1)...", file=sys.stderr)
    subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "make_synth_sf.py"),
            "10",
            "/root/testdata/sf0.1",
            SYNTH_DIR,
        ],
        check=True,
        cwd=ROOT,
    )
    open(SENTINEL, "w").close()


def pick_names(argv: list[str]) -> list[str]:
    """Explicit query names, or the top N (default 10) of
    BENCH_FULL.json by wall time with ``--top N``."""
    if argv and argv[0] != "--top":
        return argv
    if argv and len(argv) != 2:
        raise SystemExit("usage: scale_probe.py [--top N] [name ...]")
    n = int(argv[1]) if argv else 10
    full = json.load(open(os.path.join(ROOT, "BENCH_FULL.json")))
    return [k for k, _ in sorted(full["queries"].items(), key=lambda kv: -kv[1])[:n]]


_RUN_RE = re.compile(r"^# run\d+ (\S+): ([0-9.]+)s")


def bench_at(cpus: int, names: list[str]) -> dict[str, float]:
    """One bench.py subprocess at local[cpus] over the synth SF; the
    per-query wall comes from bench.py's stderr lines (its stdout
    JSON only carries headline names for subset runs)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SYNTH_DIR,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_RUNS="1",
        # warm pass at the real small SF keeps JIT/codegen off-ledger
        SPARK_GRAFT_WARM_SF_DIR="/root/testdata/sf0.001",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *names],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    out: dict[str, float] = {}
    for line in proc.stderr.splitlines():
        m = _RUN_RE.match(line)
        if m:
            out[m.group(1)] = min(
                float(m.group(2)), out.get(m.group(1), float("inf"))
            )
    return out


def main() -> None:
    names = pick_names(sys.argv[1:])
    ensure_synth()
    t32 = bench_at(32, names)
    t8 = bench_at(8, names)
    queries = {}
    ratios = []
    for n in names:
        if n in t8 and n in t32 and t32[n] > 0:
            r = round(t8[n] / t32[n], 3)
            queries[n] = {"c8": t8[n], "c32": t32[n], "ratio": r}
            ratios.append(r)
    median = statistics.median(ratios) if ratios else None
    print(
        json.dumps(
            {
                "metric": "scale_probe_c8_over_c32",
                "value": median,
                "unit": "x",
                "queries": queries,
                "sf": "1synth",
                "n_queries": len(queries),
            }
        )
    )


if __name__ == "__main__":
    main()

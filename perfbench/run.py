"""Benchmark entry point.

    python3 perfbench/run.py --workload {wiki_graph,query_tail}
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout of this repository. It builds the
workload's inputs from ``--seed`` (cached under ``perfbench/_work``
behind a sha256 manifest), starts the engine's Spark session on
``local[<cpus>]`` and runs the workload's warm-up passes:
``setup_s`` is the time from process start to the end of the last of
them, less input generation and output checks. Then whole passes run in a
closed loop with one client until ``--seconds`` of operation time,
and at least the workload's ``passes`` in an untraced run, have been
measured. Every operation's output is checked outside its timed
interval. See ``NOTES.md``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is the
full report: the workload's own metric names, every failure with its
error, calibration timings and box context. Exit code 0 only when
every operation succeeded and passed its check. Every process the run
started (the Spark driver JVM and what it starts) has ended before
either line is printed, and before the run exits on an error or a
SIGTERM.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_PROCESS = time.time()  # set-up counts from here

from workloads import GRAPH_OPS, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

END_TO_END = {"setup_s": "s", "pass_s": "s"}
FAMILIES = ("relational", "streaming", "dedup", "similarity", "multimodal", "text")
PER_LAYER = {
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.jobs_per_query": "count",
    "session.load_table_s": "s",
    **{f"tail.{f}_s": "s" for f in FAMILIES},
    **{f"graph.{o}_s": "s" for o in GRAPH_OPS},
    **{f"graph.{o}_rounds": "count" for o in GRAPH_OPS},
    "graph.round_s": "s",
    "graph.jobs_per_round": "count",
    "graph.barrier_jobs": "count",
    "wiki.parse_s": "s",
    "wikitext.links_s": "s",
    "wikitext.kept_ratio": "ratio",
    "pagerank.adjacency_s": "s",
    "pagerank.round_s": "s",
    "pagerank.topk_s": "s",
    "cli.write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "sched.delay_s": "s",
    "driver.no_task_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "trace.overhead": "ratio",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(trace: bool) -> None:
    """Workers import the package through PYTHONPATH (``sys.path`` only
    reaches the Python driver process); temp files and Spark's local
    dirs stay in the work directory."""
    from spans import spark_submit_args

    for sub in ("tmp", "eventlog"):  # left by the previous run
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(WORK, trace)
    sys.path.insert(0, ROOT)


def _adopt_orphans() -> None:
    """Makes this process the child subreaper of everything it starts,
    so a descendant that outlives its parent (Spark's Python worker
    daemon outliving the driver JVM) is re-parented here and
    ``_stop_processes`` can wait for it; SIGTERM and SIGHUP leave
    through the same ``finally`` as a normal exit."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass

    def leave(signum, frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, leave)


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes(grace_s: float = 30.0) -> None:
    """Stops the Spark session, then every process still below this one
    (the driver JVM, which would otherwise exit only after this process
    has, and anything orphaned below it), and waits until each has
    ended: SIGTERM first, SIGKILL after ``grace_s``."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        _reap()
        pids = _children()
        if not pids:
            return
        late = time.monotonic() > deadline
        for pid in pids:
            if late or pid not in signalled:
                signalled.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus the Spark driver JVM."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def _calibrate(spark) -> dict:
    """A fixed JVM-only Spark job and a fixed pure-Python loop; their
    drift between runs is box drift, not code change."""
    t0 = time.perf_counter()
    spark.range(0, 5_000_000, numPartitions=4).selectExpr("sum(id * id % 7)").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    t2 = time.perf_counter()
    return {"jvm_job_s": t1 - t0, "python_loop_s": t2 - t1}


def _quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Runner:
    def __init__(self, args):
        from spans import Tracer

        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.wl = WORKLOADS[args.workload](WORK, args.seed, self.tracer)
        self.failures: list[dict] = []
        self.attempted = 0
        self.setup_s = None
        self.warm_passes_s: list[float] = []
        self.samples: list[tuple[str, float]] = []  # (op, seconds), timed window only
        self.traced_samples: list[tuple[str, float]] = []
        self.pass_s: list[float] = []
        self.windows: list[tuple[float, float]] = []

    def _op(self, op: str, traced: bool) -> tuple[float, bool]:
        """One operation: timed call, then its output check. Returns the
        timed interval and whether the operation succeeded. Errors are
        recorded with their cause; the loop keeps going."""
        self.attempted += 1
        self.wl.before(op)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op}"):
                    result = self.wl.traced(op)
            else:
                result = self.wl.run(op)
        except Exception as exc:  # counted, never swallowed
            self.failures.append({"op": op, "error": repr(exc)[:500], "trace": traceback.format_exc()[-2000:]})
            return time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        if traced:
            self.windows.append((w0, time.time()))
        errors = self.wl.check(op, result)
        if errors:
            self.failures.append({"op": op, "error": "; ".join(errors)[:1000]})
            return dt, False
        return dt, True

    def _pass(self) -> tuple[float, float]:
        """One timed pass; returns the sum of its untraced operations'
        timed intervals (checks and untimed preparation are outside)
        and the sum of all of them. A traced run executes each
        operation twice, untraced and traced, alternating which goes
        first, so the two totals compare like for like
        (``trace.overhead``)."""
        total = both = 0.0
        for i, op in enumerate(self.wl.pass_ops()):
            modes = (False,) if not self.args.trace else ((False, True), (True, False))[i % 2]
            for traced in modes:
                self.tracer.op = f"{len(self.pass_s)}:{op}"  # pass index : op
                dt, ok = self._op(op, traced)
                both += dt
                if not traced:
                    total += dt
                if ok:
                    (self.traced_samples if traced else self.samples).append((op, dt))
        return total, both

    def run(self) -> tuple[dict, dict]:
        """Returns the report and the result object."""
        from pagerank_hadoop_spark.session import get_spark

        t0 = time.perf_counter()
        input_meta = self.wl.prepare()
        input_s = time.perf_counter() - t0
        spark = get_spark(f"perfbench-{self.args.workload}")
        spark.range(1).count()  # the session answers a job
        session_s = time.time() - T_PROCESS - input_s
        self.tracer.bind(spark)
        self.wl.start(spark)
        # untimed passes take the JVM's first-use and warm-up costs;
        # set-up is process start to their end, less input generation
        # (and reference computation) and the output checks
        for _ in range(self.wl.warm_passes):
            self.warm_passes_s.append(sum(self._op(op, traced=False)[0] for op in self.wl.pass_ops()))
        self.setup_s = session_s + sum(self.warm_passes_s)
        calib = [_calibrate(spark)]
        # the per-layer metrics of a traced run need no median of passes
        min_passes = 1 if self.args.trace else self.wl.passes
        measured = 0.0
        while measured < self.args.seconds or len(self.pass_s) < min_passes:
            if self.args.trace and hasattr(self.wl, "traced_tables"):
                self.wl.traced_tables()
            dt, all_dt = self._pass()
            self.pass_s.append(dt)
            measured += all_dt
            if len(self.failures) > 20 or (self.attempted > 1 and not self.samples):
                break
        calib.append(_calibrate(spark))
        rss = _peak_rss_mb(spark)
        spark.stop()  # also completes the event log
        layer = {}
        if self.args.trace:
            self.tracer.finish()
            self.tracer.write(os.path.join(WORK, f"spans-{self.args.workload}.json"))
            layer = self._layer_metrics()
        return self._report(input_meta, input_s, session_s, calib, rss, layer)

    # -- metrics ---------------------------------------------------------

    def _end_to_end(self) -> dict:
        return {"setup_s": self.setup_s, "pass_s": statistics.median(self.pass_s)}

    def _report_metrics(self, rss: float) -> dict:
        """Report-only metrics (NOTES.md). Latency percentiles are over
        operations, each taken as the median of its runs in the window,
        so one slow pass moves them less than pooling every sample
        would."""
        per_op = [statistics.median(ts) for ts in self._op_times().values()] or [float("nan")]
        times = [dt for _, dt in self.samples] or [float("nan")]
        p50, p90 = statistics.median(per_op), _quantile(per_op, 0.9)
        per_min = 60.0 * len(times) / sum(times)
        m = {
            "op_p50_s": [p50, "s"],
            "op_p90_s": [p90, "s"],
            "ops_per_min": [per_min, "1/min"],
            "peak_rss_mb": [rss, "MB"],
        }
        if self.args.workload == "wiki_graph":
            cli = [dt for op, dt in self.samples if op == "cli"] or [float("nan")]
            graph = sum(dt for op, dt in self.samples if op != "cli")
            m["wiki_dag_pages_per_s"] = [self.wl.pages / statistics.median(cli), "pages/s"]
            m["graph_loops_s"] = [graph / len(self.pass_s), "s"]
        else:
            m["tail_p50_s"] = [p50, "s"]
            m["tail_p90_s"] = [p90, "s"]
            m["tail_queries_per_min"] = [per_min, "1/min"]
        return m

    def _layer_metrics(self) -> dict:
        from spans import event_log_metrics

        t = self.tracer
        spans = t.spans  # warm passes run untraced: every span is in the window
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        passes = max(len(self.pass_s), 1)
        ops = max(len(self.traced_samples), 1)

        def dur(name):
            return sum(s["dur_s"] for s in by_name.get(name, []))

        def jobs(name):
            return sum(s["jobs"] for s in by_name.get(name, []))

        def per_call(name):
            calls = by_name.get(name, [])
            return dur(name) / len(calls) if calls else 0.0

        m = {k: 0.0 for k in PER_LAYER}
        wl = self.args.workload
        if wl == "query_tail":
            n_q = max(len(by_name.get("queries.build", [])), 1)
            m["queries.build_s"] = dur("queries.build") / n_q
            m["queries.exec_s"] = dur("queries.exec") / n_q
            m["queries.jobs_per_query"] = (jobs("queries.build") + jobs("queries.exec")) / n_q
            fam_t: dict[str, list[float]] = {}
            for op, dt in self.samples:
                fam_t.setdefault(self.wl.sample[op], []).append(dt)
            for f, ts in fam_t.items():
                m[f"tail.{f}_s"] = statistics.mean(ts)
        m["session.load_table_s"] = per_call("session.load_table")
        if wl == "wiki_graph":
            g_t = g_jobs = g_rounds = 0.0
            for op in GRAPH_OPS:
                name = f"operators.graph.{op}"
                calls = max(len(by_name.get(name, [])), 1)
                m[f"graph.{op}_s"] = dur(name) / calls
                m[f"graph.{op}_rounds"] = t.counts[f"graph.{op}_rounds"] / calls
                g_t += dur(name)
                g_jobs += jobs(name)
                g_rounds += t.counts[f"graph.{op}_rounds"]
            m["graph.round_s"] = g_t / max(g_rounds, 1)
            m["graph.jobs_per_round"] = g_jobs / max(g_rounds, 1)
            m["graph.barrier_jobs"] = (g_jobs - g_rounds) / passes
            m["wiki.parse_s"] = dur("sources.wiki") / passes
            m["wikitext.links_s"] = dur("functions.wikitext") / passes
            m["wikitext.kept_ratio"] = t.counts["wikitext.kept"] / max(t.counts["wikitext.extracted"], 1)
            m["pagerank.adjacency_s"] = dur("operators.pagerank.adjacency") / passes
            m["pagerank.round_s"] = dur("operators.pagerank.rounds") / max(t.counts["pagerank.rounds"], 1)
            m["pagerank.topk_s"] = dur("operators.pagerank.topk") / passes
            m["cli.write_s"] = dur("__main__.write") / passes
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"spark.{k}"] = sum(s[k] for s in spans) / ops
        for k, v in event_log_metrics(WORK, self.windows).items():
            m[k] = v / ops
        m["trace.overhead"] = self._overhead()
        return m

    def _op_times(self) -> dict:
        out: dict[str, list[float]] = {}
        for op, dt in self.samples:
            out.setdefault(op, []).append(dt)
        return out

    def _overhead(self) -> float:
        """Total traced over total untraced time of the same operations."""
        traced = sum(dt for _, dt in self.traced_samples)
        return traced / sum(dt for _, dt in self.samples) - 1.0

    def _report(self, input_meta, input_s, session_s, calib, rss, layer) -> tuple[dict, dict]:
        e2e = self._end_to_end()
        failed = len(self.failures)
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "metrics": {
                **{k: [v, END_TO_END[k]] for k, v in e2e.items()},
                **self._report_metrics(rss),
                "failed_frac": [failed / max(self.attempted, 1), "ratio"],
            },
            "samples": len(self.samples),
            "passes": len(self.pass_s),
            "session_start_s": session_s,
            "warm_passes_s": self.warm_passes_s,
            "pass_runs_s": self.pass_s,
            "op_s": self._op_times(),
            "input": input_meta,
            "input_gen_s": input_s,
            "failures": self.failures,
            "notes": self.wl.notes,
            "context": {
                "nproc": _cpus(),
                "loadavg_end": os.getloadavg(),
                "calibration_start": calib[0],
                "calibration_end": calib[1],
            },
        }
        if layer:
            report["layers"] = self.tracer.layer_totals()
        values, units = (layer, PER_LAYER) if self.args.trace else (e2e, END_TO_END)
        chosen = {k: {"value": values[k], "unit": units[k]} for k in units}
        result = {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": chosen,
        }
        return report, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pagerank_hadoop_spark", "__init__.py")):
        print(f"error: the engine package is not in {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    _adopt_orphans()
    try:
        _environment(bool(args.trace))
        report, result = Runner(args).run()
    finally:
        _stop_processes()
    print(json.dumps(report, default=str))
    print(json.dumps(result).replace("NaN", "null"))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Self-tests of the benchmark: input determinism and the manifest,
the Spark-free references, the run's refusal outside a checkout, and
Python-worker queries run from the benchmark's own directory.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _digests(root):
    with open(os.path.join(root, inputs.MANIFEST)) as fh:
        return json.load(fh)["files"]


@pytest.mark.parametrize(
    "kind,build",
    [
        ("wiki", lambda r, seed: inputs.build_wiki(r, seed, 300, 3.0)),
        ("tables", lambda r, seed: inputs.build_tables(r, seed, 0.001)),
    ],
)
def test_inputs_are_byte_identical_per_seed(tmp_path, kind, build):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.ensure(a, kind, 7, {"n": 1}, lambda r: build(r, 7))
    inputs.ensure(b, kind, 7, {"n": 1}, lambda r: build(r, 7))
    inputs.ensure(c, kind, 8, {"n": 1}, lambda r: build(r, 8))
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_manifest_rebuilds_half_built_or_changed_inputs(tmp_path):
    root = str(tmp_path / "w")
    calls = []

    def build(r):
        calls.append(r)
        return inputs.build_wiki(r, 3, 200, 3.0)

    inputs.ensure(root, "wiki", 3, {"n": 1}, build)
    _, rebuilt = inputs.ensure(root, "wiki", 3, {"n": 1}, build)
    assert not rebuilt and len(calls) == 1
    with open(os.path.join(root, "dump", "dump.xml"), "a") as fh:
        fh.write(" ")
    _, rebuilt = inputs.ensure(root, "wiki", 3, {"n": 1}, build)
    assert rebuilt
    os.remove(os.path.join(root, inputs.MANIFEST))
    _, rebuilt = inputs.ensure(root, "wiki", 3, {"n": 1}, build)
    assert rebuilt and len(calls) == 3
    _, rebuilt = inputs.ensure(root, "wiki", 3, {"n": 2}, build)
    assert rebuilt


def test_link_graph_core_is_one_scc():
    import networkx as nx

    src, dst = inputs.link_graph(np.random.default_rng(5), 500, 3.0)
    g = nx.DiGraph(list(zip(src.tolist(), dst.tolist())))
    biggest = max(nx.strongly_connected_components(g), key=len)
    assert 0 in biggest and len(biggest) >= 0.6 * 500


def test_parity_pagerank_matches_hand_computation():
    # 0 -> 1, 0 -> 2, 1 -> 2; vertex 2 is dangling (its mass is lost)
    src, dst = np.array([0, 0, 1]), np.array([1, 2, 2])
    r1 = checks.parity_pagerank(src, dst, 3, 1)
    n = 3
    want = [0.15 / n, 0.15 / n + 0.85 * (1 / n) / 2, 0.15 / n + 0.85 * ((1 / n) / 2 + 1 / n)]
    assert np.allclose(r1, want, rtol=0, atol=1e-15)


def test_snapshot_reader_accepts_quoted_titles(tmp_path):
    d = tmp_path / "PageRank.iter1.out"
    d.mkdir()
    (d / "part-00000").write_text('"The_\\"Page\\"_7\'s"\t0.5\nPage_1\t0.25\n')
    rows, quoted = checks.read_tsv_dir(str(d))
    assert rows == [('The_"Page"_7\'s', 0.5), ("Page_1", 0.25)]
    assert quoted == 1


def test_query_check_accepts_last_digit_rounding_only():
    want = checks.hashed(["k", "sum"], [("a", 552233359.4407539), ("b", 1.5)])
    # the correctly rounded sum, one ulp from DuckDB's cast; rows reordered
    got = [("b", 1.5), ("a", 552233359.440754)]
    assert checks.check_query_result("q", ["sum", "k"], [r[::-1] for r in got], want) == ([], True)
    assert checks.check_query_result("q", ["k", "sum"], want[1], want) == ([], False)
    off = [("a", 552233359.4408), ("b", 1.5)]
    errors, _ = checks.check_query_result("q", ["k", "sum"], off, want)
    assert errors


def test_result_metrics_are_the_declared_ones():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    for kind, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in declared[kind]] == list(units.items())


def test_tail_sample_is_one_oracle_backed_query_per_family():
    sys.path.insert(0, ROOT)
    from pagerank_hadoop_spark import queries

    sample = workloads.tail_sample()
    assert set(sample) <= set(queries.oracle_sql())
    assert sorted(sample.values()) == sorted(run.FAMILIES)
    assert workloads.query_family("media_mp4_seek", [("multimodal", ["media_"])]) == "multimodal"
    assert workloads.query_family("topk_orders", [("similarity", ["_topk"])]) == "relational"


def test_covered_time_clips_to_windows():
    assert spans._covered([(0, 2), (1, 3), (5, 6)], [(1, 5)]) == pytest.approx(2.0)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_tail",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


UDF_QUERY = """
import os, sys
sys.path.insert(0, os.getcwd())
import run
run._environment(False)
import checks, inputs, workloads
from pagerank_hadoop_spark import queries
from pagerank_hadoop_spark.session import get_spark
root = sys.argv[1]
inputs.ensure(root, "tables", 1, {"sf": 0.001}, lambda r: inputs.build_tables(r, 1, 0.001))
spark = get_spark("perfbench-selftest")
jvm = spark.sparkContext._gateway.proc.pid
try:
    for name in ("normalized_doc_hashes", "media_decoded"):
        df = queries.queries()[name](spark, root)
        rows = [tuple(r) for r in df.collect()]
        con = checks.duckdb_connection(root, workloads.TABLES)
        want = checks.oracle_result(con, queries.oracle_sql()[name])
        errors, _ = checks.check_query_result(name, df.columns, rows, want)
        assert not errors, errors
finally:
    run._stop_processes()
print("jvm still running" if os.path.exists(f"/proc/{jvm}") else "ok")
"""


def test_pandas_udf_query_runs_from_the_benchmark_directory(tmp_path):
    """Spark's Python workers import the engine through the PYTHONPATH
    the runner sets; ``sys.path`` alone reaches only the Python driver
    process. Both queries ship engine functions to the workers by
    reference (a pandas UDF and a ``mapInPandas`` decoder) and fail
    with ``ModuleNotFoundError`` without it. The runner's clean-up has
    ended the session's JVM before the script's last line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", UDF_QUERY, str(tmp_path / "tables")],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("ok")

"""Registry output-shape lint: oracle-backed results must be flat.

The driver's correctness gate canonicalizes each result frame with a
pandas ``sort_values`` over every column before hashing; pandas raises
``TypeError: unhashable type: 'list'`` on top-level list cells, so any
oracle-backed query emitting an array/map/struct column is red in
CORRECTNESS even when its values are correct (round-4:
``jl_projection_vectors`` / ``mrl_truncated_vectors``). These tests pin
the reshaped (vec_id, pos, val) outputs and emulate the driver canon.
scripts/check_oracle.py applies the same lint to every oracle-backed
query it runs. The hand-run scripts (``bench.py``, ``scripts/*.py``)
are byte-compiled, since no other test imports them. The engine's
session-conf changes and stream starts each have one owner, and every
callable it hands to another thread inherits the caller's local
properties, checked by a source scan.
"""

from __future__ import annotations

import ast
import glob
import os
import py_compile
import re

import pandas as pd
import pytest

from pagerank_hadoop_spark import queries as Q

VECTOR_QUERIES = ["jl_projection_vectors", "mrl_truncated_vectors"]


def _driver_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    # the step that crashed in CORRECTNESS_r04: pandas lexsort over all
    # columns (list cells are unhashable -> TypeError)
    return pdf.sort_values(by=sorted(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", VECTOR_QUERIES)
def test_vector_query_output_is_flat_and_canonicalizable(spark, sf_dir, name):
    df = Q.queries()[name](spark, sf_dir)
    complex_cols = [
        (c, t)
        for c, t in df.dtypes
        if t.startswith(("array", "map", "struct"))
    ]
    assert not complex_cols, f"{name} has non-flat columns: {complex_cols}"
    pdf = df.toPandas()
    canon = _driver_canon(pdf)  # must not raise
    assert len(canon) == len(pdf)


def test_jl_exploded_matches_numpy(spark, sf_dir):
    import numpy as np

    from pagerank_hadoop_spark.functions.vectors import jl_sign_matrix

    df = Q.queries()["jl_projection_vectors"](spark, sf_dir)
    got = {
        (r.vec_id, r.pos): r.val
        for r in df.collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    signs = np.array(jl_sign_matrix(64, 16), dtype=np.float64)
    n_vec = 0
    for row in emb:
        n_vec += 1
        v = np.array(row.embedding, dtype=np.float64)
        want = (signs @ v) / np.sqrt(16.0)
        for j in range(16):
            assert got[(row.vec_id, j)] == pytest.approx(want[j], abs=1e-9)
    assert len(got) == n_vec * 16


def test_mrl_exploded_unit_norm(spark, sf_dir):
    import math

    df = Q.queries()["mrl_truncated_vectors"](spark, sf_dir)
    rows = df.collect()
    by_vec: dict[int, list[float]] = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, [0.0] * 16)[r.pos] = r.val
    for vec_id, vals in by_vec.items():
        n = math.sqrt(sum(x * x for x in vals))
        # rounded to 6dp per element, so the norm is 1 within rounding
        assert n == pytest.approx(1.0, abs=1e-4) or n == 0.0
    assert all(len(v) == 16 for v in by_vec.values())


def test_repin_gates_block_round_trips():
    """scripts/repin_gates.py owns the _PINNED block in queries.py:
    read_block must parse the live file to exactly the imported dict,
    and render_block(parse) must reproduce the committed text
    byte-for-byte (idempotency) — otherwise a REPIN_OK rewrite would
    churn the file even when no gate drifted."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "repin_gates",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "repin_gates.py",
        ),
    )
    rg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rg)

    src = open(rg.QUERIES_PY).read()
    block, pinned = rg.read_block(src)
    assert pinned == Q._PINNED
    assert rg.render_block(pinned) == block
    # the derived ANN dict stays in lockstep with the block
    assert Q._ANN_MEASURED_RECALL == {
        k.split(".", 1)[1]: v
        for k, v in pinned.items()
        if k.startswith("ann_recall.")
    }
    # every pinned key resolves to a registered oracle-backed query
    for key in pinned:
        qname = (key.split(".", 1)[1] if key.startswith("ann_recall.")
                 else key.split(".", 1)[0])
        assert qname in Q._ORACLES, key


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = ["bench.py"] + sorted(
    os.path.relpath(p, _ROOT) for p in glob.glob(os.path.join(_ROOT, "scripts", "*.py"))
)


@pytest.mark.parametrize("path", _SCRIPTS)
def test_script_byte_compiles(path, tmp_path):
    """``bench.py`` and ``scripts/*.py`` run only by hand, so no other
    test imports them: at least each must compile."""
    py_compile.compile(
        os.path.join(_ROOT, path), cfile=str(tmp_path / "out.pyc"), doraise=True
    )


_PACKAGE = os.path.join(os.path.dirname(__file__), "..", "pagerank_hadoop_spark")


def _package_files_matching(pattern: str) -> list[str]:
    hits = []
    for path in glob.glob(os.path.join(_PACKAGE, "**", "*.py"), recursive=True):
        with open(path) as fh:
            if re.search(pattern, fh.read()):
                hits.append(os.path.relpath(path, _PACKAGE))
    return sorted(hits)


def test_only_session_changes_the_session_conf():
    """``session.conf_scope`` is the engine's one save/set/restore of
    the SQL conf, under the one conf lock."""
    assert _package_files_matching(r"conf\.(un)?set\(") == ["session.py"]


def test_only_the_drain_starts_a_stream():
    """``windows.drain`` is the one place a streaming query starts, so
    every stream is bounded, stopped and run under the conf lock."""
    assert _package_files_matching(r"\.writeStream\b") == [
        os.path.join("streaming", "windows.py")
    ]


def _thread_handoffs(tree) -> list:
    """``(call, callable)`` for each callable handed to another thread:
    the first argument of ``submit`` and of an executor's ``map``, and
    a ``Thread``'s or ``Timer``'s target."""
    pools = {
        item.optional_vars.id
        for node in ast.walk(tree)
        if isinstance(node, ast.With)
        for item in node.items
        if isinstance(item.optional_vars, ast.Name)
        and "Executor" in ast.unparse(item.context_expr)
    }
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        receiver = ast.unparse(f.value) if isinstance(f, ast.Attribute) else ""
        if name == "submit" or (name == "map" and receiver in pools):
            found.append((name, node.args[0]))
        elif name in ("Thread", "Timer"):
            kw = {k.arg: k.value for k in node.keywords}
            target = kw.get("target", kw.get("function"))
            if target is None and name == "Timer":
                target = node.args[1]
            found.append((name, target))
    return found


def _inherits_properties(fn) -> bool:
    """Whether ``fn`` is ``inheritable_thread_target(f)`` or
    ``inheritable_thread_target(session)(f)``."""
    while isinstance(fn, ast.Call):
        if "inheritable_thread_target" in ast.unparse(fn.func):
            return True
        fn = fn.func
    return False


def test_threads_inherit_the_callers_local_properties():
    """Every callable the engine hands to another thread goes through
    ``inheritable_thread_target``, so its jobs run under the caller's
    job group and local properties. The drain's ``threading.Timer``
    is exempt: it only stops a query and runs no job."""
    exempt = {(os.path.join("streaming", "windows.py"), "Timer")}
    seen, bare = set(), []
    for path in glob.glob(os.path.join(_PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _PACKAGE)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for kind, fn in _thread_handoffs(tree):
            seen.add((rel, kind))
            if (rel, kind) not in exempt and not _inherits_properties(fn):
                bare.append((rel, kind, ast.unparse(fn)))
    assert bare == []
    # the scan sees the CLI's writes and the drain's timer
    assert {("__main__.py", "submit"), *exempt} <= seen

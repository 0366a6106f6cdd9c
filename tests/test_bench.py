"""bench.py keeps sweeping past a query that raises, and refuses
unknown query names before it starts a session."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_survives_one_bad_query(spark, sf_dir, monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def bad(_spark, _sf_dir):
        raise ValueError("injected")

    qs = {
        "bad_first": bad,
        "good": lambda s, _sf: s.range(5),
        "bad_frame": lambda s, _sf: s.range(3).where("raise_error('boom') IS NULL"),
    }
    monkeypatch.setattr(bench._registry, "queries", lambda: qs)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["bench.py", *qs])
    monkeypatch.setenv("SPARK_GRAFT_WARM_SF_DIR", os.path.join(ROOT, "no-such-dir"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")

    assert bench.main() == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["errors"]["bad_first"] == "ValueError: injected"
    assert "boom" in out["errors"]["bad_frame"]
    assert set(out["errors"]) == {"bad_first", "bad_frame"}
    assert out["n_queries"] == 1 and out["value"] >= 0


def test_bench_rejects_unknown_query_names(monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def no_session(*_a, **_k):
        raise AssertionError("a session was started")

    qs = {"good": lambda s, _sf: s.range(5)}
    monkeypatch.setattr(bench._registry, "queries", lambda: qs)
    monkeypatch.setattr(bench, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["bench.py", "nope", "good", "also_nope"])

    assert bench.main() == 2
    captured = capsys.readouterr()
    assert captured.out == ""
    assert "nope also_nope" in captured.err

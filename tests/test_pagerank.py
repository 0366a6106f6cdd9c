"""Golden-graph PageRank tests (SURVEY.md §5 item 2).

Closed-form / hand-iterated expectations for tiny graphs, in both
reference-parity mode (dangling mass lost — PageRank.java:305) and
corrected mode (mass redistributed; ranks sum to 1).
"""

from __future__ import annotations

import pytest

from pagerank_hadoop_spark.operators import adjacency_from_edges, pagerank, top_ranks


def _ranks(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _reference_pagerank(edges, n_iter=8, damping=0.85, parity=True):
    """Pure-Python replay of PageRank.java:258-324 semantics."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {v: sorted({d for s, d in edges if s == v}) for v in nodes}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        incoming = {v: 0.0 for v in nodes}
        dangling = 0.0
        for v in nodes:
            if out[v]:
                share = rank[v] / len(out[v])
                for d in out[v]:
                    incoming[d] += share
            else:
                dangling += rank[v]
        extra = 0.0 if parity else damping * dangling / n
        rank = {v: (1 - damping) / n + damping * incoming[v] + extra for v in nodes}
    return rank


CYCLE2 = [("a", "b"), ("b", "a")]
STAR3 = [("hub", "s1"), ("hub", "s2"), ("hub", "s3")]  # spokes dangle
K3 = [(a, b) for a in "xyz" for b in "xyz" if a != b]


@pytest.mark.parametrize("edges", [CYCLE2, STAR3, K3], ids=["2cycle", "3star", "K3"])
@pytest.mark.parametrize("parity", [True, False], ids=["parity", "corrected"])
def test_matches_reference_replay(spark, edges, parity):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=parity))
    want = _reference_pagerank(edges, n_iter=8, parity=parity)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_fixed_point_2cycle(spark):
    # symmetric 2-cycle: fixed point rank = 0.5 each, reached immediately
    df = spark.createDataFrame(CYCLE2, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    assert got["a"] == pytest.approx(0.5, abs=1e-12)
    assert got["b"] == pytest.approx(0.5, abs=1e-12)


def test_corrected_mode_mass_conserved(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=False))
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_parity_mode_loses_dangling_mass(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    assert sum(got.values()) < 1.0  # PageRank.java:305 — mass is lost


def test_teleport_floor_invariant(spark):
    # every vertex's rank >= 0.15/N (property test, SURVEY.md §5 item 3)
    df = spark.createDataFrame(K3 + STAR3, "src string, dst string")
    got = _ranks(pagerank(df, n_iter=8, parity=True))
    n = len(got)
    assert all(v >= 0.15 / n - 1e-15 for v in got.values())


def test_top_ranks_threshold_and_order(spark):
    df = spark.createDataFrame(STAR3, "src string, dst string")
    ranks = pagerank(df, n_iter=8, parity=True)
    n = 4
    out = top_ranks(ranks, n, threshold=5.0 / n).collect()
    vals = [r["rank"] for r in out]
    assert vals == sorted(vals, reverse=True)
    assert all(v > 5.0 / n for v in vals)


def test_adjacency_is_sorted_and_deduped(spark):
    df = spark.createDataFrame(
        [("a", "c"), ("a", "b"), ("a", "c")], "src string, dst string"
    )
    rows = adjacency_from_edges(df).collect()
    assert rows[0]["outlinks"] == ["b", "c"]


def test_personalized_pagerank_two_cycle_golden(spark):
    """2-cycle a<->b, seed a, d=0.85: closed form r(a) ≈ (1-d)/(1-d²)
    and r(b) ≈ d(1-d)/(1-d²) at convergence; after 8 iterations the
    truncated geometric series is exact to the partial sum."""
    from pagerank_hadoop_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, "a", n_iter=8).collect()
    }
    d = 0.85
    # replay the recurrence exactly (dangling-free graph, deg 1)
    ra, rb = 1.0, 0.0
    for _ in range(8):
        ra, rb = (1 - d) + d * rb, d * ra
    assert abs(got["a"] - ra) < 1e-12
    assert abs(got["b"] - rb) < 1e-12


def test_personalized_pagerank_mass_stays_near_seed(spark):
    """On a star out of the seed, the seed keeps the largest rank and
    unreachable vertices hold exactly zero (absent from the sparse
    result)."""
    from pagerank_hadoop_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame(
        [("s", "x"), ("s", "y"), ("u", "v")], "src string, dst string"
    )
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(edges, "s", n_iter=8).collect()
    }
    assert got["s"] == max(got.values())
    assert "u" not in got and "v" not in got  # unreachable from seed


def test_weighted_pagerank_reduces_to_uniform_on_equal_weights(spark):
    """With all weights equal, the weighted recurrence must reproduce
    the uniform parity-mode ranks exactly (wfrac = 1/deg)."""
    from pagerank_hadoop_spark.operators.pagerank import (
        pagerank,
        weighted_pagerank,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(str(i), str((i * 3 + 1) % 20)) for i in range(40)],
        "src string, dst string",
    ).distinct()
    uni = {
        r["id"]: r["rank"] for r in pagerank(edges, n_iter=4, parity=True).collect()
    }
    wtd = {
        r["id"]: r["rank"]
        for r in weighted_pagerank(
            edges.withColumn("weight", F.lit(2)), n_iter=4
        ).collect()
    }
    assert set(uni) == set(wtd)
    assert all(abs(uni[k] - wtd[k]) < 1e-12 for k in uni)


def test_weighted_pagerank_follows_the_heavy_edge(spark):
    """Two targets, 9:1 weights: the heavy target must collect ~9x the
    propagated (non-teleport) rank of the light one."""
    from pagerank_hadoop_spark.operators.pagerank import weighted_pagerank

    edges = spark.createDataFrame(
        [("s", "heavy", 9), ("s", "light", 1)],
        "src string, dst string, weight long",
    )
    got = {r["id"]: r["rank"] for r in weighted_pagerank(edges, n_iter=1).collect()}
    n = 3
    teleport = 0.15 / n
    prop_heavy = got["heavy"] - teleport
    prop_light = got["light"] - teleport
    assert abs(prop_heavy / prop_light - 9.0) < 1e-9


def test_pagerank_resume_equals_straight_run(spark):
    """j+k resumed iterations == j+k straight, both modes, bitwise."""
    from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    for parity in (True, False):
        straight, _ = pagerank_with_n(edges, n_iter=6, parity=parity)
        want = {r.id: r.rank for r in straight.collect()}
        half, _ = pagerank_with_n(edges, n_iter=2, parity=parity)
        resumed, _ = pagerank_with_n(
            edges, n_iter=4, parity=parity, init_ranks=half
        )
        got = {r.id: r.rank for r in resumed.collect()}
        assert got == want, parity


def test_pagerank_max_fanout_matches_default(spark):
    """Chunked+salted adjacency (the hub-skew escape hatch) computes
    the same ranks as the default layout, both modes, to 12dp —
    including a hub whose outlinks span several chunks and a dangling
    vertex (empty chunk row must survive the chunking)."""
    from pagerank_hadoop_spark.operators.pagerank import pagerank

    pairs = [("h", f"v{i}") for i in range(7)] + [
        ("v0", "v1"), ("v1", "h"), ("v2", "v3"), ("v3", "h"), ("v5", "v6")
    ]  # v4 receives only; "h" is the hub
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    for parity in (True, False):
        want = {
            r.id: round(r.rank, 12)
            for r in pagerank(edges, n_iter=5, parity=parity).collect()
        }
        got = {
            r.id: round(r.rank, 12)
            for r in pagerank(
                edges, n_iter=5, parity=parity, max_fanout=3
            ).collect()
        }
        assert got == want, parity


def test_chunked_adjacency_spreads_hub_and_keeps_dangling(spark):
    """_chunked_adjacency splits a hot row into ceil(outdeg/cap)
    chunks that land on MULTIPLE partitions (the skew point of the
    feature — explode output never leaves its task, so spreading must
    happen at layout time), preserves the true out-degree, and keeps
    dangling vertices as a single empty-chunk row."""
    import pyspark.sql.functions as F

    from pagerank_hadoop_spark.operators.pagerank import (
        _chunked_adjacency,
        _with_dangling,
        adjacency_from_edges,
    )

    hub_edges = [("h", f"v{i}") for i in range(40)]
    edges = spark.createDataFrame(hub_edges, ["src", "dst"])
    verts = spark.createDataFrame(
        [("h",)] + [(f"v{i}",) for i in range(40)] + [("lonely",)], ["id"]
    )
    adj = _with_dangling(adjacency_from_edges(edges), verts)
    chunked = _chunked_adjacency(adj, max_fanout=5, parts=16)

    hub = chunked.where(F.col("id") == "h").select(
        "outdeg", "__chunk", F.size("outlinks").alias("csz"),
        F.spark_partition_id().alias("pid"),
    ).collect()
    assert len(hub) == 8  # ceil(40/5)
    assert all(r.outdeg == 40 for r in hub)
    assert all(r.csz == 5 for r in hub)
    assert len({r.pid for r in hub}) > 1  # spread, not co-located
    lonely = chunked.where(F.col("id") == "lonely").collect()
    assert len(lonely) == 1
    assert lonely[0].outdeg == 0 and lonely[0].outlinks == []


def test_chunked_adjacency_non_string_vertex_ids(spark):
    """The empty-chunk literal derives its element type from the
    caller's outlinks column — a pre-built adjacency with LONG vertex
    ids must chunk without an AnalysisException, and dangling rows
    keep one empty chunk of the right type (ADVICE r8: the old
    hardcoded array<array<string>> raised a when/otherwise type
    mismatch here)."""
    import pyspark.sql.functions as F

    from pagerank_hadoop_spark.operators.pagerank import (
        _chunked_adjacency,
    )

    adj = spark.createDataFrame(
        [(1, [10, 11, 12, 13, 14, 15, 16]), (2, [])],
        "id long, outlinks array<long>",
    )
    chunked = _chunked_adjacency(adj, max_fanout=3, parts=4)
    hub = chunked.where(F.col("id") == 1).orderBy("__chunk").collect()
    assert [r.outlinks for r in hub] == [[10, 11, 12], [13, 14, 15], [16]]
    assert all(r.outdeg == 7 for r in hub)
    dangling = chunked.where(F.col("id") == 2).collect()
    assert len(dangling) == 1
    assert dangling[0].outdeg == 0 and dangling[0].outlinks == []


@pytest.mark.parametrize(
    "n, shuffle_parts, parts",
    [
        (0, 8, 1),  # an empty graph still gets one task
        (1, 8, 1),
        (100_000, 8, 1),
        (100_001, 8, 2),
        (250_000, 32, 3),
        (800_000, 8, 8),
        (900_000, 8, 8),  # never wider than the session
        (10**9, 32, 32),
        (10**9, 1, 1),
    ],
)
def test_pagerank_partitions_per_vertex_count(n, shuffle_parts, parts):
    """PageRank sizes its state at ROWS_PER_ITER_TASK vertices per task,
    clamped to [1, shuffle partitions] by the rule graph loops share."""
    from pagerank_hadoop_spark.operators.pagerank import _iter_partitions

    assert _iter_partitions(n, shuffle_parts) == parts


def test_shuffle_partitions_falls_back_on_non_integer():
    from types import SimpleNamespace

    from pagerank_hadoop_spark.operators.pagerank import shuffle_partitions

    def session(value):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: value))

    assert shuffle_partitions(session("12")) == 12
    assert shuffle_partitions(session("auto")) == 32


# A hub (h), a 3-cycle (a→b→c→a), two dangling vertices (d, g) and a
# source-only vertex (i); 9 vertices, so 1/N and the dangling share are
# inexact. Every vertex has in-degree ≤ 2 and there are two dangling
# vertices, so no sum below depends on partial-aggregation order: the
# values are the same at any width (checked at local[1], [8] and [32]).
PIN_EDGES = [
    ("h", "a", 3), ("h", "b", 1), ("h", "c", 1), ("h", "d", 2), ("h", "e", 1),
    ("a", "b", 1), ("b", "c", 1), ("c", "a", 1),
    ("e", "h", 1), ("f", "h", 4), ("f", "g", 1), ("i", "f", 1),
]
# Exact ranks after 8 iterations, computed by the implementation before
# its four per-variant loops were folded into one.
PIN_GOLDENS = {
    "parity": {
        "a": 0.16927184743244095, "b": 0.16927184743244095,
        "c": 0.16927184743244095, "d": 0.025452541633875003,
        "e": 0.025452541633875003, "f": 0.030833333333333338,
        "g": 0.029770833333333337, "h": 0.0514878464141389,
        "i": 0.01666666666666667,
    },
    "corrected": {
        "a": 0.244226718576374, "b": 0.244226718576374,
        "c": 0.244226718576374, "d": 0.037946980678345614,
        "e": 0.037946980678345614, "f": 0.045616473225023275,
        "g": 0.04419004613492206, "h": 0.07706802248015725,
        "i": 0.024551341074084077,
    },
    "personalized": {
        "a": 0.16883343096506248, "b": 0.16883343096506248,
        "c": 0.16883343096506248, "d": 0.0256956017588125,
        "e": 0.17569560175881252, "h": 0.14897067438093753,
    },
    "weighted": {
        "a": 0.18665078513006186, "b": 0.17699585595987422,
        "c": 0.17131996331047503, "d": 0.02878728177310181,
        "e": 0.02272697421988424, "f": 0.030833333333333338,
        "g": 0.021908333333333335, "h": 0.056986446286206784,
        "i": 0.01666666666666667,
    },
}


def test_every_variant_bitwise_pinned(spark):
    """Each variant's exact float expression (rank/outdeg, rank*wfrac,
    rank/outdeg*d, the dangling term) is pinned to the last ulp: 9-dp
    oracle rounding can flip on one ulp, so `==`, not approx."""
    from pagerank_hadoop_spark.operators.pagerank import (
        personalized_pagerank,
        weighted_pagerank,
    )

    wedges = spark.createDataFrame(PIN_EDGES, "src string, dst string, weight long")
    edges = wedges.select("src", "dst")
    got = {
        "parity": pagerank(edges, n_iter=8, parity=True),
        "corrected": pagerank(edges, n_iter=8, parity=False),
        "personalized": personalized_pagerank(edges, "e", n_iter=8),
        "weighted": weighted_pagerank(wedges, n_iter=8),
    }
    drifted = [v for v, df in got.items() if _ranks(df) != PIN_GOLDENS[v]]
    assert not drifted, drifted


def _spy_one_task(monkeypatch, P) -> list:
    """Record every one-task rank run of ``P`` from now on."""
    calls, real = [], P._ranks_in_one_task
    monkeypatch.setattr(
        P, "_ranks_in_one_task", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    return calls


def _rank_run_on_path(monkeypatch, P, one_task: bool, run):
    """``run()`` forced onto one path of ``P``: ``(sorted rows per
    frame, N, rounds)``, with every rank compared as its exact float.
    The plan-size probe reads every input as small, and the edge
    probe decides the path."""
    from pagerank_hadoop_spark import runtime_counters

    with monkeypatch.context() as m:
        calls = _spy_one_task(m, P)
        m.setattr(P, "plan_bytes", lambda df: 1000)
        m.setattr(P, "_fits_one_task", lambda *a, **k: one_task)
        runtime_counters.reset()
        frames, n = run()
        rows = [sorted((tuple(r) for r in f.collect()), key=repr) for f in frames]
        assert bool(calls) == one_task
    return rows, n, runtime_counters.snapshot()["rounds"]


# The one-task rank path against the distributed loop: one graph of
# four parts (several parts name the same vertex), and the empty one
RANK_PATH_EDGES = [
    # code-point order: U+1F600 sorts after U+FF5E as UTF-8 bytes do,
    # where UTF-16 order puts it first; mixed case sorts upper first
    ("Zeta", "alpha"), ("alpha", "Ärger"), ("Ärger", "Zeta"),
    ("～", "\U0001F600"), ("\U0001F600", "～"), ("Bob", "～"),
    ("bob", "\U0001F600"), ("B", "Bob"), ("\U0001F600", "bob"),
    ("alpha", "～"), ("Zeta", "\U0001F600"),
    # self-links and duplicate edges
    ("a", "a"), ("a", "b"), ("a", "b"), ("b", "a"), ("c", "c"),
    ("b", "c"), ("b", "c"), ("c", "a"),
    # "t" has five in-links of four sizes; "x" and "y" dangle
    ("h", "t"), ("h", "x"), ("h", "y"), ("a", "t"), ("b", "t"),
    ("b", "a"), ("c", "t"), ("c", "a"), ("c", "b"), ("d", "t"),
    ("t", "h"), ("t", "c"), ("t", "d"),
    # null endpoints
    ("b", None), (None, "c"), (None, None), ("d", None), ("d", "c"),
]
RANK_VERTICES = ["a", "b", "c", "t", "iso1", "Iso2", "\U0001F600", None]


def test_one_task_and_distributed_rank_paths_agree(spark, monkeypatch, pagerank_module):
    """The one-task kernel and the distributed loop give identical
    rows, N and rounds, float for float, for ``n_iter`` 1 and 8, with
    and without a vertex list holding isolated vertices, and for the
    snapshots (1, 8); on the empty edge list too."""
    P = pagerank_module
    verts = spark.createDataFrame([(v,) for v in RANK_VERTICES], "id string")
    runs = {}
    for name, rows in (("graph", RANK_PATH_EDGES), ("empty", [])):
        edges = spark.createDataFrame(rows, "src string, dst string")
        for k in (1, 8):
            runs[f"{name}/{k}"] = lambda e=edges, k=k: _one(P.pagerank_with_n(e, n_iter=k))
            runs[f"{name}/{k}/vertices"] = lambda e=edges, k=k: _one(
                P.pagerank_with_n(e, vertices=verts, n_iter=k)
            )
        runs[f"{name}/snapshots"] = lambda e=edges: _snapshots(
            P.pagerank_snapshots(e, (1, 8))
        )
    got = {}
    for name, run in runs.items():
        got[name] = [_rank_run_on_path(monkeypatch, P, p, run) for p in (True, False)]
        assert got[name][0] == got[name][1], name
    assert got["empty/8"][0] == ([[]], 0, 0)
    assert got["empty/snapshots"][0] == ([[], []], 0, 0)
    teleport = (1.0 - 0.85) / len(RANK_VERTICES)
    assert got["empty/8/vertices"][0] == (
        [sorted(((v, teleport) for v in RANK_VERTICES), key=repr)],
        len(RANK_VERTICES),
        8,
    )
    ranks, n, rounds = got["graph/8"][0]
    assert (None, (1.0 - 0.85) / n) in ranks[0] and rounds == 8
    assert got["graph/snapshots"][0][1:] == (n, 8)


def _one(result):
    ranks, n = result
    return [ranks], n


def _snapshots(gen):
    out = list(gen)
    assert [k for k, _, _ in out] == [1, 8]
    return [ranks for _, ranks, _ in out], out[0][2]


def test_rank_runs_outside_the_one_task_rule_stay_distributed(
    spark, monkeypatch, pagerank_module
):
    """A small string-id parity run takes one task; missing stats, a
    big estimate under a one-task session width, non-string ids,
    ``init_ranks``, ``max_fanout`` and ``parity=False`` each take the
    distributed loop."""
    P = pagerank_module
    edges = spark.createDataFrame(RANK_PATH_EDGES, "src string, dst string")
    longs = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    size = {"bytes": 1000}
    monkeypatch.setattr(P, "plan_bytes", lambda df: size["bytes"])
    calls = _spy_one_task(monkeypatch, P)
    P.pagerank_with_n(edges, n_iter=2)
    list(P.pagerank_snapshots(edges, (1, 2)))
    assert len(calls) == 2
    assert P._small_string_graph(edges, edges.select("src"))
    assert not P._small_string_graph(edges, longs.select("src"))
    calls.clear()
    half, _ = P.pagerank_with_n(edges, n_iter=1, parity=False)
    P.pagerank_with_n(longs, n_iter=2)
    P.pagerank_with_n(edges, n_iter=2, init_ranks=half)
    P.pagerank_with_n(edges, n_iter=2, max_fanout=2)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for size["bytes"] in (None, 1 << 30):
            spark.conf.set(key, "1")  # clamps the loop width to one task
            P.pagerank_with_n(edges, n_iter=2)
            list(P.pagerank_snapshots(edges, (1, 2)))
    finally:
        spark.conf.set(key, before)
    assert calls == []

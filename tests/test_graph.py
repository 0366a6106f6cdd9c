"""PropertyGraph facade tests (degrees + pagerank delegation)."""

from __future__ import annotations

from pagerank_hadoop_spark.operators.graph import PropertyGraph


def _graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "b")],
        ["src", "dst"],
    )
    return PropertyGraph.from_edges(edges)


def test_from_edges_vertices(spark):
    g = _graph(spark)
    assert {r.id for r in g.vertices.collect()} == {"a", "b", "c"}


def test_degrees(spark):
    g = _graph(spark)
    deg = {r.id: (r.in_degree, r.out_degree) for r in g.degrees().collect()}
    # duplicate a->b edge counts once (distinct successors)
    assert deg == {"a": (1, 2), "b": (1, 1), "c": (2, 1)}


def test_pagerank_delegation_sums_to_one_corrected(spark):
    from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n

    g = _graph(spark)
    ranks, _ = pagerank_with_n(g.edges, vertices=g.vertices, n_iter=12, parity=False)
    total = sum(r.rank for r in ranks.collect())
    assert abs(total - 1.0) < 1e-9


def test_connected_components_chain_and_islands(spark):
    from pagerank_hadoop_spark.operators.graph import connected_components

    # a 6-node path (diameter 5, needs multiple propagation rounds),
    # a triangle, and an isolated pair
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    edges = spark.createDataFrame(
        chain + [("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("x", "y")],
        ["src", "dst"],
    )
    cc = {r.id: r.component for r in connected_components(edges).collect()}
    assert {cc[f"n{i}"] for i in range(6)} == {"n0"}
    assert cc["t1"] == cc["t2"] == cc["t3"] == "t1"
    assert cc["x"] == cc["y"] == "x"


def test_triangle_count_known_graphs(spark):
    from pagerank_hadoop_spark.operators.graph import triangle_count

    # K4 has C(4,3)=4 triangles; edges given directed/duplicated to
    # exercise canonicalization + distinct
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a != b]
    edges = spark.createDataFrame(k4 + [("a", "b")], ["src", "dst"])
    assert triangle_count(edges).collect()[0].n_triangles == 4

    # path graph: no triangles
    path = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    assert triangle_count(path).collect()[0].n_triangles == 0

    # two disjoint triangles
    two = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        ["src", "dst"],
    )
    assert triangle_count(two).collect()[0].n_triangles == 2


def test_shortest_paths_chain_and_unreachable(spark):
    from pagerank_hadoop_spark.operators.graph import shortest_paths

    # path a-b-c-d plus an isolated pair x-y: BFS from a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["src", "dst"]
    )
    got = {r.id: r.dist for r in shortest_paths(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    # undirected: BFS from d walks the chain backwards
    got_d = {r.id: r.dist for r in shortest_paths(edges, "d").collect()}
    assert got_d == {"d": 0, "c": 1, "b": 2, "a": 3}


def test_k_core_peels_pendant_chain_to_clique(spark):
    from pagerank_hadoop_spark.operators.graph import k_core

    # 4-clique {a,b,c,d} + pendant chain d-e-f-g: 2-core must peel
    # g, then f, then e (three cascade rounds) and keep the clique
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
              ("b", "d"), ("c", "d")]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    edges = spark.createDataFrame(clique + chain, "src string, dst string")
    got = {r["id"]: r["core_deg"] for r in k_core(edges, 2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}

    # k above the clique degree peels everything
    assert k_core(edges, 4).count() == 0


def test_k_core_ignores_duplicate_edges(spark):
    from pagerank_hadoop_spark.operators.graph import k_core

    # triangle with every edge duplicated 3x: simple-graph degree is
    # still 2, so the 3-core must be empty (multigraph degree 6 would
    # wrongly keep it)
    tri = [("x", "y"), ("y", "z"), ("z", "x")] * 3
    edges = spark.createDataFrame(tri, "src string, dst string")
    assert k_core(edges, 3).count() == 0
    got = {r["id"]: r["core_deg"] for r in k_core(edges, 2).collect()}
    assert got == {"x": 2, "y": 2, "z": 2}


def test_mis_independent_and_maximal(spark):
    from pagerank_hadoop_spark.operators.graph import maximal_independent_set

    # petersen-ish random-ish graph incl. a self-loop (must be ignored)
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a"),
             ("a", "f"), ("b", "f"), ("c", "g"), ("g", "h"), ("h", "d"),
             ("f", "g"), ("e", "h"), ("x", "x"), ("x", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    mis = {r["id"] for r in maximal_independent_set(df).collect()}
    nbrs = {}
    for s, d in edges:
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    # a self-looped vertex is its own neighbor: never eligible
    assert "x" not in mis
    # independence: no two chosen vertices adjacent
    for v in mis:
        assert not (nbrs[v] & mis), (v, mis)
    # maximality over ELIGIBLE vertices: every unchosen loop-free
    # vertex has a chosen neighbor
    for v in nbrs:
        if v != "x" and v not in mis:
            assert nbrs[v] & mis, (v, mis)


def test_mis_deterministic_across_partitionings(spark):
    from pagerank_hadoop_spark.operators.graph import maximal_independent_set

    edges = [(f"v{i}", f"v{(i * 7 + 3) % 20}") for i in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r["id"] for r in maximal_independent_set(df).collect()}
    b = {r["id"] for r in maximal_independent_set(df.repartition(7)).collect()}
    assert a == b


def test_k_core_self_loop_does_not_inflate_degree(spark):
    from pagerank_hadoop_spark.operators.graph import k_core

    # triangle + pendant d with a self-loop: d's simple degree is 1,
    # so the 2-core must exclude it (loop would fake degree 2)
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "d"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["core_deg"] for r in k_core(df, 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_aggregate_messages_degrees_and_rank_step(spark):
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import (
        PropertyGraph,
        aggregate_messages,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    g = PropertyGraph.from_edges(edges)

    # in-degree via message "1 to dst"
    indeg = {
        r["id"]: r["msg"]
        for r in aggregate_messages(
            g.vertices, edges, to_dst=F.lit(1), to_src=None, agg=F.sum
        ).collect()
    }
    assert indeg == {"b": 1, "c": 2, "a": 1}

    # one PageRank contribution step == the hand-written operator's
    # message shape: rank/out_deg shipped along each out-edge
    state = g.vertices.join(
        g.out_degrees(), "id", "left"
    ).select("id", F.lit(1.0).alias("rank"), F.col("out_degree").alias("deg"))
    contribs = {
        r["id"]: r["msg"]
        for r in aggregate_messages(
            state,
            edges,
            to_dst=F.col("src_rank") / F.col("src_deg"),
            to_src=None,
            agg=F.sum,
        ).collect()
    }
    assert abs(contribs["c"] - (0.5 + 1.0)) < 1e-12  # from a(2 out) + b(1 out)
    assert abs(contribs["b"] - 0.5) < 1e-12
    assert abs(contribs["a"] - 1.0) < 1e-12  # from c


def test_pregel_driver_custom_max_label(spark):
    """A custom algorithm written directly against pregel(): hash-MAX
    label propagation (the mirror of CC's hash-min) converges to the
    max id per component."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import pregel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    init = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    def step(e, state, _changed):
        msgs = (
            e.join(state, e.src == state.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("label").alias("__m"))
        )
        return state.join(msgs, "id", "left").select(
            "id",
            F.greatest("label", "__m").alias("label"),
            (F.greatest("label", "__m") > F.col("label")).alias("__changed"),
        )

    out = {r.id: r.label for r in pregel(sym, init, step, max_iter=10).collect()}
    assert out == {"a": "c", "b": "c", "c": "c", "x": "y", "y": "y"}


def test_pregel_warns_on_max_iter_exhaustion(spark):
    import pytest
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import (
        PregelNotConverged,
        pregel,
    )

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    init = spark.createDataFrame([("a", 0)], "id string, n int")

    def never_converges(_e, state, _changed):
        return state.select(
            "id", (F.col("n") + 1).alias("n"), F.lit(True).alias("__changed")
        )

    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        pregel(edges, init, never_converges, max_iter=2)
    with pytest.raises(PregelNotConverged):
        pregel(edges, init, never_converges, max_iter=2, on_max_iter="raise")


def test_k_core_warns_when_peel_budget_exhausted(spark):
    import pytest

    from pagerank_hadoop_spark.operators.graph import k_core

    # a 6-node path peels one layer per round from each end: max_iter=1
    # cannot reach the (empty) 2-core fixpoint
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    with pytest.warns(RuntimeWarning, match="k_core"):
        k_core(edges, k=2, max_iter=1)
    # enough rounds: converges silently to the empty 2-core
    assert k_core(edges, k=2, max_iter=10).count() == 0


def test_aggregate_messages_drops_missing_endpoints(spark):
    """GraphX parity: edges whose endpoint lacks vertex state emit no
    messages."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import aggregate_messages

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "ghost")], "src string, dst string"
    )
    vertices = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "id string, w double"
    )
    strict = {
        r.id: r.msg
        for r in aggregate_messages(
            vertices, edges, to_dst=F.lit(1), to_src=None, agg=F.sum
        ).collect()
    }
    assert strict == {"b": 1}  # a->ghost dropped entirely


def test_label_propagation_two_cliques(spark):
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import label_propagation

    # two triangles joined by nothing: each collapses to one community
    tri = lambda a, b, c: [(a, b), (b, c), (a, c)]
    edges = spark.createDataFrame(
        tri("a", "b", "c") + tri("x", "y", "z"), "src string, dst string"
    )
    out = {r.id: r.label for r in label_propagation(edges, max_iter=4).collect()}
    assert len({out["a"], out["b"], out["c"]}) == 1
    assert len({out["x"], out["y"], out["z"]}) == 1
    assert out["a"] != out["x"]


def test_bipartite_project_weights_and_hub_guard(spark):
    from pagerank_hadoop_spark.operators.graph import bipartite_project

    # u1,u2 share items i1,i2 (weight 2); u3 shares only i2 with them;
    # hub item h touches everyone and must be dropped by max_degree=2
    edges = spark.createDataFrame(
        [
            ("u1", "i1"), ("u2", "i1"),
            ("u1", "i2"), ("u2", "i2"), ("u3", "i2"),
            ("u1", "h"), ("u2", "h"), ("u3", "h"), ("u4", "h"),
        ],
        "src string, dst string",
    )
    got = {
        (r.src_a, r.src_b): r.weight
        for r in bipartite_project(edges, max_degree=3).collect()
    }
    # i2 has degree 3 (kept), h degree 4 (dropped)
    assert got == {
        ("u1", "u2"): 2, ("u1", "u3"): 1, ("u2", "u3"): 1,
    }
    # without the guard, h contributes pairs for every user combo
    full = {
        (r.src_a, r.src_b): r.weight
        for r in bipartite_project(edges, max_degree=None).collect()
    }
    assert full[("u1", "u4")] == 1 and full[("u1", "u2")] == 3


def test_hits_star_graph(spark):
    """a->c, b->c: c is the sole authority (auth=1), a and b are
    equal hubs (1/sqrt(2) each) — closed form, any n_iter."""
    import math

    from pagerank_hadoop_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], ["src", "dst"]
    )
    out = {r.id: (r.hub, r.auth) for r in hits(edges, n_iter=2).collect()}
    s = 1 / math.sqrt(2)
    assert abs(out["c"][1] - 1.0) < 1e-12 and abs(out["c"][0]) < 1e-12
    for v in ("a", "b"):
        assert abs(out[v][0] - s) < 1e-12 and abs(out[v][1]) < 1e-12


def test_weighted_shortest_paths_prefers_cheap_detour(spark):
    from pagerank_hadoop_spark.operators.graph import weighted_shortest_paths

    # direct a-c costs 10; detour a-b-c costs 3
    edges = spark.createDataFrame(
        [("a", "c", 10), ("a", "b", 1), ("b", "c", 2)],
        "src string, dst string, weight long",
    )
    got = {r.id: r.dist for r in weighted_shortest_paths(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 3}


def test_weighted_shortest_paths_directed_unreachable(spark):
    from pagerank_hadoop_spark.operators.graph import weighted_shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", 5), ("c", "a", 1)], "src string, dst string, weight long"
    )
    got = {
        r.id: r.dist
        for r in weighted_shortest_paths(edges, "a", directed=True).collect()
    }
    assert got == {"a": 0, "b": 5}  # c only reaches a, not vice versa


def test_scc_two_cycles_and_bridge(spark):
    from pagerank_hadoop_spark.operators.graph import (
        strongly_connected_components,
    )

    # cycle {1,2,3} -> bridge 4 -> cycle {5,6}; 4 is a singleton
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5)],
        "src long, dst long",
    )
    got = {r.id: r.scc for r in strongly_connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_scc_path_graph_all_singletons(spark):
    from pagerank_hadoop_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.id: r.scc for r in strongly_connected_components(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_empty_edges_returns_empty(spark):
    """ADVICE r3: empty edge input broke out of the outer loop with no
    settled parts and crashed on done_parts[0]."""
    from pagerank_hadoop_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(edges)
    assert out.columns == ["id", "scc"]
    assert out.count() == 0


def test_random_walks_follow_edges_and_are_deterministic(spark):
    from pagerank_hadoop_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")],
        "src string, dst string",
    )
    out = random_walks(edges, walk_len=3, walks_per_node=2)
    rows = out.collect()
    # 4 vertices x 2 walks x 4 positions (no sinks in the symmetrized graph)
    assert len(rows) == 4 * 2 * 4
    edge_set = {(r.src, r.dst) for r in edges.collect()}
    edge_set |= {(d, s) for (s, d) in edge_set}
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r.walk_id, {})[r.step] = r.pos
    for wid, steps in by_walk.items():
        assert steps[0] == wid.split("#")[0]
        for s in range(1, 4):
            assert (steps[s - 1], steps[s]) in edge_set
    again = {
        (r.walk_id, r.step, r.pos)
        for r in random_walks(edges, walk_len=3, walks_per_node=2).collect()
    }
    assert again == {(r.walk_id, r.step, r.pos) for r in rows}


def test_k_truss_cascade_and_support(spark):
    """Fan fixture: hub edge (a,b) in 4 triangles, each spoke in 1.
    k=4 (support >= 2): spokes die round 1, hub's support collapses
    4 -> 0, dies round 2 — the deletion cascade. The 4-clique
    survives with uniform support 2; k<3 is rejected."""
    import pytest as _pytest

    from pagerank_hadoop_spark.operators.graph import k_truss

    clique = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    fan = [(0, 1)] + [(0, c) for c in range(2, 6)] + [(1, c) for c in range(2, 6)]
    edges = spark.createDataFrame(clique + fan, "src long, dst long")

    out = {(r.src, r.dst): r.support for r in k_truss(edges, k=4).collect()}
    assert out == {(i, j): 2 for i, j in clique}

    # at k=3 (support >= 1) the fan triangles all survive
    out3 = {(r.src, r.dst): r.support for r in k_truss(edges, k=3).collect()}
    assert out3[(0, 1)] == 4
    assert all(out3[(0, c)] == 1 and out3[(1, c)] == 1 for c in range(2, 6))

    with _pytest.raises(ValueError, match="k >= 3"):
        k_truss(edges, k=2)

    # empty input: empty result, no crash
    empty = spark.createDataFrame([], "src long, dst long")
    assert k_truss(empty, k=3).count() == 0

def test_k_truss_precore_equivalence(spark):
    """precore=True ((k-1)-core peel before the triangle loop) is a
    truss-preserving reduction: identical (src, dst, support) output
    on the cascade fixture plus a pendant path that only the core
    peel removes — and on the empty graph."""
    from pagerank_hadoop_spark.operators.graph import k_truss

    clique = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    fan = [(0, 1)] + [(0, c) for c in range(2, 6)] + [(1, c) for c in range(2, 6)]
    # low-degree fringe the 3-core strips before any triangle work
    path = [(20, 21), (21, 22), (22, 10)]
    edges = spark.createDataFrame(clique + fan + path, "src long, dst long")

    plain = {(r.src, r.dst): r.support for r in k_truss(edges, k=4).collect()}
    pre = {
        (r.src, r.dst): r.support
        for r in k_truss(edges, k=4, precore=True).collect()
    }
    assert pre == plain == {(i, j): 2 for i, j in clique}

    empty = spark.createDataFrame([], "src long, dst long")
    assert k_truss(empty, k=4, precore=True).count() == 0


def test_conf_scope_restores_every_value_it_read(spark):
    """``session.conf_scope`` sets its keys for the body and restores
    each value it read (unsetting a key the session had not set), also
    when the body or a set raises; while open it holds the conf lock,
    so another thread cannot take it."""
    import threading

    import pytest as _pytest

    from pagerank_hadoop_spark.session import CONF_LOCK, conf_scope

    key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    assert spark.conf.get(unset_key, None) is None

    def lock_free_elsewhere() -> bool:
        got = []

        def probe():
            if CONF_LOCK.acquire(blocking=False):
                CONF_LOCK.release()
                got.append(True)

        t = threading.Thread(target=probe)
        t.start()
        t.join(10)
        return got == [True]

    with conf_scope(spark, {key: "3", unset_key: "1m"}):
        assert spark.conf.get(key) == "3"
        assert spark.conf.get(unset_key) == "1m"
        assert not lock_free_elsewhere()
    assert lock_free_elsewhere()
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset_key, None) is None
    with _pytest.raises(RuntimeError, match="boom"):
        with conf_scope(spark, {key: "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    # a static conf cannot be set at runtime: the set raises, and the
    # key set before it is restored
    with _pytest.raises(Exception):
        with conf_scope(spark, {key: "3", "spark.sql.warehouse.dir": "/x"}):
            pass
    assert spark.conf.get(key) == before
    assert lock_free_elsewhere()


def test_loop_shuffle_scope_semantics(spark):
    """The loop-width scope narrows, never widens; restores on error;
    tolerates non-integer session values."""
    import pytest as _pytest

    from pagerank_hadoop_spark.operators.pagerank import _loop_shuffle_scope

    key = "spark.sql.shuffle.partitions"
    aqe_key = "spark.sql.adaptive.enabled"
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    before = spark.conf.get(key)
    before_aqe = spark.conf.get(aqe_key)
    before_bloom = spark.conf.get(bloom_key)
    # narrows inside (and scopes AQE + runtime bloom off with the
    # width — both physical-only; r15), restores all three after
    with _loop_shuffle_scope(spark, 4):
        assert spark.conf.get(key) == "4"
        assert spark.conf.get(aqe_key) == "false"
        assert spark.conf.get(bloom_key) == "false"
    assert spark.conf.get(key) == before
    assert spark.conf.get(aqe_key) == before_aqe
    assert spark.conf.get(bloom_key) == before_bloom
    # never widens
    with _loop_shuffle_scope(spark, 10_000):
        assert spark.conf.get(key) == before
    # None is a no-op
    with _loop_shuffle_scope(spark, None):
        assert spark.conf.get(key) == before
    # restores even when the body raises
    with _pytest.raises(RuntimeError, match="boom"):
        with _loop_shuffle_scope(spark, 2):
            assert spark.conf.get(key) == "2"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    assert spark.conf.get(aqe_key) == before_aqe
    assert spark.conf.get(bloom_key) == before_bloom
    # broadcast planning is scoped off with the width and restored
    # after
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    before_bcast = spark.conf.get(bcast_key)
    with _loop_shuffle_scope(spark, 4):
        assert spark.conf.get(bcast_key) == "-1"
    assert spark.conf.get(bcast_key) == before_bcast
    # nested scopes (scc's outer recursion over inner pregels) restore
    # the session values on full unwind, and the inner scope cannot
    # widen what the outer narrowed
    with _loop_shuffle_scope(spark, 4):
        with _loop_shuffle_scope(spark, 2):
            assert spark.conf.get(key) == "2"
            assert spark.conf.get(bcast_key) == "-1"
        assert spark.conf.get(key) == "4"
        with _loop_shuffle_scope(spark, 8):  # >= current 4: no-op
            assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == before
    assert spark.conf.get(aqe_key) == before_aqe
    assert spark.conf.get(bloom_key) == before_bloom
    assert spark.conf.get(bcast_key) == before_bcast
    # (the non-integer "auto" session-value guard can't be exercised
    # here — this Spark build validates the conf as an int on set —
    # it exists for auto-tuning platforms whose GET returns non-int)


def test_loop_shuffle_scope_serializes_threads(spark):
    """A scope opened in a second thread while the first thread's is
    open waits for it to close, so each restores the session's own
    values: thread A's loop scope narrows an 8-wide session to 2,
    thread B opens the one conf scope at 1 inside A's scope, and
    afterwards the session is 8-wide with AQE on again. Unserialized,
    B would read A's 2 and restore it last."""
    import threading
    import time

    from pagerank_hadoop_spark.operators.pagerank import _loop_shuffle_scope
    from pagerank_hadoop_spark.session import conf_scope

    key, aqe_key = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before = spark.conf.get(key), spark.conf.get(aqe_key)
    a_in, b_trying, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def thread_a():
        with _loop_shuffle_scope(spark, 2):
            seen["a"] = spark.conf.get(key)
            a_in.set()
            b_trying.wait(10)
            time.sleep(0.5)  # B is now inside its scope, or blocked entering it
        a_out.set()

    def thread_b():
        a_in.wait(10)
        b_trying.set()
        with conf_scope(spark, {key: "1"}):
            seen["b"] = spark.conf.get(key)
            a_out.wait(10)  # outlive A's scope
        seen["b_after_a"] = a_out.is_set()

    spark.conf.set(key, "8")
    spark.conf.set(aqe_key, "true")
    try:
        threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
        after = spark.conf.get(key), spark.conf.get(aqe_key)
    finally:
        spark.conf.set(key, before[0])
        spark.conf.set(aqe_key, before[1])
    assert seen == {"a": "2", "b": "1", "b_after_a": True}
    assert after == ("8", "true")


def test_scoped_loops_match_unscoped_results(spark, sf_dir, monkeypatch):
    """Bit-identical results under any loop width (the property that
    makes the scope hash-safe for the order-insensitive drivers):
    run connected_components with the scope engaged (default) and
    with the session width forced so the scope no-ops, compare. The
    graph fits one task, so the distributed loop is forced."""
    from pagerank_hadoop_spark.operators import graph as G
    from pagerank_hadoop_spark.operators.graph import connected_components

    monkeypatch.setattr(G, "_fits_one_task", lambda *a, **k: False)

    edges = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_custkey AS src", "o_custkey % 97 AS dst")
        .limit(4000)
    )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    scoped = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    spark.conf.set(key, "2")  # scope can't narrow below this
    try:
        narrow = {
            (r["id"], r["component"])
            for r in connected_components(edges).collect()
        }
    finally:
        spark.conf.set(key, before)
    assert scoped == narrow and scoped


def test_scc_width_invariant(spark, sf_dir, monkeypatch):
    """SCC (two nested pregels + outer recursion, all under one
    threaded loop width) returns identical components at any forced
    session width — a scope leak between the inner loops or into the
    epilogue would surface here. The graph fits one task, so the
    distributed loop is forced."""
    from pagerank_hadoop_spark.operators import graph as G
    from pagerank_hadoop_spark.operators.graph import (
        strongly_connected_components,
    )

    monkeypatch.setattr(G, "_fits_one_task", lambda *a, **k: False)

    edges = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_custkey % 53 AS src", "(o_custkey * 7) % 53 AS dst")
        .distinct()
        .limit(600)
    )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    a = {(r["id"], r["scc"])
         for r in strongly_connected_components(edges).collect()}
    spark.conf.set(key, "3")
    try:
        b = {(r["id"], r["scc"])
             for r in strongly_connected_components(edges).collect()}
    finally:
        spark.conf.set(key, before)
    assert a == b and a
    assert spark.conf.get(key) == before


def test_kcore_mis_lpa_width_invariant(spark, sf_dir):
    """r10 loop-scope extension: the three hand-rolled integer loops
    (k_core peel, Luby MIS, label propagation) return bit-identical
    results at any forced session width — their per-round aggregates
    are exact counts / struct-mins / deterministic modes, the
    order-insensitivity argument the scope requires."""
    from pagerank_hadoop_spark.operators.graph import (
        k_core,
        label_propagation,
        maximal_independent_set,
    )

    edges = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "CAST(o_custkey % 53 AS STRING) AS src",
            "CAST((o_custkey * 13) % 53 AS STRING) AS dst",
        )
        .limit(3000)
    )

    def run():
        return (
            {(r["id"], r["core_deg"]) for r in k_core(edges, k=2).collect()},
            {r["id"] for r in maximal_independent_set(edges).collect()},
            {
                (r["id"], r["label"])
                for r in label_propagation(edges, max_iter=3).collect()
            },
        )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    wide = run()
    spark.conf.set(key, "2")  # scope can't narrow below this
    try:
        narrow = run()
    finally:
        spark.conf.set(key, before)
    assert wide == narrow
    assert all(wide)
    assert spark.conf.get(key) == before


# Directed fixture for the loop pins: a 3-cycle {a,b,c} and a 2-cycle
# {d,e} joined by c->d, a sink f, a directed K4 {p,q,r,s} with t
# feeding two of its vertices and s bridging into the 3-cycle, and an
# isolated pair x->y. Every loop below needs more than one round on it.
_PIN_EDGES = [
    ("a", "b", 2), ("b", "c", 1), ("c", "a", 3), ("c", "d", 1),
    ("d", "e", 4), ("e", "d", 1), ("e", "f", 2), ("p", "q", 1),
    ("q", "r", 2), ("r", "s", 1), ("s", "p", 5), ("p", "r", 1),
    ("q", "s", 3), ("t", "p", 1), ("t", "q", 2), ("s", "a", 1),
    ("x", "y", 1),
]
# A 10-vertex path: hash-min labels need one round per hop, so cc's
# round count shows whether pointer jumping ran.
_PIN_PATH = [(f"v{i}", f"v{i + 1}") for i in range(9)]
# HITS fixture: hubs h1, h2 and authorities a1, a2. No sum ever has
# more than two nonzero terms, so no float depends on summation order.
_PIN_HITS_EDGES = [("h1", "a1"), ("h1", "a2"), ("h2", "a1")]


def _pinned_loop_results(spark, tmp, only=None):
    """``{loop: (sorted output rows, rounds)}`` for every graph loop
    (or the ``only`` ones) on the pin fixtures, read back from Parquet
    under ``tmp`` as queries read their tables: the plan-size probe
    then sees a small graph, so the loops run narrowed, cc runs
    without pointer jumping, and cc and scc run on the driver."""
    import os

    from pagerank_hadoop_spark import runtime_counters
    from pagerank_hadoop_spark.operators import graph as G

    def table(name, rows, schema):
        path = os.path.join(tmp, name)
        spark.createDataFrame(rows, schema).write.parquet(path)
        return spark.read.parquet(path)

    wedges = table("edges", _PIN_EDGES, "src string, dst string, weight long")
    edges = wedges.select("src", "dst")
    hedges = table("hits", _PIN_HITS_EDGES, "src string, dst string")
    path = table("path", _PIN_PATH, "src string, dst string")
    runs = {
        "cc": lambda: G.connected_components(edges),
        "cc_path": lambda: G.connected_components(path),
        "bfs": lambda: G.shortest_paths(edges, "a"),
        "sssp": lambda: G.weighted_shortest_paths(wedges, "t", directed=True),
        "scc": lambda: G.strongly_connected_components(edges),
        "k_core": lambda: G.k_core(edges, 3),
        "k_truss": lambda: G.k_truss(edges, k=3),
        "k_truss_precore": lambda: G.k_truss(edges, k=3, precore=True),
        "mis": lambda: G.maximal_independent_set(edges),
        "lpa": lambda: G.label_propagation(edges, max_iter=3),
        "hits": lambda: G.hits(hedges, n_iter=4),
        "walks": lambda: G.random_walks(edges, walk_len=3, walks_per_node=2),
    }
    out = {}
    for name, run in runs.items():
        if only is not None and name not in only:
            continue
        runtime_counters.reset()
        rows = sorted(tuple(r) for r in run().collect())
        out[name] = (rows, runtime_counters.snapshot()["rounds"])
    return out


# goldens taken with the per-loop code, identical at local[1], [4] and [8]
_PIN_GOLDEN = {
    "cc": (
        [
            ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("e", "a"), ("f", "a"),
            ("p", "a"), ("q", "a"), ("r", "a"), ("s", "a"), ("t", "a"), ("x", "x"),
            ("y", "x"),
        ],
        5,
    ),
    "cc_path": (
        [
            ("v0", "v0"), ("v1", "v0"), ("v2", "v0"), ("v3", "v0"), ("v4", "v0"),
            ("v5", "v0"), ("v6", "v0"), ("v7", "v0"), ("v8", "v0"), ("v9", "v0"),
        ],
        10,
    ),
    "bfs": (
        [
            ("a", 0), ("b", 1), ("c", 1), ("d", 2), ("e", 3), ("f", 4), ("p", 2),
            ("q", 2), ("r", 2), ("s", 1), ("t", 3),
        ],
        5,
    ),
    "sssp": (
        [
            ("a", 4), ("b", 6), ("c", 7), ("d", 8), ("e", 12), ("f", 14), ("p", 1),
            ("q", 2), ("r", 2), ("s", 3), ("t", 0),
        ],
        10,
    ),
    "scc": (
        [
            ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f"),
            ("p", "p"), ("q", "p"), ("r", "p"), ("s", "p"), ("t", "t"), ("x", "x"),
            ("y", "y"),
        ],
        16,
    ),
    "k_core": (
        [
            ("p", 3), ("q", 3), ("r", 3), ("s", 3),
        ],
        3,
    ),
    "k_truss": (
        [
            ("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("p", "q", 3), ("p", "r", 2),
            ("p", "s", 2), ("p", "t", 1), ("q", "r", 2), ("q", "s", 2), ("q", "t", 1),
            ("r", "s", 2),
        ],
        2,
    ),
    "k_truss_precore": (
        [
            ("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("p", "q", 3), ("p", "r", 2),
            ("p", "s", 2), ("p", "t", 1), ("q", "r", 2), ("q", "s", 2), ("q", "t", 1),
            ("r", "s", 2),
        ],
        6,
    ),
    "mis": (
        [
            ("c",), ("f",), ("s",), ("t",), ("y",),
        ],
        3,
    ),
    "lpa": (
        [
            ("a", "a"), ("b", "a"), ("c", "a"), ("d", "e"), ("e", "d"), ("f", "e"),
            ("p", "p"), ("q", "p"), ("r", "p"), ("s", "a"), ("t", "p"), ("x", "y"),
            ("y", "x"),
        ],
        3,
    ),
    "hits": (
        [
            ("a1", 0.0, 0.8507979973592923), ("a2", 0.0, 0.5254928807219158),
            ("h1", 0.8505945695460383, 0.0), ("h2", 0.5258220975375509, 0.0),
        ],
        4,
    ),
    "walks": (
        [
            ("a#0", "a", 0), ("a#0", "a", 2), ("a#0", "c", 1), ("a#0", "s", 3),
            ("a#1", "a", 0), ("a#1", "p", 2), ("a#1", "s", 1), ("a#1", "t", 3),
            ("b#0", "a", 1), ("b#0", "a", 3), ("b#0", "b", 0), ("b#0", "s", 2),
            ("b#1", "b", 0), ("b#1", "b", 2), ("b#1", "c", 1), ("b#1", "c", 3),
            ("c#0", "a", 1), ("c#0", "a", 3), ("c#0", "b", 2), ("c#0", "c", 0),
            ("c#1", "a", 2), ("c#1", "b", 1), ("c#1", "c", 0), ("c#1", "c", 3),
            ("d#0", "a", 2), ("d#0", "c", 1), ("d#0", "c", 3), ("d#0", "d", 0),
            ("d#1", "d", 0), ("d#1", "e", 1), ("d#1", "e", 3), ("d#1", "f", 2),
            ("e#0", "d", 3), ("e#0", "e", 0), ("e#0", "e", 2), ("e#0", "f", 1),
            ("e#1", "c", 2), ("e#1", "d", 1), ("e#1", "d", 3), ("e#1", "e", 0),
            ("f#0", "c", 3), ("f#0", "d", 2), ("f#0", "e", 1), ("f#0", "f", 0),
            ("f#1", "e", 1), ("f#1", "e", 3), ("f#1", "f", 0), ("f#1", "f", 2),
            ("p#0", "p", 0), ("p#0", "p", 2), ("p#0", "r", 1), ("p#0", "r", 3),
            ("p#1", "p", 0), ("p#1", "p", 2), ("p#1", "t", 1), ("p#1", "t", 3),
            ("q#0", "p", 1), ("q#0", "q", 0), ("q#0", "q", 2), ("q#0", "r", 3),
            ("q#1", "q", 0), ("q#1", "q", 2), ("q#1", "s", 1), ("q#1", "t", 3),
            ("r#0", "p", 1), ("r#0", "p", 3), ("r#0", "r", 0), ("r#0", "r", 2),
            ("r#1", "q", 1), ("r#1", "q", 3), ("r#1", "r", 0), ("r#1", "r", 2),
            ("s#0", "a", 3), ("s#0", "p", 1), ("s#0", "s", 0), ("s#0", "s", 2),
            ("s#1", "p", 2), ("s#1", "q", 1), ("s#1", "r", 3), ("s#1", "s", 0),
            ("t#0", "p", 1), ("t#0", "r", 3), ("t#0", "s", 2), ("t#0", "t", 0),
            ("t#1", "p", 2), ("t#1", "q", 1), ("t#1", "s", 3), ("t#1", "t", 0),
            ("x#0", "x", 0), ("x#0", "x", 2), ("x#0", "y", 1), ("x#0", "y", 3),
            ("x#1", "x", 0), ("x#1", "x", 2), ("x#1", "y", 1), ("x#1", "y", 3),
            ("y#0", "x", 1), ("y#0", "x", 3), ("y#0", "y", 0), ("y#0", "y", 2),
            ("y#1", "x", 1), ("y#1", "x", 3), ("y#1", "y", 0), ("y#1", "y", 2),
        ],
        3,
    ),
}


def test_every_graph_loop_pinned(spark, tmp_path, monkeypatch):
    """Exact output and round count of every graph loop, against
    goldens taken before the loops shared one driver. HITS floats are
    compared with ``==``: the fixture keeps every sum order-free. cc
    and scc are pinned on both paths: the driver path these small
    Parquet inputs take by default, and the distributed loop."""
    from pagerank_hadoop_spark.operators import graph as G

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")  # cc's pointer-jump rule reads this width
    try:
        one_task = _spy_one_task(monkeypatch)
        got = _pinned_loop_results(spark, str(tmp_path / "default"))
        assert one_task == ["component", "component", "scc"]
        monkeypatch.setattr(G, "_fits_one_task", lambda *a, **k: False)
        dist = _pinned_loop_results(
            spark, str(tmp_path / "distributed"), ("cc", "cc_path", "scc")
        )
        assert one_task == ["component", "component", "scc"]
    finally:
        spark.conf.set(key, before)
    for name, (rows, rounds) in _PIN_GOLDEN.items():
        assert got[name][1] == rounds, name
        assert got[name][0] == rows, name
    for name in dist:
        assert dist[name] == _PIN_GOLDEN[name], name


def _spy_one_task(monkeypatch) -> list:
    """Record the label column of every driver-path run from now on."""
    from pagerank_hadoop_spark.operators import graph as G

    calls, real = [], G._on_driver
    monkeypatch.setattr(
        G,
        "_on_driver",
        # the result's columns after id: the label column comes first
        lambda e, cols, *a: calls.append(cols.split()[0]) or real(e, cols, *a),
    )
    return calls


def _on_path(monkeypatch, probe, one_task: bool, run):
    """``run()`` forced onto one path, as ``(sorted rows or the error,
    rounds, non-convergence warnings)``. The plan-size probe (in the
    ``probe`` module) reads a small graph, so both paths derive the same loop width and cc the
    same pointer-jump rule from it."""
    import warnings

    from pagerank_hadoop_spark import runtime_counters
    from pagerank_hadoop_spark.operators import graph as G

    with monkeypatch.context() as m:
        calls = _spy_one_task(m)
        m.setattr(probe, "plan_bytes", lambda df: 1000)
        m.setattr(G, "_fits_one_task", lambda *a, **k: one_task)
        runtime_counters.reset()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            try:
                rows = sorted((tuple(r) for r in run().collect()), key=repr)
            except G.PregelNotConverged as exc:
                rows = f"raised: {exc}"
        assert bool(calls) == one_task
    msgs = [str(w.message) for w in caught if "no fixpoint" in str(w.message)]
    return rows, runtime_counters.snapshot()["rounds"], msgs


def test_one_task_and_distributed_paths_agree(spark, monkeypatch, pagerank_module):
    """cc and scc give the same rows, rounds and non-convergence
    warnings or errors on the driver as on the distributed loop."""
    from pagerank_hadoop_spark.operators import graph as G

    big = 2**53
    fixtures = {
        # non-ASCII and mixed case: code-point order is Spark's order
        "strings": (
            [("Zeta", "alpha"), ("alpha", "Ärger"), ("Ärger", "Zeta"),
             ("école", "Émile"), ("Émile", "b"), ("b", "日本"),
             ("日本", "école"), ("Bob", "bob"), ("B", "Bob")],
            "src string, dst string",
        ),
        "longs_above_2_53": (
            [(big + 1, big + 3), (big + 3, big + 1), (2**62, big + 1),
             (5, 2**62), (2**63 - 1, 5), (-(2**62), 2**63 - 1)],
            "src long, dst long",
        ),
        "null_strings": (
            [("a", "b"), ("b", None), (None, "c"), ("c", "a"), (None, None),
             ("d", None)],
            "src string, dst string",
        ),
        "null_longs": (
            [(big + 1, None), (big + 1, big + 2), (big + 2, big + 1),
             (None, 7)],
            "src long, dst long",
        ),
        "only_nulls": ([(None, None)], "src int, dst int"),
        "loops_and_dups": (
            [(1, 1), (1, 2), (1, 2), (2, 1), (3, 3), (2, 3), (2, 3)],
            "src int, dst int",
        ),
        "empty": ([], "src long, dst long"),
    }
    path = [(i, i + 1) for i in range(8)]
    runs = {}
    for name, (rows, schema) in fixtures.items():
        edges = spark.createDataFrame(rows, schema)
        runs[f"cc/{name}"] = lambda e=edges: G.connected_components(e)
        runs[f"scc/{name}"] = lambda e=edges: G.strongly_connected_components(e)
    edges = spark.createDataFrame(path, "src long, dst long")
    runs["cc/path_over_max_iter"] = lambda: G.connected_components(edges, max_iter=3)
    for mode in ("warn", "raise"):
        runs[f"scc/path_over_max_iter/{mode}"] = lambda m=mode: (
            G.strongly_connected_components(edges, max_iter=3, on_max_iter=m)
        )
        runs[f"scc/path_over_max_outer/{mode}"] = lambda m=mode: (
            G.strongly_connected_components(edges, max_outer=2, on_max_iter=m)
        )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for name, run in runs.items():
            got = [_on_path(monkeypatch, pagerank_module, p, run) for p in (True, False)]
            assert got[0] == got[1], name
        # a session two tasks wide turns cc's pointer jump on
        spark.conf.set(key, "2")
        got = [
            _on_path(monkeypatch, pagerank_module, p, lambda: G.connected_components(edges))
            for p in (True, False)
        ]
    finally:
        spark.conf.set(key, before)
    assert got[0] == got[1]
    assert got[0][1] == 5  # 9 hops in 4 changing rounds, then a stable one
    warned = _on_path(monkeypatch, pagerank_module, True, runs["cc/path_over_max_iter"])
    assert warned[1] == 3 and len(warned[2]) == 1
    raised = _on_path(monkeypatch, pagerank_module, True, runs["scc/path_over_max_outer/raise"])
    assert raised[0].startswith("raised: scc: no fixpoint after max_iter=2")
    nulls = _on_path(monkeypatch, pagerank_module, True, runs["cc/null_longs"])
    assert nulls[0] == sorted(
        [(None, None), (7, 7), (big + 1, big + 1), (big + 2, big + 1)], key=repr
    )


def test_one_task_probe_fails_closed(spark, monkeypatch, pagerank_module):
    """The driver path needs plan stats that fit one ~1 MB task
    before the session-width clamp, and integer or string ids; any
    other case takes the distributed loop."""
    from pagerank_hadoop_spark.operators import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    size = {"bytes": None}
    monkeypatch.setattr(pagerank_module, "plan_bytes", lambda df: size["bytes"])
    assert not G._fits_one_task(edges)
    assert not G._fits_one_task(edges, doubled=False)
    size["bytes"] = (1 << 20) - 1  # doubled, just under two tasks' worth
    assert G._fits_one_task(edges)
    size["bytes"] = 1 << 20
    assert not G._fits_one_task(edges) and G._fits_one_task(edges, doubled=False)
    size["bytes"] = 1000
    for types in (("double", "double"), ("long", "string"), ("int", "long"),
                  ("binary", "binary"), ("decimal(20,0)", "decimal(20,0)")):
        other = spark.range(2).selectExpr(
            f"CAST(CAST(id AS string) AS {types[0]}) AS src",
            f"CAST(CAST(id AS string) AS {types[1]}) AS dst",
        )
        assert not G._fits_one_task(other), types

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    calls = _spy_one_task(monkeypatch)
    try:
        for size["bytes"] in (None, 1 << 30):
            spark.conf.set(key, "1")  # clamps the loop width to one task
            cc = {tuple(r) for r in G.connected_components(edges).collect()}
            scc = {tuple(r) for r in G.strongly_connected_components(edges).collect()}
            assert cc == {(1, 1), (2, 1)} and scc == {(1, 1), (2, 1)}
    finally:
        spark.conf.set(key, before)
    assert calls == []


def test_cc_scc_and_rank_snapshots_share_one_runner(spark, monkeypatch, pagerank_module):
    """cc, scc and a rank snapshot run on a small graph each go through
    the one small-graph runner exactly once."""
    from pagerank_hadoop_spark.operators import graph as G

    P = pagerank_module
    assert G._on_driver is P._on_driver
    calls, real = [], P._on_driver

    def spy(edges, cols, *a):
        calls.append(cols)
        return real(edges, cols, *a)

    monkeypatch.setattr(P, "plan_bytes", lambda df: 1000)
    for module in (G, P):
        monkeypatch.setattr(module, "_on_driver", spy)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    G.connected_components(edges).collect()
    G.strongly_connected_components(edges).collect()
    for _, ranks, _ in P.pagerank_snapshots(edges, (1, 8)):
        ranks.collect()
    assert calls == ["component {id}", "scc {id}", P._RANK_COLS]


def test_small_paths_return_local_frames(spark, tmp_path, pagerank_module):
    """On a small Parquet edge list, cc, scc and a rank snapshot run on
    the driver and return local frames: cc's and scc's results are a
    ``LocalRelation`` and all three report a plan size, so a later
    join or loop can size them."""
    from pagerank_hadoop_spark.operators import graph as G
    from pagerank_hadoop_spark.session import plan_bytes

    P = pagerank_module
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    ).write.parquet(path)
    edges = spark.read.parquet(path)
    assert P._fits_one_task(edges) and P._fits_one_task(edges, doubled=False)
    for result in (
        G.connected_components(edges),
        G.strongly_connected_components(edges),
    ):
        plan = result._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation"
        assert plan_bytes(result) is not None
    ((_, ranks, n),) = P.pagerank_snapshots(edges, (8,))
    assert n == 3 and plan_bytes(ranks) is not None


def test_round_driver_keeps_float_loops_at_session_width(spark):
    """The round driver narrows the shuffle width only for a round
    frame with no float or double field (top level or nested): a
    float sum's partial-aggregation order, and so its last ulp,
    depends on the width. The matching integer step narrows."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.graph import _fixpoint

    key = "spark.sql.shuffle.partitions"
    session = spark.conf.get(key)
    seen = []

    def done(state):
        seen.append(spark.conf.get(key))
        return True

    state = spark.range(6).selectExpr("id % 3 AS k", "id AS v")
    steps = {
        "double": lambda s: s.groupBy("k").agg(F.sum(F.col("v") * 0.5).alias("v")),
        "nested": lambda s: s.groupBy("k").agg(
            F.struct(F.sum(F.col("v").cast("float")).alias("f")).alias("v")
        ),
        "long": lambda s: s.groupBy("k").agg(F.sum("v").alias("v")),
    }
    for step in steps.values():
        out, converged = _fixpoint(step, state, 3, parts=1, done=done)
        assert converged and out.count() == 3
    assert seen == [session, session, "1"]
    assert spark.conf.get(key) == session

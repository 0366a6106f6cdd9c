"""Property-graph facade over DataFrames (GraphX-shaped API).

GraphX is Scala-only and GraphFrames is an external jar; the
Spark-native PySpark expression of a property graph is exactly two
DataFrames (``vertices``, ``edges``) plus relational algebra — this
module names the common graph operations (degrees, messages,
components, paths, cores, trusses, walks) with Catalyst planning
everything. PageRank lives in ``operators/pagerank.py``.

One form per operator: every loop runs on one round driver
(:func:`_fixpoint`), BFS is the unit-weight call of the SSSP loop,
and :func:`triangle_count` and :func:`k_truss` share one
wedge-closure plan (:func:`_triangles`).

Reference parity: the reference's only graph op is PageRank over the
wiki link graph (the reference's ``PageRank.java``); degrees
correspond to the outdeg computed inline at ``PageRank.java:268-279``
(message fan-out divides by outdegree).
"""

from __future__ import annotations

from functools import partial, reduce

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    MapType,
    StructType,
)

from pagerank_hadoop_spark import runtime_counters
from pagerank_hadoop_spark.operators.pagerank import (  # noqa: F401 (re-export)
    PregelNotConverged,
    _edge_tasks,
    _fits_one_task,
    _loop_shuffle_scope,
    _nonconvergence,
    _on_driver,
    _vertices,
    loop_partitions,
    shuffle_partitions,
)


def _edge_partitions(edges: DataFrame, doubled: bool = True) -> int:
    """Right-size the per-round task count for an iterative loop from
    Catalyst's plan-size estimate — no job, unlike the ``count()``
    this replaces (a full edge scan just to pick a partition count;
    measured ~20% of bfs_hops' wall at sf0.1). Id-pair rows are a few
    tens of bytes, so ~1 MB per task tracks pagerank's
    ROWS_PER_ITER_TASK economy (Catalyst's post-projection/distinct
    size estimates run low, so the divisor is deliberately tight);
    the estimate only needs the right order of magnitude (small
    graph → few tasks, big graph → all). A frame built with
    ``createDataFrame`` from a Python list is a ``LogicalRDD`` that
    reports Spark's default size (``Long.MaxValue``), so it counts as
    big: it gets the session width, and never the driver path of
    :func:`_fits_one_task` (a known issue). One built from a pandas
    frame with Arrow on is a ``LocalRelation`` with a real size."""
    shuffle_parts = shuffle_partitions(edges.sparkSession)
    need = _edge_tasks(edges, doubled)
    if need is None:  # stats unavailable: keep the session default
        return shuffle_parts
    return loop_partitions(need, shuffle_parts)


def _symmetrized(e: DataFrame, *cols: str) -> DataFrame:
    """``e``'s ``(src, dst, *cols)`` rows plus each one reversed."""
    return e.select("src", "dst", *cols).unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
    )


def _pinned(e: DataFrame, parts: int, key: str) -> DataFrame:
    """Persistent copy of ``e`` hash-laid on ``key`` over ``parts``
    tasks, so every round's join on ``key`` reuses the layout."""
    return e.repartition(parts, key).localCheckpoint(eager=True)


def _holds_float(t) -> bool:
    """Whether a float or double sits anywhere in data type ``t``."""
    if isinstance(t, StructType):
        return any(_holds_float(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _holds_float(t.elementType)
    if isinstance(t, MapType):
        return _holds_float(t.keyType) or _holds_float(t.valueType)
    return isinstance(t, (FloatType, DoubleType))


def _fixpoint(
    step,
    state: DataFrame,
    rounds: int,
    *,
    parts: int | None = None,
    done=None,
    pin_last: bool = False,
    label: str = "loop",
    on_max_iter: str = "warn",
) -> tuple[DataFrame, bool]:
    """The one round driver every iterative loop of this module runs on
    (the relational form of GraphX's ``Pregel`` operator). Returns
    ``(state, converged)``.

    Per round: ``frame = step(state)`` builds the round's plan; the
    driver counts it (``runtime_counters.note_round``) and
    ``localCheckpoint``s it lazily, and that checkpoint is the next
    ``state``. ``done(state)`` runs the round's one Spark action, which
    also materializes the checkpoint, and says whether the fixpoint is
    reached; with ``done=None`` exactly ``rounds`` rounds run. Rounds
    running out before ``done`` says so are reported per
    ``on_max_iter``. ``pin_last`` counts the last state once, inside
    the scope, for a fixed-round loop whose caller reads that state.

    ``parts`` narrows every round's shuffles to that width
    (:func:`_loop_shuffle_scope`) only when no field of the round frame
    is float or double: a float sum depends on partial-aggregation
    order, so a loop that carries one runs at the session width
    whatever ``parts`` says. The first frame is built before the scope
    opens, to read its schema: Spark plans a frame at its checkpoint,
    which runs inside the scope.
    """
    frame = step(state) if rounds > 0 else None
    if frame is None or _holds_float(frame.schema):
        parts = None
    converged = False
    with _loop_shuffle_scope(state.sparkSession, parts):
        for i in range(rounds):
            if i:
                frame = step(state)
            runtime_counters.note_round(frame)
            state = frame.localCheckpoint(eager=False)
            if done is not None and done(state):
                converged = True
                break
        if pin_last and rounds > 0:
            state.count()
    if done is not None and not converged:
        _nonconvergence(label, rounds, on_max_iter)
    return state, converged


def _count_stable(n: int):
    """``done`` test of a shrink-only loop: the round's count (which
    materializes its checkpoint) equals the one before — ``n`` before
    the first round."""

    def done(state: DataFrame) -> bool:
        nonlocal n
        prev, n = n, state.count()
        return n == prev

    return done


def _labelled(label_col: str, kernel, uniq, src, dst, has_null: bool):
    """A label kernel ``kernel(n, src, dst, has_null) -> (labels, log,
    null_row)`` as a kernel of the small-graph runner
    (``pagerank._on_driver``): one ``(id, label_col)`` row per vertex
    it labels (label code -1: no row), and a ``(null, null)`` row when
    it asks for one. The id columns are built as Python objects, so
    ids above 2**53 stay exact."""
    import pandas as pd

    labels, log, null_row = kernel(len(uniq), src, dst, has_null)
    keep = labels >= 0
    none = [None] * null_row
    return pd.DataFrame({
        "id": np.append(uniq[keep].astype(object), none),
        label_col: np.append(uniq[labels[keep]].astype(object), none),
    }), log


def _until_stable(step, frontier, max_iter: int) -> tuple[int, bool]:
    """Rounds of ``frontier = step(frontier)``, where a round returns
    the mask of what it changed, until one changes nothing or
    ``max_iter`` ran: ``(rounds, converged)``, counted as
    :func:`_fixpoint` counts them."""
    rounds, converged = 0, False
    while rounds < max_iter and not converged:
        rounds += 1
        frontier = step(frontier)
        converged = not frontier.any()
    return rounds, converged


def _cc_kernel(n, src, dst, has_null, *, max_iter: int, jump: bool):
    """:func:`connected_components`' loop: synchronous hash-min over
    both edge directions, then the pointer jump when ``jump``, until a
    round changes no label. A null id is its own labelless vertex."""
    s, d = np.concatenate([src, dst]), np.concatenate([dst, src])
    labels = np.arange(n)

    def step(_):
        nonlocal labels
        new = labels.copy()
        np.minimum.at(new, d, labels[s])
        if jump:
            new = np.minimum(new, labels[new])
        changed, labels = new < labels, new
        return changed

    rounds, converged = _until_stable(step, None, max_iter)
    return labels, [["connected_components", max_iter, rounds, converged]], has_null


def _scc_kernel(n, src, dst, has_null, *, max_outer: int, max_iter: int):
    """:func:`strongly_connected_components`' FW-BW peel: on the
    distinct edge set, per outer round, the forward-min coloring from
    the changed frontier, the backward sweep from the roots within
    color classes, then both edge ends restricted to survivors. Only
    settled vertices get a label. A null id is a vertex of the first
    outer round only (it never settles), as on the distributed path."""
    if n:
        src, dst = np.unique(np.stack([src, dst]), axis=1)
    ids = np.arange(n)
    alive = np.ones(n, dtype=bool)
    scc = np.full(n, -1)
    log = []
    for _ in range(max_outer):
        if not (alive.any() or has_null):
            break
        has_null = False
        color = ids.copy()

        def color_step(frontier):
            nonlocal color
            new = color.copy()
            hot = frontier[src]
            np.minimum.at(new, dst[hot], color[src[hot]])
            changed, color = new < color, new
            return changed

        colored = _until_stable(color_step, alive, max_iter)
        log.append(["scc:color", max_iter, *colored])
        in_scc = alive & (color == ids)
        inner = color[src] == color[dst]
        bsrc, bdst = src[inner], dst[inner]

        def back_step(frontier):
            hit = np.zeros(n, dtype=bool)
            hit[bsrc[frontier[bdst]]] = True
            changed = hit & ~in_scc
            in_scc[hit] = True
            return changed

        swept = _until_stable(back_step, in_scc.copy(), max_iter)
        log.append(["scc:backward", max_iter, *swept])
        scc[in_scc] = color[in_scc]
        alive &= ~in_scc
        keep = alive[src] & alive[dst]
        src, dst = src[keep], dst[keep]
    else:
        if alive.any() or has_null:
            log.append(["scc", max_outer, 0, False])
    return scc, log, False


def pregel(
    edges: DataFrame,
    init: DataFrame,
    step,
    max_iter: int = 50,
    on_max_iter: str = "warn",
    label: str = "pregel",
    shuffle_parts: int | None = None,
) -> DataFrame:
    """Generic fixed-point loop over an edge frame, on the module's
    round driver (:func:`_fixpoint`), so custom algorithms inherit the
    one-job-per-round + lazy-checkpoint economy the built-ins use.

    ``step(edges, state, changed)`` returns the next state with a
    boolean ``__changed`` column; ``changed`` is the previous round's
    changed rows (the delta frontier — sparse algorithms like BFS
    message only from it; dense ones ignore it; round 0 gets ``init``).
    Per round exactly ONE Spark job runs: the new state is
    localCheckpoint'ed *lazily* and the driver's changed-count action
    both materializes it (pinning every partition, truncating lineage)
    and answers the fixpoint test. Exhausting ``max_iter`` without a
    fixpoint warns (or raises with ``on_max_iter='raise'``) instead of
    silently returning a non-converged iterate.

    ``edges`` is passed through untouched — shape it first (symmetrize,
    right-size partitions, eager-checkpoint) as the built-ins do.
    ``shuffle_parts`` narrows the per-round exchange width to the
    caller's stats-derived task count (:func:`_loop_shuffle_scope`).
    The driver checks the rule that makes this safe: a step whose
    frame has a float or double field runs at the session width
    whatever is passed, since its sums could move with
    partial-aggregation order; exact min / count / bool-or steps
    narrow.
    """

    def round_(state: DataFrame) -> DataFrame:
        if state is init:
            return step(edges, init, init)
        changed = state.where(F.col("__changed")).drop("__changed")
        return step(edges, state.drop("__changed"), changed)

    def unchanged(state: DataFrame) -> bool:
        # the fixpoint test rides the materializing count as an
        # observe() metric — the filter is never a separate scan. The
        # Observation sits ABOVE the checkpoint: under it the
        # CollectMetrics node would vanish into the checkpointed RDD's
        # lineage and obs.get would block forever
        obs = Observation()
        state.observe(obs, F.count_if(F.col("__changed")).alias("nc")).count()
        return obs.get["nc"] == 0

    state, _ = _fixpoint(
        round_, init, max_iter, parts=shuffle_parts, done=unchanged,
        label=label, on_max_iter=on_max_iter,
    )
    return state.drop("__changed")


class PropertyGraph:
    """A property graph: ``vertices(id, ...)`` + ``edges(src, dst, ...)``."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges

    @classmethod
    def from_edges(cls, edges: DataFrame) -> "PropertyGraph":
        """Vertex set = every id appearing as src or dst."""
        return cls(_vertices(edges), edges)

    def out_degrees(self) -> DataFrame:
        """(id, out_degree) — distinct successors per vertex; one
        partial-aggregated shuffle on src."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.countDistinct("dst").alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.countDistinct("src").alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        """(id, in_degree, out_degree), 0 where absent — full outer
        join of the two degree aggregates on the 8-byte-ish id key."""
        return (
            self.out_degrees()
            .join(self.in_degrees(), "id", "full_outer")
            .select(
                "id",
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            )
        )


def _triangles(canon: DataFrame) -> DataFrame:
    """Every triangle ``x < y < z`` of a canonical (``src < dst``),
    distinct edge list, found exactly once as the wedge x-y, y-z
    closed by x-z: ``(x, z, y)`` rows from two hash joins that shuffle
    only id pairs."""
    e1 = canon.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = canon.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = canon.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"])


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected graph; returns a
    single-row DataFrame ``(n_triangles: long)``.

    Standard wedge-closure plan (:func:`_triangles`): canonicalize each
    undirected edge to ``src < dst``, so every triangle is counted
    exactly once; the wedge fan-out is Σ_b C(deg(b), 2), the
    canonical bound for join-based triangle enumeration — at 100 TB
    scale AQE's skew split handles hub vertices, and the final count
    is a partial-aggregated scalar, never a driver-side materialize.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # materialize ONCE: the three join legs below are differently-
        # aliased projections of this frame, which defeats Catalyst's
        # ReusedExchange matching — without the checkpoint the scan +
        # dedup shuffle runs three times (3 corpus passes at 100 TB;
        # the canonical edge list is exactly the artifact a production
        # triangle count persists)
        .localCheckpoint(eager=True)
    )
    return _triangles(canon).agg(F.count(F.lit(1)).alias("n_triangles"))


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Undirected connected components by hash-min label propagation:
    every vertex's label converges to the minimum vertex id in its
    component. Returns ``(id, component)``.

    Loop shape (the GraphFrames/Pregel-standard approach, expressed
    relationally): symmetrize edges once, right-size the task count to
    the edge count, materialize; each round sends the current label
    across every edge and takes the per-vertex min of (own label,
    neighbor labels) — a join + partial-aggregated groupBy, both
    shuffling only (id, label) pairs. Rounds needed = graph diameter.

    Job economy: each round runs exactly ONE Spark job. The new label
    table carries a ``__changed`` flag and is localCheckpoint'ed
    *lazily*; the driver's changed-count action both materializes the
    checkpoint (every partition is computed and pinned by the count)
    and answers the fixpoint question — no second pass, no lineage
    replay next round.

    Pointer jumping (each round also replaces a vertex's label with
    its label's label) cuts rounds from O(diameter) to O(log
    diameter) for one extra (id, label) join per round. It is on
    exactly when the graph is big enough for the round count to
    dominate: at least half the session's shuffle width of
    right-sized tasks. On a smaller graph the extra per-round stage
    costs more than the rounds it saves.

    Small graphs run on the driver (``pagerank._on_driver``, the one
    runner scc and parity PageRank share): when
    :func:`_fits_one_task` finds integer or string ids and an edge
    list needing one ~1 MB task, the edge list is collected and a
    numpy copy of this loop (:func:`_cc_kernel`) runs all rounds
    there, with the same labels, round count, pointer-jump rule and
    ``max_iter`` warning. Rounds on such a graph are bound by
    scheduling, not data: the collect is the call's one job. The
    result is a local frame. Missing stats or a bigger graph take the
    distributed loop above.
    """
    # NOT distinct'ed: duplicate edges send duplicate min-messages,
    # which the per-vertex min() absorbs — a distinct here would cost
    # a full shuffle of the doubled edge list every bit as large as
    # one propagation round.
    # Right-size the per-round task count to the edge count (see
    # pagerank.loop_partitions): a small graph over 32 partitions
    # makes every round 32 near-empty tasks. The count is a
    # column-pruned scan of the (not yet doubled) edge frame.
    parts = _edge_partitions(edges)
    jump = parts * 2 >= shuffle_partitions(edges.sparkSession)
    if _fits_one_task(edges):
        kernel = partial(_cc_kernel, max_iter=max_iter, jump=jump)
        kernel = partial(_labelled, "component", kernel)
        return _on_driver(edges, "component {id}", kernel, "warn")[0]
    sym = _pinned(_symmetrized(edges), parts, "src")

    init = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    ).localCheckpoint(eager=True)

    def step(sym_e: DataFrame, labels: DataFrame, _changed: DataFrame) -> DataFrame:
        # min incoming neighbor label per vertex (partial agg shrinks
        # the shuffle to one (id, label) row per vertex per mapper)
        min_msgs = (
            sym_e.join(labels, sym_e.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("__m"))
        )
        # merge into the label table with least(), then POINTER-JUMP:
        # replace each vertex's label with its label's label. Labels
        # are monotone non-increasing and always ≤ the vertex id, so
        # the jump only tightens; hash-min alone needs diameter
        # rounds, hash-min + jump converges in O(log diameter) — on a
        # 100 TB graph the difference between ~10 and ~40 shuffle
        # rounds. The jump join keys the merged side by its label
        # (skewed toward big components near convergence); AQE skew
        # splitting carries it, and the round count it saves dominates.
        merged = labels.join(min_msgs, "id", "left").select(
            "id",
            F.least("component", "__m").alias("__c1"),
            F.col("component").alias("__old"),
        )
        if jump:
            parent = labels.select(
                F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
            )
            stepped = merged.join(
                parent, merged.__c1 == parent.__pid, "left"
            ).select(
                "id",
                F.least("__c1", "__pcomp").alias("component"),
                F.col("__old"),
            )
        else:
            stepped = merged.select(
                "id", F.col("__c1").alias("component"), "__old"
            )
        return stepped.select(
            "id",
            "component",
            (F.col("component") < F.col("__old")).alias("__changed"),
        )

    return pregel(
        sym, init, step, max_iter=max_iter, label="connected_components",
        shuffle_parts=parts,
    )


def shortest_paths(
    edges: DataFrame,
    source: str,
    max_iter: int = 20,
) -> DataFrame:
    """Single-source BFS shortest paths over an undirected graph:
    ``(id, dist int)`` for every vertex reachable from ``source``
    within ``max_iter`` hops (unreachable vertices are absent).

    The unit-weight case of :func:`weighted_shortest_paths`: the same
    delta-frontier relaxation loop over ``weight = 1``. With unit
    weights a vertex's distance is final the round it is discovered,
    so each round messages only the newly discovered frontier, and
    rounds needed = the source's eccentricity.
    """
    dist = weighted_shortest_paths(
        edges.withColumn("weight", F.lit(1)), source, max_iter=max_iter
    )
    return dist.select("id", F.col("dist").cast("int"))


def k_truss(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 30,
    on_max_iter: str = "warn",
    precore: bool = False,
) -> DataFrame:
    """Edges of the undirected k-truss with their within-truss
    support: iteratively delete edges contained in fewer than
    ``k − 2`` triangles until a fixpoint (Cohen 2008). The
    EDGE-grained sibling of :func:`k_core` — trusses are strictly
    denser than cores (every k-truss edge sits in a (k−1)-core) and
    are the standard community-kernel / spam-link-trim primitive.
    ``k ≥ 3`` required (below that "support ≥ k−2" keeps
    triangle-free edges, which a truss by definition is not about).

    Round shape: triangles are enumerated once per round on the
    CANONICAL (src < dst) edge list by :func:`triangle_count`'s
    wedge-closure double join (:func:`_triangles`; each triangle
    x<y<z found exactly once), exploded to their 3 member edges, and
    partial-agg counted → per-edge support; the surviving list is
    lazily checkpointed and its count is the fixpoint test — one
    triangle pass + one filter per round, ids-only shuffles.
    Rounds = deletion-cascade depth. Returns ``(src, dst, support)``
    on the stable subgraph (canonical orientation).

    ``precore=True`` peels the graph to its (k−1)-core first — a safe
    truss-preserving reduction (every vertex of a k-truss has degree
    ≥ k−1 inside it, so the k-truss is a subgraph of the (k−1)-core)
    that shrinks the wedge space BEFORE the quadratic-ish triangle
    enumeration; degree peeling is linear per round. Same answer by
    construction (oracle-pinned by ``k_truss_precore_edges`` and a
    unit equivalence test); at scale the win grows with how much of
    the graph is low-degree fringe.
    """
    if k < 3:
        raise ValueError("k_truss requires k >= 3")
    parts = _edge_partitions(edges)
    canon = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .repartition(parts, "src", "dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    if precore:
        core_ids = k_core(
            canon, k - 1, max_iter=max_iter, on_max_iter=on_max_iter
        ).select(F.col("id").alias("src"))
        canon = (
            canon.join(core_ids, "src", "left_semi")
            .join(core_ids.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )

    def _support(es: DataFrame) -> DataFrame:
        return (
            _triangles(es).select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("src"), F.col("y").alias("dst")),
                        F.struct(F.col("x").alias("src"), F.col("z").alias("dst")),
                        F.struct(F.col("y").alias("src"), F.col("z").alias("dst")),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            .agg(F.count(F.lit(1)).alias("support"))
        )

    supp = None

    def peel(es: DataFrame) -> DataFrame:
        nonlocal supp
        supp = _support(es)
        return (
            es.join(supp, ["src", "dst"], "left")
            .where(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("src", "dst")
        )

    canon, converged = _fixpoint(
        peel, canon, max_iter, done=_count_stable(canon.count()),
        label="k_truss", on_max_iter=on_max_iter,
    )
    final = canon.localCheckpoint(eager=True)  # feeds support AND join
    # at a fixpoint the last round dropped nothing, so its support
    # table (computed on the same edge content) IS the final support —
    # skip the extra triangle pass; only a max_iter bailout recomputes
    fsupp = supp if converged else _support(final)
    return final.join(fsupp, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def k_core(
    edges: DataFrame, k: int, max_iter: int = 30, on_max_iter: str = "warn"
) -> DataFrame:
    """Vertices of the undirected k-core with their within-core degree:
    iteratively peel vertices of degree < k until a fixpoint — the
    standard graph-densification/noise-trim primitive (GraphFrames has
    no built-in; this is the relational Pregel expression).

    Round shape: one partial-aggregated ``groupBy(src).count`` builds
    the surviving-vertex set, then TWO left-semi joins restrict the
    edge list to edges whose BOTH endpoints survive. Only (src, dst)
    id pairs ever shuffle; the semi-join build side (surviving ids) is
    the same exchange on both probes, so Spark's exchange reuse pays
    for it once. The new edge list is lazily localCheckpoint'ed and
    the per-round count() both materializes it (bounded lineage) and
    answers the fixpoint test — one job per round, mirroring
    connected_components' loop economy.

    Rounds = peel-cascade depth ≤ graph degeneracy chain; the edge
    list shrinks monotonically, so late rounds are cheap. Returns
    ``(id, core_deg)`` — empty when the whole graph peels away.
    """
    parts = _edge_partitions(edges)
    # k-core degree is a SIMPLE-graph notion: drop self-loops (they
    # would count +1 degree and wrongly keep a pendant vertex) and
    # dedupe the symmetrized edge list (unlike pagerank/CC, where
    # duplicate messages are absorbed by the aggregate, duplicates
    # here inflate degrees and change which vertices survive).
    # dropDuplicates doubles as the repartition — its shuffle hashes
    # on both key columns.
    cur = (
        _symmetrized(edges.where(F.col("src") != F.col("dst")))
        .repartition(parts, "src", "dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )

    def peel(cur: DataFrame) -> DataFrame:
        # keep derives FROM cur, so the semi-joins are self-joins;
        # name-based join keys (not cross-plan Column refs) keep the
        # analyzer from resolving the condition into the shared subplan
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") >= k)
            .select("src")
        )
        return (
            cur.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )

    # the entry-level width estimate is threaded through every round
    # because the edge list only shrinks (the scc precedent: per-round
    # re-estimates run high). Rounds running out means the cascade was
    # still peeling: the result would hold vertices a deeper cascade
    # removes — not a k-core
    cur, _ = _fixpoint(
        peel, cur, max_iter, parts=parts, done=_count_stable(cur.count()),
        label="k_core", on_max_iter=on_max_iter,
    )
    return cur.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def maximal_independent_set(
    edges: DataFrame, max_iter: int = 30, on_max_iter: str = "warn"
) -> DataFrame:
    """Deterministic Luby maximal independent set: no two chosen
    vertices are adjacent, every unchosen vertex has a chosen
    neighbor. The symmetry-breaking primitive under distributed
    coloring/matching/scheduling.

    Luby's randomness is replaced by a content-derived priority
    (md5-prefix of the vertex id — the engine-portable trick the
    sampling operators use), so the result is a pure function of the
    graph: re-runs, re-partitionings, and the DuckDB oracle all agree.
    Per round: each ACTIVE vertex joins the min (priority, id) of its
    active neighbors (one partial-aggregated groupBy over the edge
    list); vertices strictly below that min enter the set; winners and
    their neighbors deactivate. Expected O(log n) rounds; shuffles
    carry (id, priority) pairs only. A self-looped vertex is its own
    neighbor, so it can never be independent: such vertices are
    excluded from eligibility entirely (dropping just the loop edge
    would have the OPPOSITE effect of making them free to win).
    """
    parts = _edge_partitions(edges)
    looped = (
        edges.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
    )
    # partitioned by DST: the recurring per-round join keys on dst
    # (min active-neighbor lookup), so the persistent copy must be
    # laid out for THAT join — src is only used by the winner
    # deactivation semi-join, whose other side (winners) is small
    # enough to broadcast every round. Partitioning by src would
    # re-shuffle the full edge list per round at broadcast-infeasible
    # active-set sizes.
    sym = _pinned(
        _symmetrized(edges.where(F.col("src") != F.col("dst"))), parts, "dst"
    )
    pri = F.conv(F.substring(F.md5(F.col("id")), 1, 6), 16, 10).cast("long")
    active = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .join(looped, "id", "left_anti")
        .select("id", pri.alias("pri"))
        .localCheckpoint(eager=True)
    )
    chosen = []

    def luby(_winners: DataFrame) -> DataFrame:
        # min active-neighbor (pri, id) per vertex; duplicate edges are
        # absorbed by the min, so the symmetrized list is not deduped
        neigh = (
            sym.join(
                active.select(
                    F.col("id").alias("dst"), F.struct("pri", "id").alias("__p")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("__p").alias("__minp"))
        )
        return (
            active.join(neigh, "id", "left")
            .where(
                F.col("__minp").isNull()
                | (F.struct("pri", "id") < F.col("__minp"))
            )
            .select("id")
        )

    def no_winners(winners: DataFrame) -> bool:
        nonlocal active
        if winners.count() == 0:
            return True
        # each winners frame is already pinned by its count; collect
        # references and union once at the end instead of paying an
        # eager re-checkpoint of the growing chosen set every round
        chosen.append(winners)
        touched = winners.unionByName(
            sym.join(
                winners.withColumnRenamed("id", "src"), "src", "left_semi"
            ).select(F.col("dst").alias("id"))
        )
        # no per-round active.count(): an empty active set just makes
        # the NEXT round's winners.count() return 0 and exit — one
        # fewer job per round (the lazy checkpoint pins on first use)
        active = active.join(touched, "id", "left_anti").localCheckpoint(
            eager=False
        )
        return False

    _, converged = _fixpoint(
        luby, active, max_iter, parts=parts, done=no_winners,
        on_max_iter="ignore",
    )
    # Luby rounds exhausted with eligible vertices still active → the
    # set is independent but possibly NOT maximal; only the final
    # exhaustion path pays the active-count job
    if not converged and active.limit(1).count() > 0:
        _nonconvergence("maximal_independent_set", max_iter, on_max_iter)
    if not chosen:
        return active.select("id").where(F.lit(False))
    return reduce(DataFrame.unionByName, chosen).select("id")


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    to_dst,
    to_src,
    agg,
) -> DataFrame:
    """GraphX's core primitive (``aggregateMessages``) as relational
    algebra: every Pregel-style step — degree counting, rank
    propagation, label spreading — is "join vertex state onto edges,
    emit messages along each direction, aggregate per recipient".

    ``to_dst`` / ``to_src`` build the message Column from the joined
    row (edge columns plus ``src_<attr>`` / ``dst_<attr>`` vertex
    attributes); pass ``None`` to send nothing that way. ``agg`` is
    the per-recipient aggregate (e.g. ``F.sum``, ``F.min``,
    ``F.collect_list``). Returns ``(id, msg)``.

    The physical plan is exactly what the hand-written operators in
    this module compile to: two hash joins (vertex state onto edge
    endpoints — Catalyst broadcasts the smaller side) and ONE
    partial-aggregated shuffle of (recipient, message) pairs, so a
    custom step inherits the same 100 TB posture as the built-ins.
    PageRank's contribution step, for example, is::

        aggregate_messages(
            ranks_with_degree, edges,
            to_dst=F.col("src_rank") / F.col("src_deg"),
            to_src=None,
            agg=F.sum,
        )

    As in GraphX, an edge whose endpoint is absent from ``vertices``
    produces NO messages: its triplet has no vertex attributes, and
    letting it through would silently feed null ``src_*``/``dst_*``
    attributes into the message expressions (nulls a sum/min then
    absorbs).
    """
    vcols = vertices.columns
    src_state = vertices.select(
        F.col("id").alias("src"),
        *[F.col(c).alias(f"src_{c}") for c in vcols if c != "id"],
    )
    dst_state = vertices.select(
        F.col("id").alias("dst"),
        *[F.col(c).alias(f"dst_{c}") for c in vcols if c != "id"],
    )
    joined = edges.join(src_state, "src").join(
        dst_state, "dst"
    )
    # both directions ride ONE explode over the joined triplets — a
    # union of two projections would consume `joined` twice, doubling
    # the whole upstream lineage in the physical plan (vertex state
    # built 4x instead of 2x when it is itself derived)
    pairs = []
    if to_dst is not None:
        pairs.append(
            F.struct(F.col("dst").alias("id"), to_dst.alias("__msg"))
        )
    if to_src is not None:
        pairs.append(
            F.struct(F.col("src").alias("id"), to_src.alias("__msg"))
        )
    if not pairs:
        raise ValueError("at least one of to_dst/to_src is required")
    msgs = joined.select(F.explode(F.array(*pairs)).alias("__p")).select(
        F.col("__p.id").alias("id"), F.col("__p.__msg").alias("__msg")
    )
    return msgs.groupBy("id").agg(agg("__msg").alias("msg"))


def label_propagation(edges: DataFrame, max_iter: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection) — the
    GraphFrames ``labelPropagation`` surface: every vertex starts in
    its own community and each round adopts the most frequent label
    among its neighbors. Returns ``(id, label)`` after ``max_iter``
    rounds (LPA oscillates rather than converges — GraphX/GraphFrames
    run a fixed ``maxSteps`` too, so a fixed round count IS the
    reference semantics, and it makes the unrolled-CTE oracle exact).

    Determinism: ties break by (count desc, label asc) — a pure
    function of the graph, unlike GraphX's hash-partition-dependent
    tie-break. Per round: ONE partial-aggregated shuffle —
    ``mode(label, deterministic=true)`` per recipient (its typed
    buffer is the per-partition label→count map, merged at the
    reducer; the deterministic flag returns the lowest label among
    the most frequent, i.e. exactly the (count desc, label asc)
    argmax the two-step count-then-window plan computed with a
    second exchange). Only (id, label) pairs ever shuffle. Every
    vertex of the symmetrized edge list has ≥1 neighbor, so the
    per-round argmax covers the whole vertex set.
    """
    parts = _edge_partitions(edges)
    sym = _pinned(_symmetrized(edges), parts, "src")
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    def adopt(labels: DataFrame) -> DataFrame:
        # mode(deterministic=true) is an exact counted argmax with a
        # total tie-break: the narrowed loop width cannot move it
        return (
            sym.join(labels, sym["src"] == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.mode("label", True).alias("label"))
        )

    # no per-round action: pin_last materializes every round's lazy
    # checkpoint with one count inside the loop scope (same total
    # work: the caller re-reads pinned partitions)
    labels, _ = _fixpoint(adopt, labels, max_iter, parts=parts, pin_last=True)
    return labels


def bipartite_project(
    edges: DataFrame,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Project a bipartite graph ``(src, dst)`` onto its src side:
    ``(src_a, src_b, weight)`` with ``src_a < src_b`` and weight = the
    number of shared dst neighbors — the co-occurrence graph builder
    (parts co-supplied by a supplier, docs sharing a term, users
    co-clicking an item).

    Scale shape: one self-join keyed on ``dst`` after a distinct —
    output is Σ_d C(deg(d), 2) pairs, so hub dsts explode
    quadratically. ``max_degree`` drops dsts above the cap BEFORE the
    join (the standard projection guard: a dst shared by everyone
    carries no co-occurrence signal and C(10^6, 2) pairs of cost);
    pass ``None`` to keep all. AQE's skew split handles the surviving
    moderate hubs.
    """
    # materialize the deduped (and degree-capped) edge set ONCE: it
    # feeds the degree build plus BOTH self-join legs, and Catalyst
    # does not CSE the three subtrees — un-checkpointed, the upstream
    # scan+distinct re-ran per consumer (the repo-documented
    # double-consumption pitfall; ~10% here where the pair explosion
    # dominates, proportionally more with an expensive edge source)
    #
    # The self-join EXPLODES rows (Σ_d C(deg, 2) pairs from |E|
    # edges), and the pair stream's partial aggregation runs on the
    # probe side's task layout — which for a small edge list is the
    # 1-8 partitions AQE coalesced the distinct down to, serializing
    # the dominant stage (measured: 8 tasks / 3.6 s for an 8.7 M-pair
    # projection at sf0.1 that 32 tasks finish in ~1 s). Spread the
    # checkpointed frame to the cluster's parallelism when the edge
    # list is small (dedup._spread's stats gate, read on the
    # pre-checkpoint plan; a checkpointed Parquet edge list reports
    # the same size, so the order does not matter there, and only a
    # createDataFrame input reports Long.MaxValue; a failed probe
    # counts as big); a large edge list keeps its
    # already-parallel layout, so nothing moves at 100 TB. Output
    # values cannot change: the pair aggregate is an exact integer
    # count, layout-insensitive.
    from pagerank_hadoop_spark.operators.dedup import _spread

    e = _spread(edges.select("src", "dst").distinct()).localCheckpoint(eager=True)
    if max_degree is not None:
        ok = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") <= max_degree)
            .select("dst")
        )
        # no second _spread: when ``ok`` broadcasts, the semi-join keeps
        # e's (already spread) layout, and the repartition here was a
        # pure extra exchange paid inside the checkpoint
        # materialization (measured: 5.6 → 2.7-3.2 s on the sf0.1
        # projection, identical output hash). If ``ok`` is too big to
        # broadcast, the shuffled semi-join re-lays e by dst anyway.
        e = e.join(ok, "dst", "left_semi").localCheckpoint(eager=True)
    a = e.select(F.col("src").alias("src_a"), "dst")
    b = e.select(F.col("src").alias("src_b"), "dst")
    return (
        a.join(b, "dst")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def hits(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) over a directed edge list:
    ``auth(v) = Σ_{u→v} hub(u)``, ``hub(u) = Σ_{u→v} auth(v)``, each
    L2-normalized per half-step; returns ``(id, hub, auth)`` for the
    full vertex set after ``n_iter`` rounds from all-ones seeds.

    Scale shape mirrors :func:`pagerank`: per round one partial-
    aggregated shuffle keyed on ``dst`` (auth update) and one on
    ``src`` (hub update); only (id, score) doubles ever shuffle. The
    L2 norms are 1-row aggregates joined back by broadcast crossJoin —
    no driver collect — and each half-step's RAW scores are lazily
    ``localCheckpoint``ed BEFORE normalization: the normalize step
    consumes its input twice (the norm agg and the division branch),
    and Catalyst does not CSE the two subtrees, so an un-checkpointed
    input re-runs the whole join+aggregate per consumer (the
    repo-documented double-consumption pitfall — measured 1.9x on
    this loop).

    The NORMALIZED frames are not checkpointed, which trades a rescan
    for a barrier: normalization is a 1-row aggregate plus a narrow
    projection over the already-pinned raw RDD, so each consumer (the
    next half-step, the final join) re-derives it by rescanning that
    RDD, while a checkpoint of it would be one more driver round trip
    per half-step (a Catalyst pass plus an eager broadcast build at
    toRdd: 4 barriers per iteration instead of 2). The expression
    trees are the same either way, so scores are bit-identical. Both
    half-steps make one round of the module's round driver, so
    ``rounds_total`` counts ``n_iter``; the double sums keep every
    round at the session shuffle width.

    Reference mapping: the reference repo has no HITS; this extends
    its PageRank surface (C1 loop driver family,
    ``PageRank.java:305-340``) with the other classic link-analysis
    fixpoint, expressed on the same id-only shuffle economy.
    """
    parts = _edge_partitions(edges, doubled=False)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    # the loop alternates join keys every half-step (src for the auth
    # update, dst for the hub update), so keep TWO aligned persistent
    # copies — the GraphX routing-table trade: 2x edge cache buys zero
    # per-round edge exchanges at score sizes too big to broadcast
    e_src = _pinned(e, parts, "src")
    e_dst = _pinned(e, parts, "dst")
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = vertices.select("id", F.lit(1.0).alias("hub"))
    auth = vertices.select("id", F.lit(1.0).alias("auth"))

    def _normalized(scores: DataFrame, col: str) -> DataFrame:
        nrm = scores.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__nrm")
        )
        return scores.crossJoin(F.broadcast(nrm)).select(
            "id", (F.col(col) / F.col("__nrm")).alias(col)
        )

    def _raw(e_side, key, scores, col, to, out) -> DataFrame:
        # per ``to`` vertex, the sum of ``col`` over the edges whose
        # ``key`` end holds the score; 0.0 where no edge arrives
        summed = (
            e_side.join(scores, e_side[key] == scores.id)
            .groupBy(F.col(to).alias("id"))
            .agg(F.sum(col).alias(out))
        )
        return vertices.join(summed, "id", "left").select(
            "id", F.coalesce(out, F.lit(0.0)).alias(out)
        )

    def hub_of(raw: DataFrame) -> DataFrame:
        return raw if raw is seed else _normalized(raw, "hub")

    def both_halves(raw_hub: DataFrame) -> DataFrame:
        # auth's raw frame is pinned here, hub's by the round driver
        nonlocal auth
        auth_raw = _raw(e_src, "src", hub_of(raw_hub), "hub", "dst", "auth")
        auth = _normalized(auth_raw.localCheckpoint(eager=False), "auth")
        return _raw(e_dst, "dst", auth, "auth", "src", "hub")

    raw_hub, _ = _fixpoint(both_halves, seed, n_iter)
    return hub_of(raw_hub).join(auth, "id")


def weighted_shortest_paths(
    edges: DataFrame,
    source: str,
    directed: bool = False,
    max_iter: int = 50,
    on_max_iter: str = "warn",
) -> DataFrame:
    """Single-source shortest paths with per-edge weights (Bellman-
    Ford as Pregel): ``(id, dist)`` for every vertex reachable from
    ``source``. ``edges`` carries ``(src, dst, weight)``; weights must
    be non-negative (integer weights keep distances exact across
    engines).

    The delta-frontier trick still applies under weights: a vertex
    re-messages its neighbors ONLY in the round after its own
    distance improved (classic SPFA refinement of Bellman-Ford), so
    per-round join input is the improved set, not every settled
    vertex. One job per round; shuffles carry (id, dist) pairs only.
    Rounds needed ≤ longest shortest-path hop count (≤ |V|-1); on
    real graphs the frontier empties in O(diameter) rounds.
    """
    e = (
        edges.select("src", "dst", "weight")
        if directed
        else _symmetrized(edges, "weight")
    )
    parts = _edge_partitions(edges, doubled=not directed)
    e = _pinned(e, parts, "src")

    init = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .where(F.col("id") == source)
        .withColumn("dist", F.lit(0).cast("long"))
    ).localCheckpoint(eager=True)

    def step(sym_e: DataFrame, dist: DataFrame, frontier: DataFrame) -> DataFrame:
        msgs = (
            sym_e.join(frontier, sym_e.src == frontier.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("__m"))
        )
        return dist.join(msgs, "id", "full").select(
            "id",
            F.least("dist", "__m").alias("dist"),
            (F.col("dist").isNull() | (F.col("__m") < F.col("dist"))).alias(
                "__changed"
            ),
        )

    return pregel(
        e,
        init,
        step,
        max_iter=max_iter,
        on_max_iter=on_max_iter,
        label="weighted_shortest_paths",
        # least()/min over exact per-edge relaxations is
        # order-insensitive, so the narrow loop scope is hash-safe
        shuffle_parts=parts,
    )


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 30,
    max_iter: int = 50,
    on_max_iter: str = "warn",
) -> DataFrame:
    """Exact SCCs of a directed graph: ``(id, scc)`` with ``scc`` =
    the smallest vertex id in the component (the FW-BW "coloring"
    algorithm of Orzan / Slota et al., expressed relationally).

    Each outer round over the not-yet-settled subgraph:

    1. **Color** — forward-min fixpoint: ``color(v)`` converges to the
       minimum id among v's ancestors (incl. itself). Every SCC is
       monochromatic (mutual reachability), and the color value
       itself belongs to the component it names only if it can be
       reached *back*; that is what step 2 tests.
    2. **Backward sweep** — from each root (``color(v) == v``),
       propagate backwards along edges *within the same color class*.
       The vertices that reach their root forward AND backward — i.e.
       are backward-reachable from the root inside its color class —
       are exactly SCC(root); they settle with label = root.
    3. Settled vertices leave the vertex set; edges restrict to
       survivors (two left-semi joins on the same build side — one
       exchange, reused). Remaining vertices repeat with a smaller
       graph.

    Both inner fixpoints are :func:`pregel` loops (one job per round,
    lazy-checkpoint lineage control); shuffles only ever carry (id,
    label) pairs. Worst case (a long path) peels one SCC per outer
    round — the classic FW-BW bound; real graphs with a few large
    SCCs settle in a handful of outer rounds.

    Small graphs run on the driver (``pagerank._on_driver``), under
    the rule :func:`connected_components` states: a numpy copy of
    these loops (:func:`_scc_kernel`) runs every inner and outer round
    on the collected edge list, with the same labels, round counts and
    ``max_iter`` / ``max_outer`` / ``on_max_iter`` behaviour, in one
    job per call where the distributed loops run about thirty.
    """
    if _fits_one_task(edges, doubled=False):
        kernel = partial(_scc_kernel, max_outer=max_outer, max_iter=max_iter)
        kernel = partial(_labelled, "scc", kernel)
        return _on_driver(edges, "scc {id}", kernel, on_max_iter)[0]
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # loop-scope width from the REAL (checkpointed) edge set once —
    # the per-round ce subgraph is a join whose Catalyst size estimate
    # runs far high, which would turn the scope into a no-op
    loop_parts = _edge_partitions(e, doubled=False)
    done_parts: list[DataFrame] = []

    for _ in range(max_outer):
        if verts.limit(1).count() == 0:
            break

        # 1. forward-min coloring to fixpoint
        init = verts.select("id", F.col("id").alias("color"))

        def color_step(ed, state, changed):
            msgs = (
                ed.join(changed, ed.src == changed.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("__m"))
            )
            return state.join(msgs, "id", "left").select(
                "id",
                F.least("color", "__m").alias("color"),
                (F.col("__m") < F.col("color")).alias("__changed"),
            )

        colors = pregel(
            e,
            init,
            color_step,
            max_iter=max_iter,
            on_max_iter=on_max_iter,
            label="scc:color",
            shuffle_parts=loop_parts,
        ).localCheckpoint(eager=True)

        # 2. backward reachability from roots, within color classes.
        # State: (id, color, in_scc); frontier = newly settled rows.
        binit = colors.select(
            "id", "color", (F.col("color") == F.col("id")).alias("in_scc")
        )
        # pinned ONCE per outer round: the backward pregel references
        # its edge frame EVERY inner round, and un-pinned this 2-join
        # color restriction re-executed per round (r16 measured; the
        # pregel contract says "shape the edge frame first, eager-
        # checkpoint" — every other loop driver does)
        ce = (
            e.join(colors.select(F.col("id").alias("src"), "color"), "src")
            .join(
                colors.select(
                    F.col("id").alias("dst"),
                    F.col("color").alias("__dc"),
                ),
                "dst",
            )
            .where(F.col("color") == F.col("__dc"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )

        def back_step(ed, state, changed):
            # message flows dst -> src (backward edges)
            seed = changed.where(F.col("in_scc")).select(
                F.col("id").alias("dst")
            )
            msgs = (
                ed.join(seed, "dst")
                .select(F.col("src").alias("id"))
                .distinct()
                .withColumn("__hit", F.lit(True))
            )
            return state.join(msgs, "id", "left").select(
                "id",
                "color",
                (F.col("in_scc") | F.coalesce("__hit", F.lit(False))).alias(
                    "in_scc"
                ),
                (~F.col("in_scc") & F.coalesce("__hit", F.lit(False))).alias(
                    "__changed"
                ),
            )

        swept = pregel(
            ce,
            binit,
            back_step,
            max_iter=max_iter,
            on_max_iter=on_max_iter,
            label="scc:backward",
            shuffle_parts=loop_parts,
        ).localCheckpoint(eager=True)

        # settled/verts are narrow filter+projections over the PINNED
        # swept RDD — re-deriving them per consumer is a pinned-scan +
        # filter, while each dropped eager localCheckpoint was a whole
        # synchronous job per outer round (r16: two barriers removed
        # per outer round, values untouched)
        settled = swept.where(F.col("in_scc")).select(
            "id", F.col("color").alias("scc")
        )
        done_parts.append(settled)

        verts = swept.where(~F.col("in_scc")).select("id")
        surv = verts.select(F.col("id").alias("src"))
        e = (
            e.join(surv, "src", "left_semi")
            .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        if verts.limit(1).count() > 0:
            _nonconvergence("scc", max_outer, on_max_iter)

    if not done_parts:
        # empty edge input: no vertices, so the empty (id, scc) frame
        # (same schema) rather than an IndexError on done_parts[0]
        return verts.select("id", F.col("id").alias("scc"))
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def random_walks(
    edges: DataFrame,
    walk_len: int,
    walks_per_node: int = 1,
) -> DataFrame:
    """Deterministic uniform random walks from every vertex of an
    undirected graph — the corpus generator for DeepWalk/node2vec-
    style graph embeddings. Returns ``(walk_id, step, pos)`` with
    ``walks_per_node`` walks per start vertex and steps
    ``0..walk_len`` (every vertex has a neighbor, so no walk stops
    early).

    Randomness is ONE portable hash per (walk, step) indexing into
    the vertex's sorted neighbor array — a pure function of the
    graph, reproducible across engines/retries/partitionings with no
    RNG state. The adjacency array is built once (a single groupBy,
    eager-checkpointed); each step is then one frontier ⋈ adjacency
    equi-join with a constant-time element_at pick — no per-candidate
    hashing and no per-step aggregation. (A first cut hashed every
    (walk, step, neighbor) candidate and argmin'd per walk: measured
    81 s at sf0.1 vs the hash-per-candidate count ~ Σ frontier·deg;
    this form hashes Σ frontier rows only.) Hub vertices make hub
    ROWS wide (their neighbor array), but the frontier join
    replicates a hub's array once per walk currently AT the hub, not
    per edge — the standard alias-table trade; cap degree upstream
    if hub arrays outgrow task memory.
    """
    e = _symmetrized(edges).distinct()
    parts = _edge_partitions(e, doubled=False)
    adj = _pinned(
        e.groupBy("src").agg(F.sort_array(F.collect_set("dst")).alias("nbrs")),
        parts,
        "src",
    )

    frontier = (
        adj.select(F.col("src").alias("pos"))
        .select(
            "pos",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("r"),
        )
        .select(
            F.concat(
                F.col("pos").cast("string"), F.lit("#"), F.col("r")
            ).alias("walk_id"),
            "pos",
        )
        .localCheckpoint(eager=False)
    )

    steps = []  # each step's frontier, tagged with its step number

    def walk(frontier: DataFrame) -> DataFrame:
        steps.append(frontier.withColumn("step", F.lit(len(steps))))
        seed = F.concat(F.lit("w:"), F.col("walk_id"), F.lit(f":{len(steps)}"))
        h = F.conv(F.substring(F.md5(seed), 1, 15), 16, 10).cast("long")
        return frontier.join(adj, frontier.pos == adj.src).select(
            "walk_id",
            F.element_at(
                "nbrs", (F.pmod(h, F.size("nbrs")) + 1).cast("int")
            ).alias("pos"),
        )

    # the step loop is pure join + element_at pick — NO aggregation
    # anywhere, so partitioning/AQE cannot move a single value: the
    # loop-width scope (narrow shuffles + AQE/bloom off per round) is
    # trivially hash-safe here, and each lazy checkpoint's toRdd
    # otherwise pays AQE's eager per-stage execution per step
    last, _ = _fixpoint(walk, frontier, walk_len, parts=parts)
    steps.append(last.withColumn("step", F.lit(len(steps))))
    return reduce(DataFrame.unionByName, steps)

"""Iterative PageRank as one DataFrame fixed-point loop.

Reference semantics (the reference's ``PageRank.java``):

* 8 fixed iterations driven from ``main`` (``PageRank.java:473-488``);
  each Hadoop iteration re-reads and rewrites the full graph+rank state
  from/to HDFS. Here the loop body is a lazy
  ``join → explode → groupBy.agg`` plan over a cached adjacency — state
  never leaves memory; a lazy ``localCheckpoint`` every
  ``CHECKPOINT_EVERY`` (4) iterations bounds lineage/plan growth (the
  Spark-idiomatic replacement for the reference's per-iteration disk
  materialization).
* iteration-0 seeding: every page starts at ``1/N``
  (``PageRank.java:258-264``).
* update rule: ``rank' = 0.15/N + 0.85 * Σ incoming rank/outdeg``
  (``PageRank.java:305,316``); every variant uses this fixed
  ``DAMPING``, as the reference does. Every page receives the
  ``0.15/N`` baseline even with no in-links, because the reference
  ships each page's adjacency row to itself (``PageRank.java:281``).
* **parity mode** (default ``parity=True``) reproduces the reference's
  dangling-node behavior exactly: rank mass flowing into pages with no
  outlinks is LOST (never redistributed), so ranks do not sum to 1.
  ``parity=False`` redistributes dangling mass uniformly (textbook
  PageRank; ranks sum to 1).

One loop, four variants (the shape of GraphX's single
``runWithOptions``): :func:`_laid_out` lays the static adjacency out
once and :func:`_rank_loop` runs the rounds — seeding, the
rank ⋈ adjacency join, round counting and the checkpoint cadence. Each
variant supplies only its ``step``, which keeps its exact float
expression:

* uniform (parity): ``rank/outdeg``; the state holds only message
  receivers, every other vertex reads as the teleport baseline;
* corrected: ``rank/outdeg`` plus the dangling-mass crossJoin, dense
  state checkpointed every round;
* personalized: the ``(1-d)`` seed row unioned with
  ``rank/outdeg*d``, then summed; the state holds only reached
  vertices;
* weighted: ``rank*wfrac`` over pre-normalized ``(dst, wfrac)`` arrays.

The expressions are not merged: ``rank/outdeg`` and ``rank*wfrac``
differ in the last ulp, and 9-dp oracle rounding can flip on that.

One summation order. A layout narrower than the session is re-laid
sorted by id within each partition and runs its rounds at its own
width with the rank side as the hash-join build side, so each vertex
adds its incoming contributions in (source id, target id) order,
whatever the session width or core count (one sequential sum on a
one-partition layout; on a wider one, one per layout partition, then
merged). A layout at the full session width gets no fixed order. A
small parity run with no vertex list (:func:`_fits_one_task`, which
fails closed) runs all its rounds on the driver instead
(:func:`_rank_kernel`): a numpy loop that adds in the same order, so
its ranks equal the distributed loop's bit for bit. Its rounds are
bound by scheduling, not data: one job collects the edge list and no
round schedules any. :func:`pagerank_with_n` and
:func:`pagerank_snapshots` share one run (:func:`_rank_runs`), which
picks the path. Resumed, corrected, personalized and weighted runs,
and runs given a vertex list, stay distributed.

The module also holds what the small-graph loops of
``operators/graph.py`` (cc, scc) and parity PageRank share: the
small-graph probe (:func:`_fits_one_task`), the one runner
(:func:`_on_driver`) and the loop-width scope
(:func:`_loop_shuffle_scope`).

Scale notes (100 TB posture):

* The per-iteration join ``adjacency ⋈ ranks`` shuffles both sides on
  ``id``. We ``repartition(id)`` the static adjacency ONCE and cache
  it; ranks come out of the previous iteration's ``groupBy(id)`` with
  the same hash partitioning, so Catalyst/AQE reuses the exchange
  instead of re-shuffling the big adjacency every iteration.
* The contribution explode is map-side; the following ``groupBy(dst)``
  does partial (map-side) aggregation before the shuffle — the
  Spark equivalent of the reference's hand-rolled HashSet combiner
  (``PageRank.java:91-93``), for free.
* No ``collect()`` of rank state on the distributed path; the only
  driver-side scalar is N (same round-trip the reference does via a
  Hadoop counter, ``PageRank.java:470-471``). Only an edge list under
  :func:`_fits_one_task`'s ~1 MB bound is collected, whole, to the
  driver.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager
from functools import partial

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType, StringType

from pagerank_hadoop_spark import runtime_counters
from pagerank_hadoop_spark.session import (
    CONF_LOCK,
    SHUFFLE_PARTITIONS,
    conf_scope,
    plan_bytes,
    shuffle_partitions,
)

DAMPING = 0.85

# rounds between the lazy checkpoints that bound a rank loop's plan
CHECKPOINT_EVERY = 4

# target vertices per task in iterative loops: small graphs collapse to
# a handful of partitions (32 near-empty tasks per iteration is pure
# scheduler overhead — measured 2x on the sf0.1 bench); a 1e9-vertex
# graph still fans out to ~10k tasks, far above any shuffle_partitions
# default, and AQE coalesces from there
ROWS_PER_ITER_TASK = 100_000

_NO_RANKS = "id string, rank double"


def loop_partitions(need: int, shuffle_parts: int) -> int:
    """Task count for an iterative loop's state: the data's ``need``,
    at least 1 and at most the session's shuffle partitions."""
    return max(1, min(shuffle_parts, need))


def _iter_partitions(n: int, shuffle_parts: int) -> int:
    """PageRank's state width: ~ROWS_PER_ITER_TASK vertices per task."""
    return loop_partitions(-(-n // ROWS_PER_ITER_TASK), shuffle_parts)


def _edge_tasks(edges: DataFrame, doubled: bool = True) -> int | None:
    """Tasks a loop over ``edges`` needs at ~1 MB each, from Catalyst's
    plan-size estimate (no job), before any clamp to the session
    width; ``None`` when the plan reports no stats."""
    size = plan_bytes(edges)
    if size is None:
        return None
    if doubled:
        size *= 2  # symmetrized edge list
    return size // (1 << 20)


def _fits_one_task(edges: DataFrame, doubled: bool = True) -> bool:
    """Whether a loop over ``edges`` may run whole on the driver
    (:func:`_on_driver`; cc, scc and parity PageRank): both id
    columns of one integer type, or both Spark's binary-ordered string
    type, and an edge list that needs at most one task under
    ``graph._edge_partitions``' rule. The need is read before that
    rule clamps it to the session width, so
    ``spark.sql.shuffle.partitions=1`` cannot admit a big graph. No
    stats, or any other id type, fails closed to the distributed
    loop."""
    t = edges.schema["src"].dataType
    if t != edges.schema["dst"].dataType or not (
        isinstance(t, IntegralType) or t == StringType()
    ):
        return False
    need = _edge_tasks(edges, doubled)
    return need is not None and need <= 1  # loop_partitions floors at 1


# In the narrowed (small-graph) regime a loop's wall is driver
# planning, not data: every round pays a full Catalyst pass at its
# localCheckpoint (toRdd) plus one at the fixpoint count. AQE's
# per-stage re-planning and the runtime bloom-filter injection rule are
# pure overhead on 1-3-partition rounds (measured ~25% of per-round
# wall at sf0.1) and cannot help there: AQE coalesces by bytes on
# already-tiny exchanges, and the bloom rule never fires on
# checkpointed-RDD join sides (no scan to prune). Broadcast planning
# goes too: a lazy localCheckpoint's toRdd blocks on every
# BroadcastExchange build in the round's plan (driver collect +
# rebroadcast, ~2 driver round trips per join per round), while a
# shuffle join over 1-3-partition loop state is a tiny exchange that
# runs inside the round's one counting job. (A/B, interleaved same-box
# 2x2 at sf0.1: scc 7.7/8.4 s lean vs 13.0/10.4 s session-AQE, sssp
# 7.8/8.4 vs 12.5/8.6, k_truss_precore 3.8/4.4 vs 7.1/4.5; mis/lpa
# neutral.) All three are physical-only: join strategy and AQE cannot
# change which rows meet, and the loops admitted to the scope either
# aggregate order-insensitively (min / count / mode / bool-or) or sum
# in their fixed layout's order (PageRank), so results cannot move.
_NARROW_LOOP_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def _loop_shuffle_scope(spark, parts: int | None):
    """Scope ``spark.sql.shuffle.partitions`` to a loop's
    stats-derived task count (``graph._edge_partitions``, or a rank
    layout's width) for the duration of its per-round jobs, with AQE,
    the runtime bloom rule and broadcast joins off
    (``_NARROW_LOOP_CONF``). AQE coalesces one-shot queries' tiny
    shuffles by bytes, but a fixpoint loop pays the map-side width and
    checkpoint-materialization task count EVERY round, and those are
    set by the session conf, not by AQE: on a small graph 32-wide
    rounds are pure scheduling overhead (measured -33%/-36% on scc/bfs
    wall at sf0.1). The scope does nothing when ``parts`` is None or
    not below the session width: at production scale the stats-derived
    count reaches the session default, and the scope only ever
    narrows. Built on :func:`session.conf_scope`, which restores the
    session's values even on error and serializes scopes across
    threads; the width is read under its lock.

    The width may only move results when a round's aggregate depends
    on partial-aggregation order, i.e. when it sums floats. Exact
    min / mode / count / bool-or loops on ids narrow freely. The graph
    round driver (``graph._fixpoint``) opens this scope only when no
    field of its round frame is float or double, so hits keeps the
    session setting.
    PageRank (:func:`_rank_loop`) may narrow: its map side is the
    fixed :func:`_laid_out` layout, streamed in id order through every
    round's partial sum, and narrowing to the layout's own width is
    what keeps a round from re-hashing it into session-width buckets."""
    with CONF_LOCK:
        narrow = parts is not None and parts < shuffle_partitions(spark)
        settings = {SHUFFLE_PARTITIONS: str(parts), **_NARROW_LOOP_CONF}
        with conf_scope(spark, settings if narrow else {}):
            yield


class PregelNotConverged(RuntimeError):
    """An iterative graph loop hit ``max_iter`` before its fixpoint."""


def _nonconvergence(label: str, max_iter: int, on_max_iter: str) -> None:
    msg = (
        f"{label}: no fixpoint after max_iter={max_iter} rounds — "
        "the returned state is the last iterate, not the converged "
        "result. Raise max_iter (rounds scale with graph diameter / "
        "peel depth) or pass on_max_iter='ignore' to accept it."
    )
    if on_max_iter == "raise":
        raise PregelNotConverged(msg)
    if on_max_iter != "ignore":
        warnings.warn(msg, RuntimeWarning, stacklevel=4)


def _on_driver(
    edges: DataFrame, cols: str, kernel, on_max_iter: str
) -> tuple[DataFrame, int]:
    """Run a whole small-graph loop on the driver: the one small-graph
    runner of cc, scc and parity PageRank. Returns ``(result, N)``: the
    result has an ``id`` column of the edges' id type, then ``cols``
    (DDL, ``{id}`` standing for that type); N counts the distinct ids,
    a null id as one.

    The edge list is collected once (``toPandas``, one job). The
    non-null endpoint ids are factorized with ``np.unique``, which
    sorts, so code order is id order (Python's code-point order on
    ``str`` equals Spark's UTF-8 byte order). ``kernel(uniq, src, dst,
    has_null)``, a numpy copy of a distributed loop, round for round,
    runs on the edges with both ends non-null; it returns ``(rows,
    log)``, rows a pandas frame of the result's columns. Its log lists
    each inner loop as ``[label, max_iter, rounds, converged]``, and
    is replayed: one ``runtime_counters.note_round`` per round, so
    ``rounds_total`` keeps its meaning, and the same warning or error,
    at the same point, as the distributed loop would give. The rows
    become a local frame (with Arrow on, a ``LocalRelation`` that
    Catalyst can size).

    Callers take this path only when :func:`_fits_one_task` says so:
    the edge list then fits one ~1 MB task by Catalyst's estimate,
    which bounds what the driver holds. Null ids cannot reach pandas
    as float64: each endpoint travels as a non-null value plus a null
    flag."""
    t = edges.schema["src"].dataType
    zero = F.lit("" if t == StringType() else 0).cast(t)
    pdf = edges.select(
        F.coalesce("src", zero).alias("src"),
        F.coalesce("dst", zero).alias("dst"),
        F.isnull("src").alias("sn"),
        F.isnull("dst").alias("dn"),
    ).toPandas()
    m = len(pdf)
    ends = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    null = np.concatenate([pdf["sn"].to_numpy(bool), pdf["dn"].to_numpy(bool)])
    uniq, codes = np.unique(ends[~null], return_inverse=True)
    full = np.full(2 * m, -1)
    full[~null] = codes
    src, dst = full[:m], full[m:]
    both = (src >= 0) & (dst >= 0)
    has_null = bool(null.any())
    rows, log = kernel(uniq, src[both], dst[both], has_null)
    for label, limit, rounds, converged in log:
        for _ in range(rounds):
            runtime_counters.note_round()
        if not converged:
            _nonconvergence(label, limit, on_max_iter)
    schema = f"id {{id}}, {cols}".format(id=t.simpleString())
    return edges.sparkSession.createDataFrame(rows, schema), len(uniq) + has_null


def adjacency_from_edges(edges: DataFrame) -> DataFrame:
    """Edges ``(src, dst)`` → adjacency ``(id, outlinks array)``.

    The Spark form of the reference's tab-packed adjacency build
    (``RedLinksReducer``, ``PageRank.java:175-200``): a first-class
    ``array<>`` column instead of a tab-joined string. ``sort_array``
    makes the result deterministic (the reference inherits arbitrary
    shuffle order).
    """
    e = edges.select("src", "dst")
    # per-src dedup, as the reference's HashSet (PageRank.java:91-93)
    agg = F.array_sort(F.collect_set("dst"))
    return e.groupBy(F.col("src").alias("id")).agg(agg.alias("outlinks"))


def _vertices(edges: DataFrame) -> DataFrame:
    """Every id that appears as a ``src`` or a ``dst``."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _with_dangling(adjacency: DataFrame, vertices: DataFrame) -> DataFrame:
    """Ensure every vertex has an adjacency row (possibly empty array).

    The reference guarantees this structurally: every page emits a
    ``(title,"!")`` marker (``PageRank.java:80``) so dangling pages
    still appear with an empty outlink list (``PageRank.java:196-197``).
    """
    v = vertices.select(F.col(vertices.columns[0]).alias("id")).distinct()
    return (
        v.join(adjacency, "id", "left")
        .select("id", F.coalesce("outlinks", F.array().cast("array<string>")).alias("outlinks"))
    )


@contextmanager
def _cached(df: DataFrame, wanted: bool):
    """Yield ``df``, cached while the block is open when ``wanted``. A
    frame the caller has cached already is left as it is: its cache is
    the caller's to drop."""
    if not wanted or df.storageLevel != StorageLevel.NONE:
        yield df
        return
    try:
        yield df.cache()
    finally:
        df.unpersist()


@contextmanager
def _laid_out(adjacency: DataFrame):
    """Lay the static side of every round's join out once: partition
    on id, cache, count N (the driver-side scalar of
    ``PageRank.java:470-471``), then right-size. Now that N is known, a
    graph far smaller than shuffle_parts x ROWS_PER_ITER_TASK is
    re-laid (tiny, already materialized) onto fewer partitions, each
    sorted by id, so the loop isn't dominated by empty-task
    scheduling; :func:`_rank_loop` then runs its rounds at that width,
    and the id sort fixes the order in which every round streams the
    adjacency into its partial sums. Yields ``(adjacency, N)``.

    The cache entry is dropped when the block exits, so a result drawn
    from the layout must be materialized inside it, as
    :func:`_rank_loop`'s are. A layout as wide as the session stays a
    cached frame while the block is open: its hash partitioning lets
    every round join the rank state without re-shuffling it, which an
    eager ``localCheckpoint`` would not keep."""
    shuffle_parts = shuffle_partitions(adjacency.sparkSession)
    cached = adjacency.repartition(shuffle_parts, "id").cache()
    try:
        n = cached.count()
        parts = _iter_partitions(n, shuffle_parts)
        if not n or parts >= shuffle_parts:
            yield cached, n
            return
        laid = (
            cached.repartition(parts, "id")
            .sortWithinPartitions("id")
            .localCheckpoint(eager=True)
        )
        cached.unpersist()
        yield laid, n
    finally:
        cached.unpersist()


def _narrow_width(adjacency: DataFrame) -> int | None:
    """A :func:`_laid_out` adjacency's partition count when it is
    narrower than the session: :func:`_rank_loop` then runs its rounds
    at that width and returns a materialized result. None otherwise."""
    parts = adjacency.rdd.getNumPartitions()
    return parts if parts < shuffle_partitions(adjacency.sparkSession) else None


def _rank_loop(
    adjacency: DataFrame,
    step,
    seed: DataFrame | float,
    n_iter: int,
    absent: float | None,
) -> DataFrame:
    """Run ``n_iter`` rounds of ``ranks = step(rows, ranks)`` over a
    :func:`_laid_out` adjacency; returns ``(id, rank)``.

    ``seed`` is the round-0 state: an ``(id, rank)`` frame (a saved
    state when resuming), or a rank every vertex starts at — then
    round 0 reads the adjacency itself, with no join. ``rows`` is the
    state joined onto the adjacency. With ``absent`` a vertex missing
    from the state holds that rank (left join + coalesce), so the
    state need carry only message receivers — one join per round, no
    dense left-join-back — and the result is densified the same way.
    With ``absent`` None the join is inner (a vertex outside the state
    sends nothing) and the state is returned as it is.

    A layout narrower than the session runs every round, and the
    result, at the layout's width (:func:`_loop_shuffle_scope`), and
    each round's join builds its hash table from the rank side
    (``shuffle_hash``). The adjacency is then never re-shuffled: it
    streams through the round's partial sums in its id-sorted layout
    order, so each vertex adds its incoming contributions in (source
    id, target id) order whatever the session width — on a
    one-partition layout as one sequential sum, which
    :func:`_rank_kernel` repeats bit for bit.

    The result is materialized with one eager ``localCheckpoint``,
    inside the scope: Spark reads the width when a plan runs, and the
    result must not need the layout once :func:`_laid_out`'s block has
    dropped its cache.

    Every ``CHECKPOINT_EVERY`` rounds but the last, the state is
    truncated with a LAZY ``localCheckpoint`` so the plan doesn't grow
    unboundedly: the final action materializes the chain in order
    anyway, and an eager barrier would cost one extra synchronous job
    round-trip per interval. A step marked ``reads_state`` (corrected
    mode, which reads the state twice a round) is truncated every
    round instead."""
    parts = _narrow_width(adjacency)
    narrow = parts is not None
    every = 1 if getattr(step, "reads_state", False) else CHECKPOINT_EVERY
    ranks = seed
    with _loop_shuffle_scope(adjacency.sparkSession, parts):
        for i in range(n_iter):
            if isinstance(ranks, float):
                rows = adjacency.withColumn("rank", F.lit(ranks))
            else:
                rows = adjacency.join(
                    ranks.hint("shuffle_hash") if narrow else ranks,
                    "id",
                    "inner" if absent is None else "left",
                )
                if absent is not None:
                    rows = rows.withColumn("rank", F.coalesce("rank", F.lit(absent)))
            ranks = step(rows, ranks)
            runtime_counters.note_round(ranks)
            if (i + 1) % every == 0 and i + 1 < n_iter:
                ranks = ranks.localCheckpoint(eager=False)
        if isinstance(ranks, float):
            out = adjacency.select("id", F.lit(ranks).alias("rank"))
        elif absent is None:
            out = ranks
        else:
            out = adjacency.select("id").join(ranks, "id", "left").select(
                "id", F.coalesce("rank", F.lit(absent)).alias("rank")
            )
        return out.localCheckpoint(eager=True)


def _teleport_step(contribs, teleport: float):
    """The uniform/weighted round: each message receiver gets
    ``teleport + d·Σ contrib`` over ``contribs(rows)`` = ``(id, contrib)``."""

    def step(rows: DataFrame, _ranks) -> DataFrame:
        return (
            contribs(rows)
            .groupBy("id")
            .agg(F.sum("contrib").alias("insum"))
            .select(
                "id",
                (F.lit(teleport) + F.lit(DAMPING) * F.col("insum")).alias("rank"),
            )
        )

    return step


def _uniform_contribs(rows: DataFrame) -> DataFrame:
    return rows.select(
        F.explode("outlinks").alias("id"),
        (F.col("rank") / F.col("outdeg")).alias("contrib"),
    )


def pagerank(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    parity: bool = True,
) -> DataFrame:
    """Run ``n_iter`` PageRank iterations; returns ``(id, rank)``."""
    ranks, _ = pagerank_with_n(
        edges,
        vertices=vertices,
        n_iter=n_iter,
        parity=parity,
    )
    return ranks


def pagerank_with_n(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    parity: bool = True,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Run ``n_iter`` PageRank iterations; returns ``((id, rank), N)``.

    ``edges`` must have string-ish columns ``src, dst``. ``vertices``
    (optional, single column) adds rank-holding nodes with no outgoing
    edges; when omitted, the vertex set is all nodes appearing as a
    ``src`` or ``dst`` (so dangling link targets still hold rank, as in
    the reference where the semi-join restricts dsts to real pages).
    N (the vertex count) is computed once as part of the run — callers
    needing it for thresholds (rank > k/N) should use this instead of
    re-counting.

    ``init_ranks`` (optional ``(id, rank)``) RESUMES the recurrence
    from a saved state instead of the uniform 1/N seed — the
    checkpoint/restart path an hours-long 100 TB run needs: persist
    ranks every K iterations with ``df.write.parquet``, and on
    preemption resume with the remaining iteration budget. Resuming
    is exact: iterations are a pure function of (adjacency, ranks),
    so k iterations from a saved state after j iterations equal
    j + k straight iterations (unit-pinned and oracle-gated as
    ``pagerank_resume``).

    This is the one snapshot of :func:`_rank_runs` after ``n_iter``
    rounds, so a small parity run runs on the driver under the rule
    stated there, with the same ranks, N and round count.
    """
    ((_, ranks, n),) = _rank_runs(
        edges,
        (n_iter,),
        vertices=vertices,
        parity=parity,
        init_ranks=init_ranks,
    )
    return ranks, n


def pagerank_snapshots(edges: DataFrame, iters):
    """Yield ``(k, ranks, N)`` after each ``k`` of ``iters``
    (ascending) rounds of ONE parity run, the way the reference writes
    its iteration-1 snapshot from inside its 8-round run
    (``PageRank.java:480-487,492-497``). Each ``ranks`` equals
    :func:`pagerank_with_n`'s for ``n_iter=k`` bit for bit. The next
    stretch reads each ``ranks`` instead of recomputing its rounds:
    :func:`_rank_loop` has already materialized it."""
    return _rank_runs(edges, tuple(iters))


_RANK_COLS = "k int, rank double"


def _rank_runs(
    edges: DataFrame,
    iters: tuple,
    *,
    vertices: DataFrame | None = None,
    parity: bool = True,
    init_ranks: DataFrame | None = None,
):
    """The one rank run behind :func:`pagerank_with_n` and
    :func:`pagerank_snapshots`: yield ``(k, ranks, N)`` after each
    ``k`` of ``iters`` (ascending) rounds. The adjacency is laid out and
    N counted once, and each stretch of rounds resumes from the previous
    snapshot's ranks on that same layout; resuming is exact. Each
    snapshot is materialized before it is yielded, and the layout's
    cache is dropped when the run is exhausted or closed. With no
    ``vertices`` the layout build reads the edges twice, so they are
    cached for it (:func:`_cached`) and dropped with the layout.

    A parity run with no ``vertices`` or ``init_ranks`` on an edge list
    that fits one task (:func:`_fits_one_task`, the rule cc and scc
    use) runs all its rounds on the driver (:func:`_on_driver`,
    :func:`_rank_kernel`) before the first yield. Its result is
    ``coalesce(1)``'d: that changes no row, and the frame then reports
    one partition, so a caller's global sort needs no range shuffle."""
    one_task = parity and vertices is None and init_ranks is None
    if iters and one_task and _fits_one_task(edges, doubled=False):
        kernel = partial(_rank_kernel, iters)
        out, n = _on_driver(edges, _RANK_COLS, kernel, "ignore")
        out = out.coalesce(1)
        for k in iters:
            yield k, out.where(F.col("k") == k).select("id", "rank"), n
        return
    with (
        _cached(edges, vertices is None),
        _laid_out(
            _with_dangling(
                adjacency_from_edges(edges),
                _vertices(edges) if vertices is None else vertices,
            )
        ) as (adjacency, n),
    ):
        if n == 0:
            for k in iters:
                yield k, edges.sparkSession.createDataFrame([], _NO_RANKS), 0
            return
        adjacency = adjacency.withColumn("outdeg", F.size("outlinks"))
        teleport = (1.0 - DAMPING) / n
        ranks = 1.0 / n if init_ranks is None else init_ranks.select("id", "rank")
        if parity:
            step, absent = _teleport_step(_uniform_contribs, teleport), teleport
        else:
            # Corrected mode: dangling mass is redistributed uniformly each
            # iteration. The mass is a 1-row aggregate broadcast back via
            # crossJoin — kept lazy (a per-iteration collect() would
            # re-execute the whole lineage from scratch every iteration).
            #
            # Unlike the parity loop, each iteration consumes `ranks` TWICE
            # (contribution fan-out + dangling-mass sum), so without a
            # barrier the lineage doubles per iteration (2^k plan blowup
            # between checkpoints — measured as a 100-exchange final plan at
            # k=4). A lazy localCheckpoint per iteration bounds the plan to
            # one iteration's shape; the final action materializes the chain
            # in order, which is exactly the per-iteration work anyway.
            # The dangling-vertex set is a static property of the adjacency —
            # compute the id list once, not from the per-iteration join.
            ids = adjacency.select("id")
            dangling = adjacency.where(F.col("outdeg") == 0).select("id")

            def step(rows: DataFrame, ranks: DataFrame) -> DataFrame:
                extra = ranks.join(dangling, "id", "left_semi").agg(
                    (F.lit(DAMPING) * F.coalesce(F.sum("rank"), F.lit(0.0)) / n).alias("extra")
                )
                summed = _uniform_contribs(rows).groupBy("id").agg(F.sum("contrib").alias("insum"))
                return (
                    ids.join(summed, "id", "left")
                    .crossJoin(F.broadcast(extra))
                    .select(
                        "id",
                        (
                            F.lit(teleport)
                            + F.lit(DAMPING) * F.coalesce(F.col("insum"), F.lit(0.0))
                            + F.col("extra")
                        ).alias("rank"),
                    )
                )

            step.reads_state, absent = True, None
            if isinstance(ranks, float):
                ranks = ids.select("id", F.lit(ranks).alias("rank"))
        done = 0
        for k in iters:
            ranks = _rank_loop(adjacency, step, ranks, k - done, absent)
            done = k
            yield k, ranks, n


def _rank_kernel(iters: tuple, uniq, src, dst, has_null: bool):
    """The parity rounds on the driver (:func:`_on_driver`): ``(id, k,
    rank)`` rows for each ``k`` of ``iters``, and the round log. The
    same float operations as :func:`_uniform_contribs` and
    :func:`_teleport_step`, in the order the distributed loop adds them
    (:func:`_rank_loop`).

    Only edges with both ends non-null send rank, each distinct edge
    once (the adjacency's ``collect_set``). ``np.unique`` returns them
    in (source, target) code order, which is (source id, target id)
    order, and ``np.add.at`` adds each target's contributions in that
    order, one at a time from 0.0, as a one-partition partial sum does.
    The null id counts in N, sends and receives nothing, and so reads
    as the teleport rank after a round. With N = 0 no round runs and
    no row is returned."""
    import pandas as pd

    n = len(uniq) + has_null
    if not n:
        return pd.DataFrame(columns=["id", "k", "rank"]), []
    src, dst = np.unique(np.stack([src, dst]), axis=1)
    div = np.bincount(src, minlength=len(uniq))[src]
    ids = np.append(uniq.astype(object), [None] * has_null)
    rank, frames, done = np.full(n, 1.0 / n), [], 0
    for k in iters:
        for _ in range(k - done):
            insum = np.zeros(n)
            np.add.at(insum, dst, rank[src] / div)
            rank = (1.0 - DAMPING) / n + DAMPING * insum
        done = k
        frames.append(pd.DataFrame({"id": ids, "k": k, "rank": rank}))
    return pd.concat(frames, ignore_index=True), [["pagerank", done, done, True]]


def top_ranks(
    ranks: DataFrame,
    n: int,
    *,
    threshold: float | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Reference job 12/13: filter ``rank > 5/N`` then global desc sort.

    ``FlipComparator`` (``PageRank.java:399-419``) exists only to make
    Hadoop's shuffle sort descending; in Spark this is
    ``orderBy(desc)`` (range-partitioned total sort), and with a
    ``limit`` Catalyst plans ``TakeOrderedAndProject`` — no full sort
    at all.
    """
    out = ranks
    if threshold is not None:
        out = out.where(F.col("rank") > threshold)  # PageRank.java:336,346
    out = out.orderBy(F.desc("rank"), F.asc("id"))
    if limit is not None:
        out = out.limit(limit)
    return out


def personalized_pagerank(
    edges: DataFrame,
    source: str,
    *,
    n_iter: int = 8,
) -> DataFrame:
    """Personalized PageRank: the teleport mass returns to ``source``
    instead of spreading uniformly — GraphX's
    ``personalizedPageRank`` surface, the relevance-to-a-seed ranking
    used for related-item and local-community queries.

    Update rule (dangling mass lost, matching parity-mode semantics):
    ``r_{i+1}(v) = (1-d)·[v = source] + d·Σ_{u→v} r_i(u)/deg(u)``,
    seeded ``r_0 = [v = source]``. Ranks are SPARSE throughout: a
    vertex untouched by propagation holds exactly 0 and never enters
    the iteration shuffle — on a 100 TB graph the frontier grows from
    1 vertex outward, so early iterations ship only the seed's
    neighborhood instead of the whole vertex set (the uniform variant
    cannot do this; its baseline is nonzero everywhere).
    """
    spark = edges.sparkSession
    seed = spark.createDataFrame([(source,)], "id string")
    base = seed.select("id", F.lit(1.0 - DAMPING).alias("rank"))

    def step(rows: DataFrame, _ranks) -> DataFrame:
        # teleport lands only on the source; propagated mass unions in
        # and the per-vertex sum collapses both — still sparse
        contribs = rows.select(
            F.explode("outlinks").alias("id"),
            (F.col("rank") / F.size("outlinks") * DAMPING).alias("rank"),
        )
        return (
            base.unionByName(contribs)
            .groupBy("id")
            .agg(F.sum("rank").alias("rank"))
        )

    layout = _laid_out(_with_dangling(adjacency_from_edges(edges), _vertices(edges)))
    with layout as (adjacency, n):
        if n == 0:
            return spark.createDataFrame([], _NO_RANKS)
        ranks = seed.select("id", F.lit(1.0).alias("rank"))
        return _rank_loop(adjacency, step, ranks, n_iter, None)


def weighted_pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 8,
) -> DataFrame:
    """PageRank over WEIGHTED edges ``(src, dst, weight)`` — GraphX
    normalizes outgoing edge weights and ships rank proportionally
    (``r(v) = (1-d)/N + d·Σ r(u)·w(u,v)/W(u)``); the uniform variant
    is the special case of all-equal weights. Natural weights at
    corpus scale: link multiplicity, click counts, co-occurrence
    frequencies.

    Same loop as the uniform parity mode: the weighted adjacency
    (id → array<struct<dst, wfrac>>) is built once with weights
    pre-normalized (the per-iteration join never re-aggregates W(u)),
    laid out by :func:`_laid_out`; the state is sparse and dangling
    mass is lost (parity-mode semantics)."""
    w_edges = edges.groupBy("src", "dst").agg(
        F.sum("weight").alias("w")
    )
    # aliased self-derived join: tot shares w_edges' lineage, so bare
    # column refs to `w` would resolve ambiguously
    tot = w_edges.groupBy("src").agg(F.sum("w").alias("W"))
    outs = (
        w_edges.alias("we")
        .join(tot.alias("tt"), F.col("we.src") == F.col("tt.src"))
        .select(
            F.col("we.src").alias("id"),
            F.struct(
                F.col("we.dst").alias("dst"),
                (F.col("we.w") / F.col("tt.W")).alias("wfrac"),
            ).alias("out"),
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("out")).alias("outs"))
    )

    def contribs(rows: DataFrame) -> DataFrame:
        return rows.select(F.explode("outs").alias("o"), "rank").select(
            F.col("o.dst").alias("id"),
            (F.col("rank") * F.col("o.wfrac")).alias("contrib"),
        )

    layout = _laid_out(
        _vertices(edges).join(outs, "id", "left").select(
            "id", F.coalesce("outs", F.array()).alias("outs")
        )
    )
    with layout as (adjacency, n):
        if n == 0:
            return edges.sparkSession.createDataFrame([], _NO_RANKS)
        teleport = (1.0 - DAMPING) / n
        step = _teleport_step(contribs, teleport)
        return _rank_loop(adjacency, step, 1.0 / n, n_iter, teleport)

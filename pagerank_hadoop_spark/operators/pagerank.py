"""Iterative PageRank as one DataFrame fixed-point loop.

Reference semantics (the reference's ``PageRank.java``):

* 8 fixed iterations driven from ``main`` (``PageRank.java:473-488``);
  each Hadoop iteration re-reads and rewrites the full graph+rank state
  from/to HDFS. Here the loop body is a lazy
  ``join → explode → groupBy.agg`` plan over a cached adjacency — state
  never leaves memory; ``localCheckpoint`` every few iterations bounds
  lineage/plan growth (the Spark-idiomatic replacement for the
  reference's per-iteration disk materialization).
* iteration-0 seeding: every page starts at ``1/N``
  (``PageRank.java:258-264``).
* update rule: ``rank' = 0.15/N + 0.85 * Σ incoming rank/outdeg``
  (``PageRank.java:305,316``). Every page receives the ``0.15/N``
  baseline even with no in-links, because the reference ships each
  page's adjacency row to itself (``PageRank.java:281``).
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
merged). A layout at the full session width, and a chunked one, get
no fixed order. A small parity run
with string ids (:func:`_fits_one_task`, which fails closed) runs all
its rounds in ONE Python task instead (:func:`_ranks_in_one_task`):
a numpy loop that adds in the same order, so its ranks equal the
distributed loop's bit for bit. Its rounds are bound by scheduling,
not data: one job runs them all. Resumed, chunked, corrected,
personalized and weighted runs stay distributed.

The module also holds the small-graph probe (:func:`_fits_one_task`)
and the loop-width scope (:func:`_loop_shuffle_scope`) that the graph
loops of ``operators/graph.py`` share.

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
* No ``collect()`` of rank state; the only driver-side scalar is N
  (same round-trip the reference does via a Hadoop counter,
  ``PageRank.java:470-471``).
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import IntegralType, StringType

from pagerank_hadoop_spark import runtime_counters
from pagerank_hadoop_spark.session import plan_bytes

DAMPING = 0.85

# target vertices per task in iterative loops: small graphs collapse to
# a handful of partitions (32 near-empty tasks per iteration is pure
# scheduler overhead — measured 2x on the sf0.1 bench); a 1e9-vertex
# graph still fans out to ~10k tasks, far above any shuffle_partitions
# default, and AQE coalesces from there
ROWS_PER_ITER_TASK = 100_000

_NO_RANKS = "id string, rank double"


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions``; 32 when it is
    not an integer (e.g. ``auto`` on auto-tuning platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (ValueError, TypeError):
        return 32


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
    """Whether a loop over ``edges`` may run whole in one task
    (``graph._in_one_task``, :func:`_ranks_in_one_task`): both id
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


@contextmanager
def _loop_shuffle_scope(spark, parts: int | None):
    """Scope ``spark.sql.shuffle.partitions`` to a loop's
    stats-derived task count (``graph._edge_partitions``, or a rank
    layout's width) for the
    duration of its per-round jobs. AQE coalesces one-shot queries'
    tiny shuffles by bytes, but a fixpoint loop pays the map-side
    width and checkpoint-materialization task count EVERY round, and
    those are set by the session conf, not by AQE — on a small graph
    32-wide rounds are pure scheduling overhead (measured -33%/-36%
    on scc/bfs wall at sf0.1). At production scale the stats-derived
    count reaches the session default and this is a no-op; it only
    ever narrows, never widens. Restores the session value even on
    error.

    The width may only move results when a round's aggregate depends
    on partial-aggregation order, i.e. when it sums floats. Exact
    min / mode / count / bool-or loops on ids narrow freely. The graph
    round driver (``graph._fixpoint``) opens this scope only when no
    field of its round frame is float or double, so hits keeps the
    session setting.
    PageRank (:func:`_rank_loop`) may narrow: its map side is the
    fixed :func:`_laid_out` layout, streamed in id order through every
    round's partial sum, and narrowing to the layout's own width is
    what keeps a round from re-hashing it into session-width buckets.

    NOT thread-safe: this mutates the session-global conf, so any
    concurrent query on the same SparkSession silently plans its
    shuffles at the narrowed width for the scope's duration (results
    unaffected — the conf is a task-count knob — but a wide query
    would run under-parallel). The repo's bench/driver/test paths are
    single-threaded per session; wrap concurrent use in a dedicated
    child session (``spark.newSession()``) instead."""
    if parts is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    try:
        current = int(spark.conf.get(key, "32"))
    except (ValueError, TypeError):  # e.g. "auto"
        yield
        return
    if parts >= current:
        yield
        return
    # In the narrowed (small-graph) regime the loop's wall is driver
    # planning, not data: every round pays a full Catalyst pass at its
    # localCheckpoint (toRdd) plus one at the fixpoint count. AQE's
    # per-stage re-planning and the runtime bloom-filter injection
    # rule are pure overhead on 1-3-partition rounds (measured ~25%
    # of per-round wall at sf0.1) and physically cannot help there —
    # AQE coalesces by bytes on already-tiny exchanges and the bloom
    # rule never fires on checkpointed-RDD join sides (no scan to
    # prune). Scope them off WITH the width narrowing: the same
    # stats-derived condition that says "this graph is small" says
    # "these rules cannot pay here". At production scale parts >=
    # current, the scope is a no-op, and AQE skew-splitting + runtime
    # filters stay on.
    # (A/B evidence, interleaved same-box 2x2 at sf0.1: scc 7.7/8.4 s
    # lean vs 13.0/10.4 s session-AQE, sssp 7.8/8.4 vs 12.5/8.6,
    # k_truss_precore 3.8/4.4 vs 7.1/4.5; mis/lpa neutral.)
    # The same regime also stops PLANNING broadcast joins. A lazy
    # localCheckpoint's toRdd blocks on every BroadcastExchange build
    # in the round's plan (driver collect + rebroadcast, ~2 driver
    # round trips per join per round), while a shuffle join over
    # 1-3-partition loop state is a tiny exchange that executes
    # lazily inside the round's one counting job.
    # All three knobs are physical-only: join strategy and AQE cannot
    # change which rows meet, and the loops admitted to this scope
    # either aggregate order-insensitively (min / count / mode /
    # bool-or) or sum in their fixed layout's order (PageRank), so
    # results cannot move.
    aqe_key = "spark.sql.adaptive.enabled"
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_aqe = spark.conf.get(aqe_key, "true")
    prev_bloom = spark.conf.get(bloom_key, "true")
    prev_bcast = spark.conf.get(bcast_key, "10485760b")
    # every set happens INSIDE the try: if any one throws, finally
    # restores whatever was already applied (prev values are captured
    # above) instead of leaving the session narrowed for its lifetime
    try:
        spark.conf.set(key, str(parts))
        spark.conf.set(aqe_key, "false")
        spark.conf.set(bloom_key, "false")
        spark.conf.set(bcast_key, "-1")
        yield
    finally:
        spark.conf.set(key, str(current))
        spark.conf.set(aqe_key, prev_aqe)
        spark.conf.set(bloom_key, prev_bloom)
        spark.conf.set(bcast_key, prev_bcast)


def adjacency_from_edges(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Edges ``(src, dst)`` → adjacency ``(id, outlinks array)``.

    The Spark form of the reference's tab-packed adjacency build
    (``RedLinksReducer``, ``PageRank.java:175-200``): a first-class
    ``array<>`` column instead of a tab-joined string. ``sort_array``
    makes the result deterministic (the reference inherits arbitrary
    shuffle order).
    """
    e = edges.select("src", "dst")
    if dedup:
        # per-src dedup, as the reference's HashSet (PageRank.java:91-93)
        agg = F.array_sort(F.collect_set("dst"))
    else:
        agg = F.array_sort(F.collect_list("dst"))
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


_FANOUT_SALTS = 8


def _chunked_adjacency(
    adjacency: DataFrame, max_fanout: int, parts: int
) -> DataFrame:
    """Split each vertex's outlinks into rows of ≤ ``max_fanout``
    elements, keeping the TRUE out-degree in ``outdeg`` (the contrib
    divisor). A hub holding 20 % of all edges otherwise fans out all
    its messages from ONE task — explode output stays in the
    producing task's partition, so no downstream setting can spread
    it; splitting must happen at layout time. Rows carry
    ``__chunk`` (0..k-1; chunk 0 doubles as the unique-vertex marker
    for final joins) and a bounded ``__salt`` the persistent
    partitioning AND the per-round join key include, so hub chunks
    land on ``_FANOUT_SALTS`` different partitions and stay there
    across rounds (rank frames replicate once per salt — (id, double)
    pairs, cheap against the hot key's edge volume)."""
    # Empty-chunk literal must match the caller's element type — a
    # pre-built adjacency may carry non-string vertex ids, and a
    # hardcoded array<string> makes when/otherwise raise an opaque
    # AnalysisException.
    outlinks_type = adjacency.schema["outlinks"].dataType.simpleString()
    chunks = F.when(
        F.size("outlinks") > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("outlinks") / F.lit(max_fanout)).cast("int")
                - 1,
            ),
            lambda i: F.slice("outlinks", i * max_fanout + 1, max_fanout),
        ),
        # guard: sequence(0, -1) generates DESCENDING; empty outlink
        # rows (dangling) keep exactly one empty chunk
    ).otherwise(F.array(F.array().cast(outlinks_type)))
    return (
        adjacency.select(
            "id",
            F.size("outlinks").alias("outdeg"),
            F.posexplode(chunks).alias("__chunk", "outlinks"),
        )
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64("id", "__chunk"), F.lit(_FANOUT_SALTS)),
        )
        .repartition(parts, "id", "__salt")
        .localCheckpoint(eager=True)
    )


def _with_salt_replicas(ranks: DataFrame) -> DataFrame:
    return ranks.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_FANOUT_SALTS - 1)))
    )


def _laid_out(
    adjacency: DataFrame, max_fanout: int | None = None
) -> tuple[DataFrame, int]:
    """Lay the static side of every round's join out once: partition
    on id, cache, count N (the driver-side scalar of
    ``PageRank.java:470-471``), then right-size. Now that N is known, a
    graph far smaller than shuffle_parts x ROWS_PER_ITER_TASK is
    re-laid (tiny, already materialized) onto fewer partitions, each
    sorted by id, so the loop isn't dominated by empty-task
    scheduling; :func:`_rank_loop` then runs its rounds at that width,
    and the id sort fixes the order in which every round streams the
    adjacency into its partial sums. ``max_fanout`` splits hot rows at
    layout time instead (:func:`_chunked_adjacency`). Returns
    ``(adjacency, N)``."""
    shuffle_parts = shuffle_partitions(adjacency.sparkSession)
    cached = adjacency.repartition(shuffle_parts, "id").cache()
    n = cached.count()
    parts = _iter_partitions(n, shuffle_parts)
    if n and max_fanout:
        laid = _chunked_adjacency(cached, max_fanout, parts)
    elif n and parts < shuffle_parts:
        laid = (
            cached.repartition(parts, "id")
            .sortWithinPartitions("id")
            .localCheckpoint(eager=True)
        )
    else:
        return cached, n
    cached.unpersist()
    return laid, n


def _ids(adjacency: DataFrame) -> DataFrame:
    """One row per vertex. A chunked adjacency repeats hot ids, so its
    chunk 0 is the unique-vertex marker (no distinct — a
    co-partitioned filter, not a shuffle)."""
    if "__chunk" in adjacency.columns:
        adjacency = adjacency.where(F.col("__chunk") == 0)
    return adjacency.select("id")


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
    checkpoint_interval: int,
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
    sends nothing) and the state is returned as it is. A chunked
    adjacency keys the join on (id, salt) against salt-replicated rank
    frames, so its persistent layout is the join layout and hub chunks
    never re-co-locate.

    A layout narrower than the session runs every round, and the
    result, at the layout's width (:func:`_loop_shuffle_scope`), and
    each round's join builds its hash table from the rank side
    (``shuffle_hash``). The adjacency is then never re-shuffled: it
    streams through the round's partial sums in its id-sorted layout
    order, so each vertex adds its incoming contributions in (source
    id, target id) order whatever the session width — on a
    one-partition layout as one sequential sum, which
    :func:`_rank_frame` repeats bit for bit. Spark reads the width
    when a plan runs, so the result is materialized inside the scope
    with one eager ``localCheckpoint``.

    Every ``checkpoint_interval`` rounds but the last, the state is
    truncated with a LAZY ``localCheckpoint`` so the plan doesn't grow
    unboundedly: the final action materializes the chain in order
    anyway, and an eager barrier would cost one extra synchronous job
    round-trip per interval."""
    parts = _narrow_width(adjacency)
    narrow = parts is not None
    salted = "__salt" in adjacency.columns
    ranks = seed
    with _loop_shuffle_scope(adjacency.sparkSession, parts):
        for i in range(n_iter):
            if isinstance(ranks, float):
                rows = adjacency.withColumn("rank", F.lit(ranks))
            else:
                side = _with_salt_replicas(ranks) if salted else ranks
                rows = adjacency.join(
                    side.hint("shuffle_hash") if narrow else side,
                    ["id", "__salt"] if salted else "id",
                    "inner" if absent is None else "left",
                )
                if absent is not None:
                    rows = rows.withColumn("rank", F.coalesce("rank", F.lit(absent)))
            ranks = step(rows, ranks)
            runtime_counters.note_round(ranks)
            if (i + 1) % checkpoint_interval == 0 and i + 1 < n_iter:
                ranks = ranks.localCheckpoint(eager=False)
        if isinstance(ranks, float):
            out = _ids(adjacency).select("id", F.lit(ranks).alias("rank"))
        elif absent is None:
            out = ranks
        else:
            out = _ids(adjacency).join(ranks, "id", "left").select(
                "id", F.coalesce("rank", F.lit(absent)).alias("rank")
            )
        return out.localCheckpoint(eager=True) if narrow else out


def _teleport_step(contribs, teleport: float, damping: float):
    """The uniform/weighted round: each message receiver gets
    ``teleport + d·Σ contrib`` over ``contribs(rows)`` = ``(id, contrib)``."""

    def step(rows: DataFrame, _ranks) -> DataFrame:
        return (
            contribs(rows)
            .groupBy("id")
            .agg(F.sum("contrib").alias("insum"))
            .select(
                "id",
                (F.lit(teleport) + F.lit(damping) * F.col("insum")).alias("rank"),
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
    damping: float = DAMPING,
    parity: bool = True,
    checkpoint_interval: int = 4,
    max_fanout: int | None = None,
) -> DataFrame:
    """Run ``n_iter`` PageRank iterations; returns ``(id, rank)``."""
    ranks, _ = pagerank_with_n(
        edges,
        vertices=vertices,
        n_iter=n_iter,
        damping=damping,
        parity=parity,
        checkpoint_interval=checkpoint_interval,
        max_fanout=max_fanout,
    )
    return ranks


def _rank_layout(
    edges: DataFrame, vertices: DataFrame | None, max_fanout: int | None
) -> tuple[DataFrame, int]:
    """The static side of a rank run over ``edges``: the
    :func:`_laid_out` adjacency (a row for every vertex of
    ``vertices``, all endpoints when None) with its ``outdeg``, and
    N."""
    if vertices is None:
        vertices = _vertices(edges)
    adjacency, n = _laid_out(
        _with_dangling(adjacency_from_edges(edges), vertices), max_fanout
    )
    if n and not max_fanout:  # a chunked adjacency carries the true outdeg
        adjacency = adjacency.withColumn("outdeg", F.size("outlinks"))
    return adjacency, n


def pagerank_with_n(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    damping: float = DAMPING,
    parity: bool = True,
    checkpoint_interval: int = 4,
    init_ranks: DataFrame | None = None,
    max_fanout: int | None = None,
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

    ``max_fanout`` (off by default): cap outlinks-per-adjacency-row by
    chunking hot rows at layout time (``_chunked_adjacency``) — the
    hub-skew escape hatch. A vertex holding 20 % of all edges
    otherwise fans its messages out of ONE task per iteration
    (explode output never leaves the producing task), which bounds
    stage wall at any cluster size. Chunked mode keys the
    per-iteration join on (id, salt) against salt-replicated rank
    frames, so results can differ from the unsalted run in the last
    ulp (partial sums regroup); the registry entries run unchunked.

    A parity run with neither ``init_ranks`` nor ``max_fanout`` on a
    small string-id graph runs in one task (:func:`_ranks_in_one_task`),
    with the same ranks, N and round count.
    """
    one_task = parity and init_ranks is None and not max_fanout
    if one_task and _small_string_graph(edges, vertices):
        ((_, ranks),), n = _ranks_in_one_task(edges, vertices, (n_iter,), damping)
        return ranks, n
    adjacency, n = _rank_layout(edges, vertices, max_fanout)
    if n == 0:
        return edges.sparkSession.createDataFrame([], _NO_RANKS), 0
    teleport = (1.0 - damping) / n
    seed = 1.0 / n if init_ranks is None else init_ranks.select("id", "rank")
    if parity:
        step = _teleport_step(_uniform_contribs, teleport, damping)
        return _rank_loop(
            adjacency, step, seed, n_iter, checkpoint_interval, teleport
        ), n

    # Corrected mode: dangling mass is redistributed uniformly each
    # iteration. The mass is a 1-row aggregate broadcast back via
    # crossJoin — kept lazy (a per-iteration collect() would re-execute
    # the whole lineage from scratch every iteration).
    #
    # Unlike the parity loop, each iteration consumes `ranks` TWICE
    # (contribution fan-out + dangling-mass sum), so without a barrier
    # the lineage doubles per iteration (2^k plan blowup between
    # checkpoints — measured as a 100-exchange final plan at k=4).
    # A lazy localCheckpoint per iteration bounds the plan to one
    # iteration's shape; the final action materializes the chain in
    # order, which is exactly the per-iteration work anyway.
    # The dangling-vertex set is a static property of the adjacency —
    # compute the id list once, not from the per-iteration join.
    ids = _ids(adjacency)
    dangling = adjacency.where(F.col("outdeg") == 0).select("id")

    def corrected(rows: DataFrame, ranks: DataFrame) -> DataFrame:
        extra = ranks.join(dangling, "id", "left_semi").agg(
            (F.lit(damping) * F.coalesce(F.sum("rank"), F.lit(0.0)) / n).alias("extra")
        )
        summed = _uniform_contribs(rows).groupBy("id").agg(F.sum("contrib").alias("insum"))
        return (
            ids.join(summed, "id", "left")
            .crossJoin(F.broadcast(extra))
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("insum"), F.lit(0.0))
                    + F.col("extra")
                ).alias("rank"),
            )
        )

    if isinstance(seed, float):
        seed = ids.select("id", F.lit(seed).alias("rank"))
    return _rank_loop(adjacency, corrected, seed, n_iter, 1, None), n


def pagerank_snapshots(edges: DataFrame, iters):
    """Yield ``(k, ranks, N)`` after each ``k`` of ``iters``
    (ascending) rounds of ONE parity run, the way the reference writes
    its iteration-1 snapshot from inside its 8-round run
    (``PageRank.java:480-487,492-497``): the adjacency is laid out and
    N counted once, and each stretch of rounds resumes from the
    previous snapshot's ranks on that same layout. Resuming is exact,
    so each ``ranks`` equals :func:`pagerank_with_n`'s for
    ``n_iter=k`` bit for bit. The next stretch reads each ``ranks``
    instead of recomputing its rounds: on a narrow layout
    :func:`_rank_loop` has already materialized it; on a wide one it
    is checkpointed lazily, and the caller's first action on it
    materializes it. A small
    string-id graph runs all rounds in one task
    (:func:`_ranks_in_one_task`) before the first yield."""
    iters = tuple(iters)
    if iters and _small_string_graph(edges, None):
        snaps, n = _ranks_in_one_task(edges, None, iters, DAMPING)
        for k, ranks in snaps:
            yield k, ranks, n
        return
    adjacency, n = _rank_layout(edges, None, None)
    if n == 0:
        for k in iters:
            yield k, edges.sparkSession.createDataFrame([], _NO_RANKS), 0
        return
    teleport = (1.0 - DAMPING) / n
    step = _teleport_step(_uniform_contribs, teleport, DAMPING)
    wide = _narrow_width(adjacency) is None
    ranks, done = 1.0 / n, 0
    for k in iters:
        # 4: pagerank_with_n's default checkpoint interval
        ranks = _rank_loop(adjacency, step, ranks, k - done, 4, teleport)
        if wide:
            ranks = ranks.localCheckpoint(eager=False)
        done = k
        yield k, ranks, n


def _small_string_graph(edges: DataFrame, vertices: DataFrame | None) -> bool:
    """Whether a parity run may take :func:`_ranks_in_one_task`: string
    ids, ``edges`` fit one task by :func:`_fits_one_task`, and
    ``vertices``, when given, needs at most one task too. Missing stats
    fail closed."""
    if vertices is not None:
        need = _edge_tasks(vertices, doubled=False)
        if vertices.schema[0].dataType != StringType() or need is None or need > 1:
            return False
    return edges.schema["src"].dataType == StringType() and _fits_one_task(
        edges, doubled=False
    )


_RANK_ROWS = "k int, id string, rank double"


def _ranks_in_one_task(
    edges: DataFrame, vertices: DataFrame | None, iters: tuple, damping: float
) -> tuple[list[tuple[int, DataFrame]], int]:
    """The parity loop for a small graph, all rounds in ONE Python task:
    ``([(k, ranks) for k in iters], N)``.

    The adjacency (:func:`_rank_layout`'s, without the layout) is
    built at width 1 and sent through one
    ``groupBy(lit(0)).applyInPandas`` group, where :func:`_rank_frame`
    runs the rounds and emits ``(k, id, rank)`` for each ``k``. The
    result is checkpointed lazily, and one ``observe(...).count()``
    both materializes it and reads N, so the whole run is one job.
    ``runtime_counters.note_round`` then runs once per round, so
    ``rounds_total`` keeps its meaning. With N = 0 no group runs and
    no round is counted, as on the distributed path."""
    spark = edges.sparkSession
    obs = Observation()
    with _loop_shuffle_scope(spark, 1):
        adjacency = _with_dangling(
            adjacency_from_edges(edges),
            _vertices(edges) if vertices is None else vertices,
        )
        # aliased: a bare integer literal would read as a group-by
        # ordinal. coalesce(1) changes no row; it makes the frame report
        # one partition, so a caller's global sort needs no range shuffle
        out = (
            adjacency.groupBy(F.lit(0).alias("__task"))
            .applyInPandas(partial(_rank_frame, iters, damping), _RANK_ROWS)
            .coalesce(1)
            .localCheckpoint(eager=False)
        )
        out.observe(obs, F.count_if(F.col("k") == iters[0]).alias("n")).count()
    n = obs.get["n"]
    for _ in range(iters[-1] if n else 0):
        runtime_counters.note_round()
    snaps = [(k, out.where(F.col("k") == k).select("id", "rank")) for k in iters]
    return snaps, n


def _rank_frame(iters: tuple, damping: float, pdf):
    """The one task's body: the parity rounds over the adjacency rows
    ``pdf`` (``id``, ``outlinks``), the same float operations as
    :func:`_uniform_contribs` and :func:`_teleport_step`, in the order
    the distributed loop adds them (:func:`_rank_loop`).

    Ids are factorized with ``np.unique``, which sorts, so code order
    is id order (Python's code-point order on ``str`` equals Spark's
    UTF-8 byte order). Contributions are sorted by (source, target)
    code, and ``np.add.at`` adds each target's in that order, one at a
    time from 0.0, as a one-partition partial sum does. A target
    outside the vertex set still counts in its source's out-degree but
    keeps no rank; the null id counts in N, sends and receives
    nothing, and reads as the teleport rank after a round."""
    import pandas as pd

    n = len(pdf)
    ids = pdf["id"].to_numpy(object)
    real = pd.notna(ids)
    uniq, code = np.unique(ids[real], return_inverse=True)
    links = pdf["outlinks"].to_numpy(object)[real]
    deg = np.fromiter(map(len, links), int, len(links))
    outdeg = np.zeros(len(uniq), int)
    outdeg[code] = deg
    src = np.repeat(code, deg)
    targets = np.concatenate([np.empty(0, object), *links])
    dst = np.searchsorted(uniq, targets)
    hit = dst < len(uniq)
    hit[hit] = uniq[dst[hit]] == targets[hit]
    order = np.lexsort((dst[hit], src[hit]))
    src, dst = src[hit][order], dst[hit][order]
    div = outdeg[src]
    teleport = (1.0 - damping) / n
    rank, null_rank = np.full(len(uniq), 1.0 / n), 1.0 / n
    frames, done = [], 0
    for k in iters:
        for _ in range(k - done):
            insum = np.zeros(len(uniq))
            np.add.at(insum, dst, rank[src] / div)
            rank, null_rank = teleport + damping * insum, teleport
        done = k
        frames.append(pd.DataFrame({"k": k, "id": uniq, "rank": rank}))
        if not real.all():
            frames.append(pd.DataFrame({"k": [k], "id": [None], "rank": [null_rank]}))
    return pd.concat(frames, ignore_index=True)


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
    damping: float = DAMPING,
    checkpoint_interval: int = 4,
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
    adjacency, n = _laid_out(
        _with_dangling(adjacency_from_edges(edges), _vertices(edges))
    )
    if n == 0:
        return spark.createDataFrame([], _NO_RANKS)
    seed = spark.createDataFrame([(source,)], "id string")
    base = seed.select("id", F.lit(1.0 - damping).alias("rank"))

    def step(rows: DataFrame, _ranks) -> DataFrame:
        # teleport lands only on the source; propagated mass unions in
        # and the per-vertex sum collapses both — still sparse
        contribs = rows.select(
            F.explode("outlinks").alias("id"),
            (F.col("rank") / F.size("outlinks") * damping).alias("rank"),
        )
        return (
            base.unionByName(contribs)
            .groupBy("id")
            .agg(F.sum("rank").alias("rank"))
        )

    ranks = seed.select("id", F.lit(1.0).alias("rank"))
    return _rank_loop(adjacency, step, ranks, n_iter, checkpoint_interval, None)


def weighted_pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 8,
    damping: float = DAMPING,
    checkpoint_interval: int = 4,
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
    adjacency, n = _laid_out(
        _vertices(edges).join(outs, "id", "left").select(
            "id", F.coalesce("outs", F.array()).alias("outs")
        )
    )
    if n == 0:
        return edges.sparkSession.createDataFrame([], _NO_RANKS)
    teleport = (1.0 - damping) / n

    def contribs(rows: DataFrame) -> DataFrame:
        return rows.select(F.explode("outs").alias("o"), "rank").select(
            F.col("o.dst").alias("id"),
            (F.col("rank") * F.col("o.wfrac")).alias("contrib"),
        )

    step = _teleport_step(contribs, teleport, damping)
    return _rank_loop(
        adjacency, step, 1.0 / n, n_iter, checkpoint_interval, teleport
    )

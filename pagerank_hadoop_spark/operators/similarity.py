"""Similarity search over embedding columns ([EXT] E3).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query side, scan the corpus once, per-query window top-k. The
  baseline and the verifier for approximate variants.
* ``lsh_topk`` — bucketed approximate variant: random-hyperplane
  signature restricts candidates to matching buckets (multi-probe via
  band split), then exact cosine inside buckets. At 100 TB the corpus
  scan shuffles only (bucket, id, vec-slice) — candidates ≪ n.
* ``ivf_topk`` — IVF-style: k-means-free coarse quantizer using
  deterministic pseudo-random centroids (hash-derived), probe the
  nearest ``nprobe`` cells.

All cosine math is JVM array expressions (functions.vectors); no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from pagerank_hadoop_spark.functions.vectors import cosine_similarity, dot


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_dp: int | None = 6,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """Exact brute-force cosine top-k; returns (q_id, vec_id, sim).

    Broadcast nested-loop of corpus × queries (query side is small by
    construction), then ``row_number`` per query. Rounding before the
    window order makes the selected set engine-portable.
    """
    sim = cosine_similarity(F.col(q_vec_col), F.col(vec_col))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    pairs = corpus.crossJoin(F.broadcast(queries)).where(
        F.col(id_col) != F.col(q_id_col)
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        pairs.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _maxsim_score_expr(qv, dv, n_sub: int, who: str):
    """The ONE MaxSim scoring expression — shared by the brute referee
    (:func:`multivector_maxsim_topk`) and the screened production
    path's exact re-rank so their determinism discipline (6dp round
    BEFORE the max, fixed i-order fold, final re-round) can never
    silently diverge. NULL vectors score NULL (sort last) — only a
    present vector with length not divisible by ``n_sub`` raises,
    since the int-cast slice width would silently mis-slice."""

    def token(vec, i):
        return F.slice(
            vec,
            (i * F.size(vec) / n_sub + 1).cast("int"),
            (F.size(vec) / n_sub).cast("int"),
        )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    idx = F.sequence(F.lit(0), F.lit(n_sub - 1))
    score = F.round(
        F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, i: acc
            + F.array_max(
                F.transform(
                    idx, lambda j: F.round(dot(token(qv, i), token(dv, j)), 6)
                )
            ),
        ),
        6,
    )
    either_null = qv.isNull() | dv.isNull()
    len_ok = (F.size(dv) % n_sub == 0) & (F.size(qv) % n_sub == 0)
    return F.when(either_null, F.lit(None).cast("double")).otherwise(
        F.when(len_ok, score).otherwise(
            F.raise_error(
                F.lit(
                    f"{who}: size(vec) is not divisible by n_sub={n_sub}"
                )
            ).cast("double")
        )
    )


def multivector_maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT's MaxSim,
    Khattab & Zaharia 2020): each side's embedding is a BAG of
    ``n_sub`` token vectors (here: contiguous slices of the stored
    vector — the layout a fixed-width multi-vector column has), and

        score(q, d) = Σ_i max_j ⟨q_i, d_j⟩

    — every query token matches its best document token, which is
    what lets one query term hit a relevant passage term without the
    whole-vector average washing it out. Returns ``(q_id, vec_id,
    score)`` top-k per query.

    Determinism discipline: each sub-dot rounds to 6 dp BEFORE the
    max (max of rounded == rounded max; DuckDB's list_sum may
    pairwise-sum where Spark's HOF left-folds, and per-term rounding
    absorbs the last-ulp difference), the i-sum runs in fixed i
    order, the final score re-rounds, ties break by id.

    Scale shape: brute-force over the corpus with the query side
    broadcast — the MaxSim analogue of :func:`cosine_topk`, the
    recall referee for any pruned variant; production pruning
    (PLAID-style centroid screening) composes the same IVF machinery
    as :func:`ivf_kmeans_topk` on the token level.
    """
    qv, dv = F.col(q_vec_col), F.col(vec_col)
    score = _maxsim_score_expr(qv, dv, n_sub, "multivector_maxsim_topk")
    # spread the corpus before the n_sub^2 interpreted sub-dots: the
    # parquet scan is byte-small (a few partitions) but this stage is
    # compute-bound, and AQE coalesces by bytes — the repo-documented
    # HOF-stage trap (SCALE.md "AQE coalesces by BYTES")
    par = corpus.sparkSession.sparkContext.defaultParallelism
    pairs = corpus.repartition(par).crossJoin(F.broadcast(queries)).where(
        F.col(id_col) != F.col(q_id_col)
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        pairs.select(q_id_col, id_col, score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _sql_dlit(x: float) -> str:
    """SQL DOUBLE literal with exact round-trip: ``repr`` emits the
    shortest decimal that parses back to the same bits, and Spark's
    parser (Java ``parseDouble``) is correctly rounded — so the SQL
    literal is bit-identical to the ``F.lit(float)`` it replaces.

    Non-finite floats have no SQL double-literal spelling
    (``repr(nan)+'D'`` → ``nanD``, an opaque ParseException buried in
    a huge generated string), and a NaN/Inf centroid or hyperplane
    component is always a caller bug — refuse it by name."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite vector component {x!r}: centroids/planes must "
            "contain finite floats (NaN/Infinity have no SQL double "
            "literal and poison every distance they touch)"
        )
    return repr(x) + "D"


def _sql_ident(name: str) -> str:
    """Quote a column name for interpolation into a generated SQL
    expression string: backticks inside the identifier are doubled
    (the Spark SQL escape), so a hostile/odd column name cannot break
    or re-shape the parse."""
    return "`" + name.replace("`", "``") + "`"


def _sql_dvec(consts: list[float]) -> str:
    return "array(" + ", ".join(_sql_dlit(x) for x in consts) + ")"


def _sql_fold_dot(vec_sql: str, terms_sql: str) -> str:
    """The engine's sequential-fold dot product as a SQL string —
    the SAME expression tree as ``functions.vectors.dot`` (zip_with
    product, left-fold sum from 0.0), built in
    ONE ``F.expr`` parse instead of per-node py4j round trips. A
    literal-codebook LUT is m·n_codes of these: the Column-API build
    cost ~17k py4j calls / 13 s of driver wall per pq_topk invocation
    (measured, sf0.1); the string form parses JVM-side in
    milliseconds. Results are bit-identical by construction (same
    operators, same literals — see :func:`_sql_dlit`)."""
    return (
        f"aggregate(zip_with({vec_sql}, {terms_sql}, (x, c) -> x * c), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _lit_dot_sql(vec_sql: str, consts: list[float]) -> str:
    """Dot product of an array-column SQL expression with a literal
    float vector — JVM array expressions, the vector never leaves the
    row (SQL-string twin of the retired Column builder)."""
    return _sql_fold_dot(vec_sql, _sql_dvec(consts))


def maxsim_screened_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    nprobe: int = 2,
    refine: int = 4,
    n_cells: int = 32,
    seed: int = 52,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """PRODUCTION multi-vector MaxSim: PLAID-style centroid screening
    (Santhanam et al. 2022) in front of exact late interaction, so the
    exact :func:`multivector_maxsim_topk` scoring — 78×/decade brute
    growth at sf10 — runs on ``refine·k`` candidates per query instead
    of the whole corpus. Three stages, each with a bounded footprint:

    1. **Token IVF screen** — every token vector (corpus and query) is
       assigned to its nearest of ``n_cells`` centroids (argmax of
       6dp-rounded literal dots, tie → larger cell, the repo's
       max-struct convention). A document is a candidate for a query
       iff one of its token cells is among the query tokens' top
       ``nprobe`` probed cells — the same inverted-file shape as
       :func:`ivf_topk`, at token granularity. Only ``(id, codes)``
       rows (m small ints, not float vectors) flow through this join.
    2. **Centroid-LUT approximate score** — per query a
       ``n_sub × n_cells`` lookup table ``qlut[i][c] = round(⟨q_i,
       centroid_c⟩, 6)`` is computed once on the broadcast query side;
       a candidate's approximate MaxSim is ``Σ_i max_j
       qlut[i][codes[j]]`` — pure ``element_at`` lookups per pair, no
       float-vector math (the ADC trick of :func:`pq_topk` applied to
       late interaction). Top ``refine·k`` per query survive, ranked
       by (rounded score desc, id asc).
    3. **Exact re-rank** — only the shortlist joins back to its full
       vectors for the exact slice/dot/max/sum MaxSim of
       :func:`multivector_maxsim_topk`; final top-k.

    At 100 TB: stage 1's shuffle carries ids+codes only, stage 2 is a
    scan over ~m-byte code rows with the LUT broadcast, stage 3
    materializes ``refine·k·|queries|`` full vectors — the brute
    referee's corpus×queries float scoring never happens.

    ``centroids`` (``n_cells`` × token-dim explicit floats — shipped
    in the Arrow kernel closure, not as plan literals) is the
    oracle-checkable form (``recall_maxsim_topk``); ``None`` trains
    them with seeded Lloyd k-means on a bounded sample of corpus token
    vectors (``n_cells·200`` tokens regardless of corpus size — the
    :func:`ivf_kmeans_topk` posture), the production path, recall-
    floor-gated in tests.
    """
    import numpy as np

    if centroids is None:
        rows = (
            corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
            .limit(n_cells * 200 // n_sub + 1)
            .collect()
        )
        toks = np.array(
            [r.v[s : s + len(r.v) // n_sub]
             for r in rows
             for s in range(0, len(r.v), len(r.v) // n_sub)],
            dtype=np.float64,
        )
        centroids = [
            [float(x) for x in c] for c in _lloyd(toks, n_cells, seed)
        ]

    # Token-centroid similarity stages run as Arrow-batched NumPy
    # kernels, NOT literal expression forests: n_sub·n_cells fold-dot
    # Columns cost ~30k py4j calls to BUILD and run on the interpreted
    # HOF evaluator (measured 26 s plan construction + 10 s execution
    # at 2k rows) — the repo-documented "Arrow/NumPy pandas_udf for
    # the real hot paths" rule. The centroid matrix travels in the UDF
    # closure (n_cells·sub doubles). Rounding mirrors half-away-from-
    # zero (Spark/DuckDB ROUND) on BOTH signs via the sign-split floor
    # below; the residual divergence risk is summation order only —
    # np.matmul's pairwise sums vs the SQL twin's sequential fold can
    # differ in the last ulp at exact .5·1e-6 boundaries (measure-zero
    # for gaussian dots; the oracle hash gate would catch one).
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.float64)
    n_cells_eff = cmat.shape[0]

    def _round6(a):
        # half-away-from-zero on both signs (Spark/DuckDB ROUND):
        # plain floor(x*1e6+0.5) would round -x.5e-6 UP (toward zero)
        return (
            np.where(
                a >= 0,
                np.floor(a * 1e6 + 0.5),
                -np.floor(-a * 1e6 + 0.5),
            )
            / 1e6
        )

    def _tok_matrix(series: "pd.Series"):
        vals = series.tolist()
        if any(v is None for v in vals):
            raise ValueError(
                "maxsim_screened_topk: null embedding vector in input"
            )
        vecs = np.array(vals, dtype=np.float64)
        if vecs.ndim != 2 or vecs.shape[1] % n_sub:
            raise ValueError(
                f"maxsim_screened_topk: size(vec) is not divisible "
                f"by n_sub={n_sub}"
            )
        n, d = vecs.shape
        return vecs.reshape(n, n_sub, d // n_sub)

    @pandas_udf("array<int>")
    def _codes_udf(v):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        sims = _round6(_tok_matrix(v) @ cmat.T)  # (n, n_sub, n_cells)
        # argmax with tie -> LARGER cell (the max-struct convention):
        # argmax over the reversed cell axis picks the last maximum
        idx = n_cells_eff - 1 - np.argmax(sims[:, :, ::-1], axis=2)
        return pd.Series([row.astype("int32").tolist() for row in idx])

    @pandas_udf("array<array<double>>")
    def _qlut_udf(v):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        sims = _round6(_tok_matrix(v) @ cmat.T)
        return pd.Series(
            [[[float(x) for x in tok] for tok in row] for row in sims]
        )

    dv, qv = F.col(vec_col), F.col(q_vec_col)
    # spread before the Arrow coding stage: the scan is byte-small but
    # this stage is compute-bound and AQE coalesces by bytes (the
    # repo-documented HOF-stage trap)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c_coded = (
        corpus.repartition(par)
        .select(
            id_col,
            _codes_udf(dv.cast("array<double>")).alias("codes"),
        )
        .withColumn("cell", F.explode(F.array_distinct("codes")))
    )

    # probes derive FROM the LUT (one Arrow matmul per query batch,
    # not two): per token, top-nprobe cells by (sim desc, cell desc) —
    # array_sort on (sim, cell) structs then reverse reproduces the
    # max-struct tie convention; query rows are few, so the HOF cost
    # is negligible
    def _probe_from_lut(lut_row):
        ranked = F.slice(
            F.reverse(
                F.array_sort(
                    F.transform(
                        lut_row,
                        lambda s, i: F.struct(
                            s.alias("sim"), i.alias("cell")
                        ),
                    )
                )
            ),
            1,
            nprobe,
        )
        return F.transform(ranked, lambda st: st["cell"])

    q_side = (
        queries.select(
            q_id_col,
            _qlut_udf(qv.cast("array<double>")).alias("qlut"),
        )
        .withColumn(
            "pcells",
            F.array_distinct(
                F.flatten(F.transform(F.col("qlut"), _probe_from_lut))
            ),
        )
        .withColumn("cell", F.explode("pcells"))
        .drop("pcells")
    )

    cand = (
        c_coded.join(F.broadcast(q_side), "cell")
        .where(F.col(id_col) != F.col(q_id_col))
        .dropDuplicates([q_id_col, id_col])
    )
    def _lut_term(i: int):
        # bind i via closure: a default arg would make the lambda
        # binary, which transform() reads as (element, INDEX) — the
        # index would silently shadow i (the zip_with arity trap)
        return F.array_max(
            F.transform(
                F.col("codes"),
                lambda cd: F.element_at(
                    F.element_at(F.col("qlut"), i + 1), cd + 1
                ),
            )
        )

    approx = F.round(
        sum((_lut_term(i) for i in range(n_sub)), start=F.lit(0.0)),
        6,
    )
    w_short = Window.partitionBy(q_id_col).orderBy(
        F.desc("ascore"), F.asc(id_col)
    )
    shortlist = (
        cand.select(q_id_col, id_col, approx.alias("ascore"))
        .withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= refine * k)
        .select(q_id_col, id_col)
    )
    # exact MaxSim only on the shortlist: refine·k·|queries| full
    # vectors materialize — both join sides are shortlist-sized, so
    # they broadcast against the corpus/query scans
    pairs = (
        corpus.join(F.broadcast(shortlist), id_col)
        .join(F.broadcast(queries), q_id_col)
    )
    # the SAME scoring expression as the brute referee — shared helper
    # so the 6dp-round-before-max discipline cannot silently diverge
    score = _maxsim_score_expr(qv, dv, n_sub, "maxsim_screened_topk")
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        pairs.select(q_id_col, id_col, score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _hyperplane_bucket(
    vec_sql: str, n_planes: int = 12, planes: list[list[float]] | None = None
):
    """Deterministic random-hyperplane sign sketch (see dedup module).

    ``planes`` (optional, ``n_planes`` × dim literal floats) replaces
    the xxhash64-derived pseudo-random components with explicit
    hyperplanes — same plan shape, but reproducible by any engine
    (the oracle-checkable form; xxhash64 exists only in Spark).

    ``vec_sql`` is the vector column as a SQL expression string: the
    whole n_planes-projection sketch is built in ONE ``F.expr`` parse
    instead of ~n_planes HOF Column constructions (each a multi-ms
    py4j exchange — the plan-build cost dominated these queries at
    small scale). The expression tree is unchanged node-for-node.
    """
    inv63 = _sql_dlit(float(2**63))

    def plane_bit(p: int) -> str:
        if planes is not None:
            proj = _lit_dot_sql(vec_sql, planes[p])
        else:
            proj = (
                f"aggregate(zip_with({vec_sql}, "
                f"sequence(0, size({vec_sql}) - 1), "
                f"(x, d) -> x * (CAST(xxhash64({p}, d) AS DOUBLE) / {inv63})), "
                f"0.0D, (acc, x) -> acc + x)"
            )
        return (
            f"CAST(CASE WHEN ({proj}) >= 0 THEN 1 ELSE 0 END AS BIGINT)"
        )

    sketch = "CAST(0 AS BIGINT)"
    for p in range(n_planes):
        sketch = f"{sketch} + shiftleft({plane_bit(p)}, {p})"
    return F.expr(sketch)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    bands: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share at least one signature band
    with the query (multi-probe), exact cosine re-rank inside.

    Recall < 1 by design; verified against cosine_topk in tests and,
    with explicit ``planes``, by the ``recall_lsh_topk`` oracle query.
    """
    width = n_planes // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, vcol: str, idc: str, prefix: str) -> DataFrame:
        sk = _hyperplane_bucket(_sql_ident(vcol), n_planes, planes)
        return df.select(
            idc,
            vcol,
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(sk, b * width).bitwiseAND(F.lit(mask)).alias("bh"),
                    )
                    for b in range(bands)
                ])
            ).alias("bb"),
        ).select(idc, vcol, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    c = banded(corpus, vec_col, id_col, "c")
    q = banded(queries, q_vec_col, q_id_col, "q")
    cands = (
        c.join(F.broadcast(q), ["band", "bh"])
        .where(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, q_vec_col, id_col, vec_col)
        .dropDuplicates([q_id_col, id_col])
    )
    sim = F.round(cosine_similarity(F.col(q_vec_col), F.col(vec_col)), 6)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat style ANN: assign vectors to their nearest of
    ``n_cells`` deterministic pseudo-random centroids; queries probe
    their ``nprobe`` nearest cells; exact cosine re-rank inside.

    The cell assignment is a one-pass map (no shuffle); the probe join
    is cell-partitioned — the scale path for corpus ≫ memory.
    ``centroids`` (optional, ``n_cells`` × dim literal floats)
    replaces the xxhash64-derived pseudo-random centroids with
    explicit ones — the oracle-checkable form (``recall_ivf_topk``).
    """
    inv63 = _sql_dlit(float(2**63))

    def one_cell_sim(vec_sql: str, cell: int) -> str:
        if centroids is not None:
            return _lit_dot_sql(vec_sql, centroids[cell])
        # unit-ish pseudo-random centroid component per dim via hash
        return (
            f"aggregate(zip_with({vec_sql}, "
            f"sequence(0, size({vec_sql}) - 1), "
            f"(x, d) -> x * (CAST(xxhash64({7919 * cell}, d) AS DOUBLE)"
            f" / {inv63})), 0.0D, (acc, x) -> acc + x)"
        )

    def cell_sims(vcol: str):
        # the whole n_cells struct array in ONE F.expr parse — the
        # Column-API build paid ~2 HOF py4j exchanges per cell per
        # side; tree unchanged (named_struct == F.struct.alias)
        vec_sql = _sql_ident(vcol)
        return F.expr(
            "array("
            + ", ".join(
                f"named_struct('sim', {one_cell_sim(vec_sql, cell)},"
                f" 'cell', {cell})"
                for cell in range(n_cells)
            )
            + ")"
        )

    # corpus: argmax cell
    c_assigned = corpus.withColumn("cell", F.array_max(cell_sims(vec_col))["cell"])
    # queries: top-nprobe cells
    q_probed = (
        queries.withColumn(
            "cells",
            F.slice(F.reverse(F.array_sort(cell_sims(q_vec_col))), 1, nprobe),
        )
        .select(q_id_col, q_vec_col, F.explode("cells").alias("pc"))
        .select(q_id_col, q_vec_col, F.col("pc.cell").alias("cell"))
    )
    cands = c_assigned.join(F.broadcast(q_probed), "cell").where(
        F.col(id_col) != F.col(q_id_col)
    )
    sim = F.round(cosine_similarity(F.col(q_vec_col), F.col(vec_col)), 6)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _lloyd(points, k: int, seed: int, n_iter: int = 8):
    """Deterministic Lloyd's k-means on a driver-local sample
    (ndarray [n, dim] → ndarray [k, dim]). Seeded-RNG init over
    distinct points; empty clusters keep their previous center. All
    steps are whole-array NumPy ops — one (n × k) distance matrix per
    iteration."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(points)
    if n == 0:
        raise ValueError("k-means fit sample is empty")
    init_idx = rng.choice(n, size=min(k, n), replace=False)
    centers = points[np.sort(init_idx)].copy()
    if len(centers) < k:  # tiny sample: pad by repeating points
        centers = np.vstack([centers, points[: k - len(centers)]])
    for _ in range(n_iter):
        # ||x - c||^2 = ||x||^2 - 2 x·c + ||c||^2; argmin drops ||x||^2
        d = (centers * centers).sum(axis=1)[None, :] - 2.0 * points @ centers.T
        assign = d.argmin(axis=1)
        for c in range(k):
            members = points[assign == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """IVF with a REAL trained coarse quantizer: Lloyd's k-means
    (seeded → deterministic) fit on a bounded corpus sample, then the
    same probe shape as :func:`ivf_topk` with the learned centroids
    inlined as literal arrays.

    Scale notes: k-means needs only enough points to place
    ``n_cells`` centers, so the fit input is capped at ~200 points
    per center — a constant-size sample even from a 100 TB corpus.
    That sample is driver-sized *by construction*, so the fit runs as
    one vectorized NumPy Lloyd loop on the driver (one Spark job to
    collect the sample) instead of 2·maxIter distributed jobs over a
    few thousand rows; the centers themselves are tiny (n_cells × dim
    doubles) and travel to executors as plan literals, so cell
    assignment stays a one-pass, shuffle-free map exactly like the
    hash-centroid variant.
    """
    import numpy as np

    sample = np.array(
        [
            r[0]
            for r in corpus.select(F.col(vec_col).cast("array<double>"))
            .limit(n_cells * 200)
            .collect()
        ],
        dtype=np.float64,
    )
    centers = [[float(x) for x in c] for c in _lloyd(sample, n_cells, seed)]

    def cell_sims(vcol: str):
        # one F.expr parse for the trained-centroid struct array (the
        # per-F.lit / per-HOF Column build was ~2 s of py4j driver
        # wall per invocation — and trained literals defeat the plan
        # cache anyway, so the cheap-to-build form matters)
        vec_sql = _sql_ident(vcol)
        return F.expr(
            "array("
            + ", ".join(
                f"named_struct('sim', {_lit_dot_sql(vec_sql, c)},"
                f" 'cell', {i})"
                for i, c in enumerate(centers)
            )
            + ")"
        )

    c_assigned = corpus.withColumn(
        "cell", F.array_max(cell_sims(vec_col))["cell"]
    )
    q_probed = (
        queries.withColumn(
            "cells",
            F.slice(F.reverse(F.array_sort(cell_sims(q_vec_col))), 1, nprobe),
        )
        .select(q_id_col, q_vec_col, F.explode("cells").alias("pc"))
        .select(q_id_col, q_vec_col, F.col("pc.cell").alias("cell"))
    )
    cands = c_assigned.join(F.broadcast(q_probed), "cell").where(
        F.col(id_col) != F.col(q_id_col)
    )
    sim = F.round(cosine_similarity(F.col(q_vec_col), F.col(vec_col)), 6)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN with ADC scoring and exact re-rank.

    The memory-compression scale path: each vector is encoded as ``m``
    sub-space code bytes (here ``m`` ints ≤ ``n_codes``), so a 100 TB
    float corpus scans as ~m bytes/vector — the classic IVF-PQ layout
    without the float payload in the hot loop.

    * **Train**: per-subspace Lloyd codebooks (:func:`_lloyd`, seeded
      → deterministic) on a driver-local bounded sample
      (``n_codes * 200`` rows regardless of corpus size); codebooks
      travel to executors as plan literals.
    * **Encode** (one shuffle-free map over the corpus): per subspace
      the nearest code by L2 via ``argmin(||c||² - 2·x_sub·c)`` —
      array expressions only, the vector never leaves the row.
    * **ADC scan**: per query a lookup table
      ``lut[s][c] = q_sub_s · codebook_s[c]`` is computed once
      (query side is broadcast); the approximate dot of query and any
      encoded vector is ``Σ_s lut[s][codes[s]]`` — an m-element
      ``element_at`` sum per (query, code-row) pair, no float-vector
      math in the scan.
    * **Re-rank**: the top ``refine·k`` ADC candidates per query join
      back to their full vectors for exact cosine; final top-k. Only
      refine·k·|queries| full vectors are ever materialized.

    ``books`` (optional, m × n_codes × sub literal floats) skips the
    sample/train step and uses explicit codebooks — the
    oracle-checkable form (``recall_pq_topk``); untrained random
    codebooks quantize worse than Lloyd's, which only lowers recall,
    never correctness of the ADC/re-rank machinery being gated. ADC
    scores are rounded to 6 dp before the shortlist ranking so the
    selected candidate SET is engine-portable (ties broken by id).
    """
    import numpy as np

    if books is None:
        sample = np.array(
            [
                r[0]
                for r in corpus.select(F.col(vec_col).cast("array<double>"))
                .limit(n_codes * 200)
                .collect()
            ],
            dtype=np.float64,
        )
        dim = sample.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        sub = dim // m
        books = [
            [[float(x) for x in c] for c in _lloyd(sample[:, s * sub : (s + 1) * sub], n_codes, seed + s)]
            for s in range(m)
        ]
    else:
        m = len(books)
        n_codes = len(books[0])
        sub = len(books[0][0])
        # explicit codebooks override m/n_codes; a ragged book or a
        # dim mismatch would make F.slice silently return short
        # subvectors (wrong ADC codes, no error) — fail fast instead
        if any(len(b) != n_codes for b in books) or any(
            len(c) != sub for b in books for c in b
        ):
            raise ValueError(
                "books must be uniform m x n_codes x sub nested lists"
            )
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is not None and first["d"] != m * sub:
            raise ValueError(
                f"books cover dim {m * sub} but corpus vectors have"
                f" dim {first['d']}"
            )

    def sub_dot_sql(vec_sql: str, s: int, center: list[float]) -> str:
        return _lit_dot_sql(f"slice({vec_sql}, {s * sub + 1}, {sub})", center)

    # corpus-side encoder: per subspace argmin_c ||x_sub - c||^2, with
    # the row-constant ||x_sub||^2 dropped -> argmin(||c||^2 - 2 x.c).
    # Arrow-batched NumPy, not Column expressions: the expression form
    # is m*n_codes (128 here) interpreted HOF dot products per row AND
    # bakes the trained codebooks into plan literals, so every train
    # produces a brand-new giant plan for Janino to recompile. The
    # kernel does one (batch x n_codes) GEMM per subspace and the
    # codebooks live in the closure, off the plan.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books_np = np.asarray(books, dtype=np.float64)  # (m, n_codes, sub)
    c_norms = (books_np * books_np).sum(axis=2)  # (m, n_codes)

    @pandas_udf("array<int>")
    def encode_udf(vecs):
        if vecs.empty:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            d = c_norms[s][None, :] - 2.0 * (Xs @ books_np[s].T)
            codes[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    def encode(vec):
        return encode_udf(vec)

    def luts(vcol: str):
        # the m × n_codes LUT as ONE F.expr parse: the Column-API
        # build of 128 fold-dots cost ~17k py4j round trips / ~13 s of
        # driver wall per invocation at sf0.1 (measured — more than
        # the query's whole execution); the string form parses
        # JVM-side with an identical expression tree.
        vec_sql = _sql_ident(vcol)
        return F.expr(
            "array("
            + ", ".join(
                "array("
                + ", ".join(sub_dot_sql(vec_sql, s, c) for c in books[s])
                + ")"
                for s in range(m)
            )
            + ")"
        )

    # the ADC scan touches ONLY (id, codes): the float vectors stay in
    # the parquet files until the refine join below. Materialize the
    # codes (m ints + id per row — the PQ index itself, which any real
    # deployment persists): under the query crossJoin the encoder
    # would otherwise re-run once per (query, vector) pair.
    encoded = corpus.select(
        id_col, encode(F.col(vec_col)).alias("codes")
    ).localCheckpoint(eager=True)
    q_luts = queries.select(q_id_col, luts(q_vec_col).alias("luts"))

    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"), F.col("luts"),
                lambda code, lut: F.element_at(lut, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("adc"), F.asc(id_col))
    shortlist = (
        encoded.crossJoin(F.broadcast(q_luts))
        .where(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col, adc.alias("adc"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= refine * k)
        .select(q_id_col, id_col)
    )
    cands = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col
        )
    )
    sim = F.round(cosine_similarity(F.col(q_vec_col), F.col(vec_col)), 6)
    w2 = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def recall_vs_exact(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k:
    ``(q_id, hits, recall)`` with ``recall = |approx ∩ exact| / k``.

    Deterministic given deterministic inputs (both sides break ties by
    rounded-sim desc, id asc), so it is a HARD gate for approximate
    variants — the driver oracle checks the exact recall value, not
    just that rows came back.
    """
    j = exact.select(q_id_col, id_col).join(
        approx.select(
            F.col(q_id_col).alias("__q"), F.col(id_col).alias("__hit_id")
        ),
        (F.col(q_id_col) == F.col("__q"))
        & (F.col(id_col) == F.col("__hit_id")),
        "left",
    )
    return (
        j.groupBy(q_id_col)
        .agg(F.count("__hit_id").alias("hits"))
        .select(
            q_id_col,
            "hits",
            F.round(F.col("hits") / F.lit(float(k)), 6).alias("recall"),
        )
        .orderBy(q_id_col)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_dp: int | None = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    k most-similar corpus vectors with a DIFFERENT label — maximally
    confusable wrong answers. Same broadcast scan + per-query window
    as :func:`cosine_topk` (one corpus pass, no n×n blowup); the
    label-mismatch predicate lands scan-side, so same-label rows never
    reach the ranking. Expects corpus (vec_id, v, label) and queries
    (q_id, qv, q_label); returns (q_id, vec_id, sim).
    """
    sim = cosine_similarity(F.col("qv"), F.col("v"))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    pairs = corpus.crossJoin(F.broadcast(queries)).where(
        F.col("label") != F.col("q_label")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.select("q_id", "vec_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_pq_train(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 21,
    vec_col: str = "v",
) -> dict:
    """Train the IVF-PQ model (Jégou et al. 2011) on a bounded corpus
    sample: a coarse quantizer (``n_cells`` seeded-Lloyd centers over
    full vectors) plus per-subspace codebooks fit on RESIDUALS
    ``x − centroid(cell)``. Returns a plain-lists dict
    ``{"centers": [[..]], "books": [[[..]]]}`` — JSON-serializable, so
    a deployment persists it next to the encoded index and reuses it
    for incremental ingests (encode is a pure per-row map given a
    frozen model). Driver state O(n_cells·dim + m·n_codes·sub)
    regardless of corpus size (n_cells·200-row sample)."""
    import numpy as np

    sample = np.array(
        [
            r[0]
            for r in corpus.select(F.col(vec_col).cast("array<double>"))
            .limit(n_cells * 200)
            .collect()
        ],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    centers = _lloyd(sample, n_cells, seed)  # (n_cells, dim)
    assign = np.argmax(sample @ centers.T, axis=1)
    resid = sample - centers[assign]
    books = [
        _lloyd(resid[:, s * sub : (s + 1) * sub], n_codes, seed + 1 + s)
        for s in range(m)
    ]
    return {
        "centers": [[float(x) for x in c] for c in centers],
        "books": [[[float(x) for x in c] for c in b] for b in books],
    }


def ivf_pq_encode(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "v",
    spread: bool = True,
) -> DataFrame:
    """Encode vectors against a FROZEN model to ``(id, cell, codes)``
    — the IVF-PQ index rows. A pure shuffle-free Arrow map, so
    incremental ingest is ``encode(new_batch) ∪ old_index`` with no
    rescan of history (unit-pinned). Persist with
    :func:`ivf_pq_write_index` for cell-partition-pruned serving."""
    import numpy as np
    import pandas as pd

    centers = np.asarray(model["centers"], dtype=np.float64)
    books = np.asarray(model["books"], dtype=np.float64)
    m = books.shape[0]
    sub = books.shape[2]
    c_norms = (books * books).sum(axis=2)
    enc_schema = f"{id_col} long, cell int, codes array<int>"

    def encode_batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            X = np.array(pdf["__v"].tolist(), dtype=np.float64)
            cell = np.argmax(X @ centers.T, axis=1)
            R = X - centers[cell]
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Rs = R[:, s * sub : (s + 1) * sub]
                codes[:, s] = np.argmin(
                    c_norms[s][None, :] - 2.0 * (Rs @ books[s].T), axis=1
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cell.astype("int32"),
                    "codes": [c.tolist() for c in codes],
                }
            )

    # spread=True widens a (possibly few-split) batch scan so the
    # numpy encode uses every core. Streaming callers pass False: a
    # micro-batch is already tiny, and a per-batch repartition both
    # adds a shuffle to every trigger and multiplies the files the
    # partitionBy(cell) sink writes (measured: 2594 files for 2000
    # rows across 4 triggers at 32-way spread; ~70 without). Encode
    # is a pure per-row map, so layout cannot change any row.
    if spread:
        par = corpus.sparkSession.sparkContext.defaultParallelism
        corpus = corpus.repartition(par)
    return (
        corpus
        .select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .mapInPandas(encode_batches, enc_schema)
    )


def ivf_pq_write_index(encoded: DataFrame, path: str) -> None:
    """Persist the index cell-partitioned: ``partitionBy("cell")``
    parquet, so a query's ``cell IN (probed…)`` predicate becomes
    PARTITION PRUNING — only nprobe/n_cells of the index FILES are
    read at serve time (plan-pinned in tests/test_plans.py). At 100 TB
    this is the difference between scanning the whole code table and
    scanning the probed slice of it."""
    encoded.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_pq_read_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_pq_query(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    model: dict,
    k: int = 5,
    nprobe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """Serve top-k from a pre-built IVF-PQ index: probe ``nprobe``
    cells per query (the ``cell`` equi-join prunes partitions when
    ``encoded`` came from :func:`ivf_pq_read_index`), ADC-score with
    per-(query, cell) LUTs + the ``q·centroid`` correction, exact
    cosine re-rank of the ``refine·k`` shortlist against full
    vectors."""
    import numpy as np
    import pandas as pd

    centers = np.asarray(model["centers"], dtype=np.float64)
    books = np.asarray(model["books"], dtype=np.float64)
    m = books.shape[0]
    sub = books.shape[2]
    probe_schema = (
        f"{q_id_col} long, cell int, qc double, lut array<array<double>>"
    )

    def probe_batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            Q = np.array(pdf["__qv"].tolist(), dtype=np.float64)
            S = Q @ centers.T  # (nq, n_cells)
            order = np.argsort(-S, axis=1)[:, :nprobe]
            out_q, out_c, out_qc, out_lut = [], [], [], []
            for qi in range(len(Q)):
                lut = [
                    (Q[qi, s * sub : (s + 1) * sub] @ books[s].T).tolist()
                    for s in range(m)
                ]
                for c in order[qi]:
                    out_q.append(pdf[q_id_col].iloc[qi])
                    out_c.append(int(c))
                    out_qc.append(float(S[qi, c]))
                    out_lut.append(lut)
            yield pd.DataFrame(
                {
                    q_id_col: out_q,
                    "cell": out_c,
                    "qc": out_qc,
                    "lut": out_lut,
                }
            )

    q_probes = queries.select(
        q_id_col, F.col(q_vec_col).cast("array<double>").alias("__qv")
    ).mapInPandas(probe_batches, probe_schema)

    adc = F.round(
        F.col("qc")
        + F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("lut"),
                lambda code, lut_s: F.element_at(lut_s, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("adc"), F.asc(id_col))
    shortlist = (
        encoded.join(F.broadcast(q_probes), "cell")
        .where(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col, adc.alias("adc"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= refine * k)
        .select(q_id_col, id_col)
    )
    cands = shortlist.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col
    )
    sim = F.round(cosine_similarity(F.col(q_vec_col), F.col(vec_col)), 6)
    w2 = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cands.select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    seed: int = 21,
    id_col: str = "vec_id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """The CLASSIC IVF-PQ index as one composed call:
    :func:`ivf_pq_train` (bounded-sample coarse quantizer + residual
    codebooks) → :func:`ivf_pq_encode` (shuffle-free Arrow map to
    ``(id, cell, m codes)``) → :func:`ivf_pq_query` (nprobe cell
    pruning, ADC with centroid correction, exact re-rank of the
    refine·k shortlist). Previously only prose in SCALE.md ("compose
    with IVF when both pruning and compression are needed"); the
    staged API also serves persisted indexes
    (:func:`ivf_pq_write_index`: cell-partitioned parquet → the probe
    join becomes partition pruning) and incremental ingest (encode is
    a pure map under a frozen model). Trained end to end → registered
    rows-only; recall floors + full-probe losslessness + determinism
    pinned in tests."""
    model = ivf_pq_train(
        corpus, n_cells=n_cells, m=m, n_codes=n_codes, seed=seed,
        vec_col=vec_col,
    )
    # materialized: under the probe join the encoder would otherwise
    # re-run per matching (query, cell) pair — and any real deployment
    # persists the index anyway (ivf_pq_write_index)
    encoded = ivf_pq_encode(
        corpus, model, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    return ivf_pq_query(
        encoded, corpus, queries, model,
        k=k, nprobe=nprobe, refine=refine,
        id_col=id_col, vec_col=vec_col,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    )

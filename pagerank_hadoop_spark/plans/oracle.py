"""ANSI-SQL oracle generators for iterative/graph queries.

The driver cross-checks every declared query against DuckDB. PageRank
is iterative, so the oracle is generated as a chain of CTEs — one per
iteration — replaying the exact reference update rule
(``PageRank.java:305,316``). Fixed iteration count (8, per
``PageRank.java:473``) makes this finite and fully deterministic.
"""

from __future__ import annotations


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
    limit: int | None = 20,
    threshold_num: float = 5.0,
) -> str:
    """Build nested-CTE PageRank SQL over an edge-producing subquery.

    ``edges_sql`` must yield columns ``src, dst`` (strings). Semantics
    match ``operators.pagerank.pagerank(parity=True)``: vertex set =
    src ∪ dst, seed 1/N, teleport (1-d)/N, dangling mass lost.
    """
    ctes = [
        f"edges AS ({edges_sql})",
        "vertices AS (SELECT DISTINCT src AS id FROM edges"
        " UNION SELECT DISTINCT dst AS id FROM edges)",
        "adj AS (SELECT src AS id, CAST(COUNT(DISTINCT dst) AS DOUBLE) AS outdeg"
        " FROM edges GROUP BY src)",
        "uedges AS (SELECT DISTINCT src, dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)",
        "r0 AS (SELECT id, 1.0 / nn.n AS rank FROM vertices, nn)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"r{i + 1} AS (SELECT v.id, "
            f"(1.0 - {damping}) / nn.n + {damping} * COALESCE(s.insum, 0.0) AS rank "
            f"FROM vertices v CROSS JOIN nn LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(r.rank / a.outdeg) AS insum "
            f"FROM uedges e JOIN r{i} r ON e.src = r.id "
            f"JOIN adj a ON e.src = a.id GROUP BY e.dst) s ON v.id = s.id)"
        )
    # Order by the ROUNDED rank (+ id tiebreak): float summation order
    # differs between engines at ~1e-16, rounding first makes the
    # top-k selection identical on both sides.
    tail = (
        f"SELECT id, ROUND(rank, {round_dp}) AS rank FROM r{n_iter} "
        f"CROSS JOIN nn WHERE rank > {threshold_num} / nn.n ORDER BY 2 DESC, 1"
    )
    if limit is not None:
        tail += f" LIMIT {limit}"
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def pagerank_corrected_oracle_sql(
    edges_sql: str,
    n_iter: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
    limit: int | None = 20,
) -> str:
    """Chained-CTE oracle for CORRECTED-mode PageRank
    (``operators.pagerank.pagerank(parity=False)``): dangling-vertex
    mass is redistributed uniformly each iteration, so ranks sum to 1
    (textbook Brin/Page, the mode users should default to — the parity
    mode exists only to reproduce ``PageRank.java:305,316`` exactly).

    Per-iteration: ``dang_i = Σ r_i(v) over v with no out-edges``;
    ``r_{i+1}(v) = (1-d)/N + d·(Σ_{u→v} r_i(u)/outdeg(u) + dang_i/N)``.
    Each ``r{i}`` is read twice (by ``d{i}`` and by ``r{i+1}``), so it
    is MATERIALIZED: inlined, DuckDB would re-derive the whole chain
    below it at every read.
    """
    ctes = [
        f"edges AS ({edges_sql})",
        "vertices AS (SELECT DISTINCT src AS id FROM edges"
        " UNION SELECT DISTINCT dst AS id FROM edges)",
        "adj AS (SELECT src AS id, CAST(COUNT(DISTINCT dst) AS DOUBLE) AS outdeg"
        " FROM edges GROUP BY src)",
        "uedges AS (SELECT DISTINCT src, dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS rank FROM vertices, nn)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"d{i} AS (SELECT COALESCE(SUM(r.rank), 0.0) AS dang "
            f"FROM r{i} r LEFT JOIN adj a ON r.id = a.id WHERE a.id IS NULL)"
        )
        ctes.append(
            f"r{i + 1} AS MATERIALIZED (SELECT v.id, "
            f"(1.0 - {damping}) / nn.n + {damping} * "
            f"(COALESCE(s.insum, 0.0) + d{i}.dang / nn.n) AS rank "
            f"FROM vertices v CROSS JOIN nn CROSS JOIN d{i} LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(r.rank / a.outdeg) AS insum "
            f"FROM uedges e JOIN r{i} r ON e.src = r.id "
            f"JOIN adj a ON e.src = a.id GROUP BY e.dst) s ON v.id = s.id)"
        )
    tail = (
        f"SELECT id, ROUND(rank, {round_dp}) AS rank FROM r{n_iter} "
        f"ORDER BY 2 DESC, 1"
    )
    if limit is not None:
        tail += f" LIMIT {limit}"
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def ppr_oracle_sql(
    edges_sql: str,
    source: str,
    n_iter: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
    limit: int | None = 20,
) -> str:
    """Chained-CTE oracle for personalized PageRank: teleport mass
    returns to ``source`` only; seed r0 = [v = source]; dangling mass
    lost (operators.pagerank.personalized_pagerank semantics)."""
    s = source.replace("'", "''")
    ctes = [
        f"edges AS ({edges_sql})",
        "vertices AS (SELECT DISTINCT src AS id FROM edges"
        " UNION SELECT DISTINCT dst AS id FROM edges)",
        "adj AS (SELECT src AS id, CAST(COUNT(DISTINCT dst) AS DOUBLE) AS outdeg"
        " FROM edges GROUP BY src)",
        "uedges AS (SELECT DISTINCT src, dst FROM edges)",
        f"r0 AS (SELECT id, CASE WHEN id = '{s}' THEN 1.0 ELSE 0.0 END AS rank"
        " FROM vertices)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"r{i + 1} AS (SELECT v.id, "
            f"CASE WHEN v.id = '{s}' THEN 1.0 - {damping} ELSE 0.0 END "
            f"+ {damping} * COALESCE(sm.insum, 0.0) AS rank "
            f"FROM vertices v LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(r.rank / a.outdeg) AS insum "
            f"FROM uedges e JOIN r{i} r ON e.src = r.id "
            f"JOIN adj a ON e.src = a.id GROUP BY e.dst) sm ON v.id = sm.id)"
        )
    tail = (
        f"SELECT id, ROUND(rank, {round_dp}) AS rank FROM r{n_iter} "
        f"WHERE rank > 0 ORDER BY 2 DESC, 1"
    )
    if limit is not None:
        tail += f" LIMIT {limit}"
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def weighted_pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 8,
    damping: float = 0.85,
    round_dp: int = 9,
    limit: int | None = 20,
) -> str:
    """Chained-CTE oracle for weighted PageRank: ``edges_sql`` yields
    ``src, dst, weight``; rank ships proportionally to the source's
    normalized weights; dangling mass lost."""
    ctes = [
        f"raw AS ({edges_sql})",
        "wedges AS (SELECT src, dst, SUM(weight) AS w FROM raw GROUP BY src, dst)",
        "vertices AS (SELECT DISTINCT src AS id FROM raw"
        " UNION SELECT DISTINCT dst AS id FROM raw)",
        "tot AS (SELECT src, CAST(SUM(w) AS DOUBLE) AS W FROM wedges GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)",
        "r0 AS (SELECT id, 1.0 / nn.n AS rank FROM vertices, nn)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"r{i + 1} AS (SELECT v.id, "
            f"(1.0 - {damping}) / nn.n + {damping} * COALESCE(s.insum, 0.0) AS rank "
            f"FROM vertices v CROSS JOIN nn LEFT JOIN ("
            f"SELECT e.dst AS id, SUM(r.rank * e.w / t.W) AS insum "
            f"FROM wedges e JOIN r{i} r ON e.src = r.id "
            f"JOIN tot t ON e.src = t.src GROUP BY e.dst) s ON v.id = s.id)"
        )
    tail = (
        f"SELECT id, ROUND(rank, {round_dp}) AS rank FROM r{n_iter} "
        f"ORDER BY 2 DESC, 1"
    )
    if limit is not None:
        tail += f" LIMIT {limit}"
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def hits_oracle_sql(
    edges_sql: str,
    n_iter: int = 3,
    round_dp: int = 9,
) -> str:
    """Unrolled-CTE HITS oracle over an edge-producing subquery
    (columns ``src, dst``), matching ``operators.graph.hits``:
    all-ones seeds, auth half-step then hub half-step per round, L2
    normalization after each half-step, absent-side scores 0. CTEs
    are MATERIALIZED — each score level feeds both the next half-step
    and its own norm, and DuckDB would otherwise re-evaluate the
    whole prefix exponentially (repo-documented pitfall)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "vertices AS MATERIALIZED (SELECT src AS id FROM edges"
        " UNION SELECT dst AS id FROM edges)",
        "h0 AS (SELECT id, 1.0 AS hub FROM vertices)",
    ]
    for i in range(n_iter):
        ctes += [
            f"a{i + 1}r AS MATERIALIZED (SELECT v.id,"
            f" COALESCE(s.x, 0.0) AS auth FROM vertices v LEFT JOIN"
            f" (SELECT e.dst AS id, SUM(h.hub) AS x FROM edges e"
            f" JOIN h{i} h ON e.src = h.id GROUP BY e.dst) s"
            f" ON v.id = s.id)",
            f"a{i + 1}n AS (SELECT sqrt(SUM(auth * auth)) AS nrm"
            f" FROM a{i + 1}r)",
            f"a{i + 1} AS MATERIALIZED (SELECT id, auth / nrm AS auth"
            f" FROM a{i + 1}r CROSS JOIN a{i + 1}n)",
            f"h{i + 1}r AS MATERIALIZED (SELECT v.id,"
            f" COALESCE(s.x, 0.0) AS hub FROM vertices v LEFT JOIN"
            f" (SELECT e.src AS id, SUM(a.auth) AS x FROM edges e"
            f" JOIN a{i + 1} a ON e.dst = a.id GROUP BY e.src) s"
            f" ON v.id = s.id)",
            f"h{i + 1}n AS (SELECT sqrt(SUM(hub * hub)) AS nrm"
            f" FROM h{i + 1}r)",
            f"h{i + 1} AS MATERIALIZED (SELECT id, hub / nrm AS hub"
            f" FROM h{i + 1}r CROSS JOIN h{i + 1}n)",
        ]
    tail = (
        f"SELECT h.id, ROUND(h.hub, {round_dp}) AS hub,"
        f" ROUND(a.auth, {round_dp}) AS auth"
        f" FROM h{n_iter} h JOIN a{n_iter} a ON h.id = a.id ORDER BY h.id"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + tail

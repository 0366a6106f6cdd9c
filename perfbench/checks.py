"""Output checks that do not use Spark.

Each reference is computed from the generator's own data (never from
the engine's output) and compared outside the timed window:

* wiki_dag - a numpy PageRank over the true edge set with the
  reference's parity semantics (1/N seed, 0.15/N teleport, dangling
  mass lost), against the iter-1 and iter-8 TSV snapshots.
* graph operators - networkx for components and SCCs.
* query_tail - each query's DuckDB oracle over the same Parquet
  files, compared by ``scripts/check_oracle.py``'s ``value_hash``;
  on a hash mismatch, row for row with floats equal to a few ulp.

Every check returns a list of error strings, empty when correct (the
query check also says whether it matched only up to float rounding).
"""

from __future__ import annotations

import csv
import glob
import math
import os

import numpy as np

REL_TOL = 1e-9
FLOAT_REL_TOL = 1e-15  # about 4 ulp
FLOAT_ABS_TOL = 1e-9


# ---------------------------------------------------------------------------
# wiki_dag
# ---------------------------------------------------------------------------


def parity_pagerank(src: np.ndarray, dst: np.ndarray, n: int, iters: int) -> np.ndarray:
    """Reference PageRank over vertices ``0..n-1`` (every vertex of the
    edge set): rank' = 0.15/N + 0.85 * sum(rank/outdeg) over in-links."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = rank[src] / outdeg[src]
        rank = 0.15 / n + 0.85 * np.bincount(dst, weights=contrib, minlength=n)
    return rank


def read_tsv_dir(path: str) -> tuple[list[tuple[str, float]], int]:
    """Rows of a snapshot directory, and how many of them had a quoted
    title: Spark's CSV writer quotes a title that contains ``"`` (and
    backslash-escapes the quote), where the reference writes the bare
    title. The benchmark reads both and reports the count."""
    rows, quoted = [], 0
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8", newline="") as fh:
            for title, rank in csv.reader(
                fh, delimiter="\t", quotechar='"', escapechar="\\", doublequote=False
            ):
                rows.append((title, float(rank)))
        with open(part, encoding="utf-8") as fh:
            quoted += sum(line.startswith('"') for line in fh)
    return rows, quoted


def check_wiki_snapshots(
    out_dir: str, titles: list[str], src: np.ndarray, dst: np.ndarray, iters=(1, 8)
) -> list[str]:
    n = len(titles)
    errors = []
    for it in iters:
        rank = parity_pagerank(src, dst, n, it)
        cut = 5.0 / n
        want = {titles[i]: rank[i] for i in np.flatnonzero(rank > cut)}
        # ranks within rounding of the cut may fall either side of it
        fuzzy = {
            titles[i]
            for i in np.flatnonzero(np.abs(rank - cut) <= REL_TOL * cut)
        }
        got, _ = read_tsv_dir(os.path.join(out_dir, f"PageRank.iter{it}.out"))
        if not got:
            errors.append(f"iter{it}: empty snapshot")
            continue
        got_map = dict(got)
        missing = set(want) - set(got_map) - fuzzy
        extra = set(got_map) - set(want) - fuzzy
        if missing or extra:
            errors.append(
                f"iter{it}: {len(missing)} missing / {len(extra)} extra pages"
                f" (e.g. {sorted(missing)[:2]} {sorted(extra)[:2]})"
            )
        bad = [
            t for t, r in got_map.items()
            if t in want and not math.isclose(r, want[t], rel_tol=REL_TOL)
        ]
        if bad:
            t = bad[0]
            errors.append(
                f"iter{it}: {len(bad)} ranks differ (e.g. {t}: {got_map[t]!r}"
                f" vs {want[t]!r})"
            )
        order = [(-r, t) for t, r in got]
        if order != sorted(order):
            errors.append(f"iter{it}: snapshot not in (rank desc, id asc) order")
    return errors


# ---------------------------------------------------------------------------
# graph_loops
# ---------------------------------------------------------------------------


def graph_references(src: np.ndarray, dst: np.ndarray) -> dict:
    """Expected operator outputs, keyed like the workload's operators."""
    import networkx as nx

    und = nx.Graph()
    und.add_edges_from(zip(src.tolist(), dst.tolist()))
    di = nx.DiGraph()
    di.add_edges_from(zip(src.tolist(), dst.tolist()))
    ref = {}
    ref["cc"] = {
        v: min(comp) for comp in nx.connected_components(und) for v in comp
    }
    ref["scc"] = {
        v: min(comp) for comp in nx.strongly_connected_components(di) for v in comp
    }
    return ref


def check_graph_result(op: str, rows: list, ref: dict) -> list[str]:
    want = ref[op]
    got = {r[0]: r[1] for r in rows}
    if got == want:
        return []
    diff = [v for v in set(got) | set(want) if got.get(v) != want.get(v)]
    v = sorted(diff)[0]
    return [
        f"{op}: {len(diff)} vertices differ (e.g. {v}: {got.get(v)} vs {want.get(v)})"
    ]


# ---------------------------------------------------------------------------
# query_tail
# ---------------------------------------------------------------------------


def duckdb_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_result(con, sql: str) -> tuple[list[str], list, str]:
    """The oracle's column names, rows and ``value_hash``."""
    res = con.execute(sql)
    return hashed([d[0] for d in res.description], res.fetchall())


def hashed(cols: list[str], rows: list) -> tuple[list[str], list, str]:
    from scripts.check_oracle import value_hash

    return cols, rows, value_hash(cols, rows)


def _cell_key(v) -> str:
    """A sort key that a last-digit float difference does not move."""
    from scripts.check_oracle import _norm_cell

    if isinstance(v, float) and not math.isnan(v):
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell_key(x) for x in v) + "]"
    return _norm_cell(v)


def _cells_close(a, b) -> bool:
    from scripts.check_oracle import _norm_cell

    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_cells_close(x, y) for x, y in zip(a, b))
    return _norm_cell(a) == _norm_cell(b)


def same_up_to_rounding(cols, rows, want_cols, want_rows) -> bool:
    """Row for row equal, floats within ``FLOAT_REL_TOL`` (a few ulp) or
    ``FLOAT_ABS_TOL`` (the 9 decimals ``value_hash`` rounds to). The
    hash rounds to 9 decimals, so it tells two floats apart that differ
    in their last binary digit when they are large or sit on a rounding
    boundary, e.g. DuckDB's DECIMAL to DOUBLE cast, which is not
    correctly rounded (NOTES.md)."""

    def canon(cs, rs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        out = [[r[i] for i in order] for r in rs]
        return sorted(out, key=lambda r: [_cell_key(v) for v in r])

    got, want = canon(cols, rows), canon(want_cols, want_rows)
    return all(
        all(_cells_close(a, b) for a, b in zip(g, w)) for g, w in zip(got, want)
    )


def check_query_result(name: str, cols: list[str], rows: list, want) -> tuple[list[str], bool]:
    """Errors, and whether the output matched only up to float rounding
    (the report lists those queries)."""
    from scripts.check_oracle import value_hash

    want_cols, want_rows, want_hash = want
    if sorted(cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(want_cols)}"], False
    if len(rows) != len(want_rows):
        return [f"{name}: {len(rows)} rows vs oracle {len(want_rows)}"], False
    if value_hash(cols, rows) == want_hash:
        return [], False
    if same_up_to_rounding(cols, rows, want_cols, want_rows):
        return [], True
    return [f"{name}: values differ from the DuckDB oracle"], False

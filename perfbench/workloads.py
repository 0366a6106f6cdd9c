"""The benchmark's two workloads.

Each workload is a closed loop with one client: :meth:`pass_ops` lists
the operations of one pass, :meth:`run` executes one operation (the
timed part) and :meth:`check` verifies its output against a reference
built without Spark. :meth:`traced` runs the same operation with spans
around each layer call, materializing each layer's output at its
boundary so that Spark's lazy plans do not move work across layers.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

from inputs import build_tables, build_wiki, ensure, wiki_edge_titles, write_edges

HERE = os.path.dirname(os.path.abspath(__file__))

# input sizes (fixed; the seed changes only the contents)
WIKI_PAGES = 2_000
MEAN_LINKS = 3.0
TABLES_SF = 0.01


class Workload:
    name = ""
    # timed passes of an untraced run, at least: enough that every run
    # takes the median of the same number of passes (NOTES.md)
    passes = 2
    # untimed passes before them, which set-up includes (NOTES.md)
    warm_passes = 1

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.notes: dict = {}  # observations for the report, not metrics

    def start(self, spark) -> None:
        self.spark = spark

    def pass_ops(self) -> list[str]:
        raise NotImplementedError

    def before(self, op: str) -> None:
        """Untimed preparation for one operation."""

    def run(self, op: str):
        raise NotImplementedError

    def traced(self, op: str):
        raise NotImplementedError

    def check(self, op: str, result) -> list[str]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# wiki_graph: the reference's DAG through the CLI, then the iterative
# graph operators on the same dump's link graph
# ---------------------------------------------------------------------------

# shortest paths, label propagation, HITS and k-core are left out of
# the pass: the run-time budget of the benchmark does not hold them
# (NOTES.md)
GRAPH_OPS = ("cc", "scc")


class WikiGraph(Workload):
    name = "wiki_graph"

    def prepare(self) -> dict:
        root = os.path.join(self.work, "inputs", f"wiki-{self.seed}")
        size = {"pages": WIKI_PAGES, "mean_links": MEAN_LINKS}
        meta, built = ensure(root, "wiki", self.seed, size, self._build)
        self.pages = WIKI_PAGES
        self.dump = os.path.join(root, "dump")
        self.graph = os.path.join(root, "graph")
        self.out = os.path.join(self.work, "out", "wiki")
        self.truth = wiki_edge_titles(root)
        with open(os.path.join(root, "reference.json")) as fh:
            ref = json.load(fh)
        self.ref = {op: dict(pairs) for op, pairs in ref.items()}
        return dict(meta, rebuilt=built)

    def _build(self, root: str) -> dict:
        """The dump (alone in dump/, the CLI's input), its link graph as
        a Parquet edge list (alone in graph/, the graph operators'
        input), and the networkx reference outputs beside them."""
        from checks import graph_references

        meta = build_wiki(root, self.seed, WIKI_PAGES, MEAN_LINKS)
        src, dst = np.load(os.path.join(root, "true_edges.npy"))
        write_edges(os.path.join(root, "graph"), src, dst)
        ref = graph_references(src, dst)
        with open(os.path.join(root, "reference.json"), "w") as fh:
            json.dump({op: sorted(ref[op].items()) for op in ref}, fh)
        return meta

    def pass_ops(self):
        return ["cli", *GRAPH_OPS]

    def before(self, op):
        # each CLI pass starts like a fresh invocation: nothing cached
        # from the previous pass (the CLI caches its edge frame)
        if op == "cli":
            self.spark.catalog.clearCache()

    def run(self, op):
        if op == "cli":
            from pagerank_hadoop_spark.__main__ import main

            rc = main([self.dump, self.out])
            if rc != 0:
                raise RuntimeError(f"CLI exited {rc}")
            return None
        from pagerank_hadoop_spark import runtime_counters
        from pagerank_hadoop_spark.session import load_table

        runtime_counters.reset()
        edges = load_table(self.spark, self.graph, "edges")
        return [tuple(r) for r in self._graph_op(op, edges).collect()]

    def _graph_op(self, op, edges):
        from pagerank_hadoop_spark.operators import graph as G

        if op == "cc":
            return G.connected_components(edges)
        return G.strongly_connected_components(edges)

    def traced(self, op):
        if op == "cli":
            return self._traced_cli()
        from pagerank_hadoop_spark import runtime_counters
        from pagerank_hadoop_spark.session import load_table

        t = self.tracer
        runtime_counters.reset()
        with t.span("session.load_table"):
            edges = load_table(self.spark, self.graph, "edges")
        with t.span(f"operators.graph.{op}"):
            rows = [tuple(r) for r in self._graph_op(op, edges).collect()]
        t.counts[f"graph.{op}_rounds"] += runtime_counters.snapshot()["rounds"]
        return rows

    def _traced_cli(self):
        """The CLI's DAG, call by call, each layer's output cached and
        counted at its boundary; the writes are those of
        ``__main__.main`` on the same frames."""
        from pyspark.sql import functions as F

        from pagerank_hadoop_spark.__main__ import SNAPSHOT_ITERS, THRESHOLD_NUM
        from pagerank_hadoop_spark.functions.wikitext import (
            extract_links,
            remove_red_links,
        )
        from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n, top_ranks
        from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages

        t = self.tracer
        with t.span("sources.wiki"):
            parsed = parse_pages(read_pages(self.spark, self.dump)).cache()
            parsed.count()
        with t.span("functions.wikitext"):
            links = extract_links(parsed).cache()
            t.counts["wikitext.extracted"] += links.count()
            edges = remove_red_links(links, parsed).cache()
            t.counts["wikitext.kept"] += edges.count()
        for iters in SNAPSHOT_ITERS:
            with t.span("operators.pagerank.adjacency"):
                ranks, n = pagerank_with_n(edges, n_iter=iters, parity=True)
            with t.span("operators.pagerank.rounds"):
                ranks = ranks.cache()
                ranks.count()
            t.counts["pagerank.rounds"] += iters
            with t.span("operators.pagerank.topk"):
                out = top_ranks(ranks, n, threshold=THRESHOLD_NUM / n).cache()
                out.count()
            with t.span("__main__.write"):
                tsv = os.path.join(self.out, f"PageRank.iter{iters}.out")
                out.select("id", F.col("rank").cast("string")).coalesce(1).write.mode(
                    "overwrite"
                ).option("sep", "\t").csv(tsv)
                out.write.mode("overwrite").parquet(
                    os.path.join(self.out, f"pagerank_iter{iters}.parquet")
                )
        self.spark.catalog.clearCache()

    def check(self, op, result):
        from checks import check_graph_result, check_wiki_snapshots, read_tsv_dir

        if op == "cli":
            titles, src, dst = self.truth
            errors = check_wiki_snapshots(self.out, titles, src, dst)
            # a known deviation from the reference's bare TSV, reported
            # rather than failed (NOTES.md)
            _, quoted = read_tsv_dir(os.path.join(self.out, "PageRank.iter8.out"))
            self.notes["iter8_quoted_titles"] = quoted
            return errors
        return check_graph_result(op, result, self.ref)


# ---------------------------------------------------------------------------
# query_tail: short registry queries, where the per-query floor dominates
# ---------------------------------------------------------------------------

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def query_family(name: str, family_keywords) -> str:
    """The first family whose keywords match ``name``: a keyword ending
    in ``_`` matches its start, ``_topk`` its end, any other a
    substring; ``relational`` takes the rest."""
    for family, keywords in family_keywords:
        for k in keywords:
            if k == "_topk":
                hit = name.endswith(k)
            elif k.endswith("_"):
                hit = name.startswith(k)
            else:
                hit = k in name
            if hit:
                return family
    return "relational"


def tail_sample() -> dict[str, str]:
    """The pinned sample (``tail_sample.json`` states the rule):
    ``per_family`` candidates from each family, drawn with the pinned
    ``sample_seed``. Returns ``{query: family}`` in a fixed order."""
    with open(os.path.join(HERE, "tail_sample.json")) as fh:
        spec = json.load(fh)
    by_family: dict[str, list[str]] = {}
    for name, t in spec["times_sf01_s"].items():
        if t is not None and t < spec["max_sf01_s"]:
            by_family.setdefault(query_family(name, spec["family_keywords"]), []).append(name)
    rng = random.Random(spec["sample_seed"])
    out = {}
    for family in sorted(spec["families"]):
        names = sorted(by_family.get(family, []))
        for name in rng.sample(names, min(spec["per_family"], len(names))):
            out[name] = family
    return out


class QueryTail(Workload):
    name = "query_tail"
    # the JVM is still warming after one pass of six unlike queries
    warm_passes = 2

    def prepare(self) -> dict:
        from checks import duckdb_connection, oracle_result

        from pagerank_hadoop_spark import queries as registry

        root = os.path.join(self.work, "inputs", f"tables-{self.seed}")
        meta, built = ensure(
            root, "tables", self.seed, {"sf": TABLES_SF},
            lambda r: build_tables(r, self.seed, TABLES_SF),
        )
        self.root = root
        self.sample = tail_sample()
        self.queries = registry.queries()
        oracles = registry.oracle_sql()
        con = duckdb_connection(root, TABLES)
        self.ref = {name: oracle_result(con, oracles[name]) for name in self.sample}
        con.close()
        return dict(meta, rebuilt=built, sample=len(self.sample))

    def pass_ops(self):
        # a fixed order, so every run warms and measures the same way
        return list(self.sample)

    def run(self, op):
        df = self.queries[op](self.spark, self.root)
        return df.columns, [tuple(r) for r in df.collect()]

    def traced(self, op):
        t = self.tracer
        with t.span("queries.build"):
            df = self.queries[op](self.spark, self.root)
        with t.span("queries.exec"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def traced_tables(self):
        """Time ``session.load_table`` once per test table (the
        Parquet schema inference every query pays per table read)."""
        from pagerank_hadoop_spark.session import load_table

        for name in TABLES:
            with self.tracer.span("session.load_table"):
                load_table(self.spark, self.root, name)

    def check(self, op, result):
        from checks import check_query_result

        cols, rows = result
        errors, rounded = check_query_result(op, cols, rows, self.ref[op])
        if rounded:  # matched only up to the last float digits
            self.notes.setdefault("matched_up_to_rounding", {})
            self.notes["matched_up_to_rounding"][op] = self.notes["matched_up_to_rounding"].get(op, 0) + 1
        return errors


WORKLOADS = {w.name: w for w in (WikiGraph, QueryTail)}

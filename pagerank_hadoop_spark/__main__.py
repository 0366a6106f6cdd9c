"""CLI parity with the reference's single entry point.

Reference: ``hadoop jar PageRank.jar <input-dir> <output-dir>``
(``/root/reference/README.md:27``, ``PageRank.java:422-498``) — 13
MapReduce jobs writing ordered rank snapshots after iteration 1 and
iteration 8 (``PageRank.java:480-487,492-497``) as tab-separated
``page \\t rank`` text.

Here: ``python -m pagerank_hadoop_spark <input-dir> <output-dir>``
runs the same DAG — XML page source, link extraction, red-link
semi-join, PageRank (parity semantics: 1/N seed, 0.15/N teleport,
dangling mass lost), the ``rank > 5/N`` cut
(``PageRank.java:336,346``), descending sort — as ONE 8-round rank
run over one adjacency layout, like the reference's
(``pagerank_snapshots``: the iteration-1 snapshot is taken after
round 1 and rounds 2-8 resume from it), and writes
``PageRank.iter1.out`` / ``PageRank.iter8.out`` TSV directories plus
a combined Parquet result (the scale-appropriate sink; TSV kept for
byte-level reference parity).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from pagerank_hadoop_spark.functions.wikitext import extract_links, remove_red_links
from pagerank_hadoop_spark.operators.pagerank import pagerank_snapshots, top_ranks
from pagerank_hadoop_spark.session import get_spark
from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages

SNAPSHOT_ITERS = (1, 8)  # PageRank.java:480,492
THRESHOLD_NUM = 5.0      # PageRank.java:336


def _run_query(argv: list[str]) -> int:
    """``run <query> [sf_dir] [-o out.parquet]`` — execute any
    registered query (the full engine surface, not just the reference
    DAG) and print it, or write parquet with ``-o``. ``list`` prints
    the registry with oracle-backing marks."""
    from pagerank_hadoop_spark import queries as registry

    qs = registry.queries()
    if not argv or argv[0] in ("-h", "--help"):
        print(
            "usage: python -m pagerank_hadoop_spark run <query> [sf_dir]"
            " [-o out.parquet]",
            file=sys.stderr,
        )
        return 2
    name = argv[0]
    if name not in qs:
        print(f"unknown query '{name}'; try: python -m"
              " pagerank_hadoop_spark list", file=sys.stderr)
        return 2
    rest = argv[1:]
    out = None
    if "-o" in rest:
        i = rest.index("-o")
        if i + 1 >= len(rest):
            print("error: -o requires an output path", file=sys.stderr)
            return 2
        out = rest[i + 1]
        rest = rest[:i] + rest[i + 2:]
    sf_dir = rest[0] if rest else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(f"run-{name}")
    df = qs[name](spark, sf_dir)
    if out:
        df.write.mode("overwrite").parquet(out)
        print(f"wrote {out}")
    else:
        df.show(50, truncate=False)
    return 0


def _list_queries() -> int:
    from pagerank_hadoop_spark import queries as registry

    oracles = registry.oracle_sql()
    for name in sorted(registry.queries()):
        mark = "oracle" if name in oracles else "rows-only"
        print(f"{name:36s} {mark}")
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "run":
        return _run_query(argv[1:])
    if argv and argv[0] == "list":
        return _list_queries()
    if len(argv) != 2:
        print(
            "usage: python -m pagerank_hadoop_spark <input-dir> <output-dir>\n"
            "       python -m pagerank_hadoop_spark run <query> [sf_dir] [-o out.parquet]\n"
            "       python -m pagerank_hadoop_spark list",
            file=sys.stderr,
        )
        return 2
    input_dir, output_dir = argv
    spark = get_spark("pagerank-cli")
    parsed = parse_pages(read_pages(spark, input_dir))
    edges = remove_red_links(extract_links(parsed), parsed).cache()

    for iters, ranks, n in pagerank_snapshots(edges, SNAPSHOT_ITERS):
        # no kept link (N = 0): the reference's 5.0/N is +Infinity,
        # which keeps no row, so both snapshots are written empty
        threshold = THRESHOLD_NUM / n if n else float("inf")
        # cached: both snapshots below are written from one computation
        out = top_ranks(ranks, n, threshold=threshold).cache()
        tsv_dir = os.path.join(output_dir, f"PageRank.iter{iters}.out")
        # bare ``title\trank`` text lines, as the reference writes them
        # (a CSV writer would quote and escape titles holding '"');
        # coalesce(1): the reference's ordered snapshot is one file; at
        # real scale drop this and keep the range-partitioned sort output
        line = F.concat_ws("\t", "id", F.col("rank").cast("string"))
        out.select(line).coalesce(1).write.mode("overwrite").text(tsv_dir)
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"pagerank_iter{iters}.parquet")
        )
        out.unpersist()
    edges.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

"""CLI parity with the reference's single entry point.

Reference: ``hadoop jar PageRank.jar <input-dir> <output-dir>``
(``/root/reference/README.md:27``, ``PageRank.java:422-498``) — 13
MapReduce jobs writing ordered rank snapshots after iteration 1 and
iteration 8 (``PageRank.java:480-487,492-497``) as tab-separated
``page \\t rank`` text.

Here: ``python -m pagerank_hadoop_spark <input-dir> <output-dir>``
runs the same DAG — XML page source, link extraction, red-link
removal (the reference's tagged union, one shuffle on the link
target), PageRank (parity semantics: 1/N seed, 0.15/N teleport,
dangling mass lost), the ``rank > 5/N`` cut
(``PageRank.java:336,346``), descending sort — as ONE 8-round rank
run over one adjacency layout, like the reference's
(``pagerank_snapshots``: the iteration-1 snapshot is taken after
round 1 and rounds 2-8 resume from it), and writes
``PageRank.iter1.out`` / ``PageRank.iter8.out`` text directories
(bare ``page \\t rank`` lines, for byte-level reference parity) plus
one Parquet rank table per snapshot, ``pagerank_iter1.parquet`` /
``pagerank_iter8.parquet`` (the scale-appropriate sink). The four
writes start together once the rank run has ended.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
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
    # read once on the driver path; the distributed path caches its own
    edges = remove_red_links(extract_links(parsed), parsed)
    # the rank run ends before any write plans, so no loop scope is
    # open while the writes run
    snapshots = list(pagerank_snapshots(edges, SNAPSHOT_ITERS))
    writes = []
    for iters, ranks, n in snapshots:
        # no kept link (N = 0): the reference's 5.0/N is +Infinity,
        # which keeps no row, so both snapshots are written empty
        threshold = THRESHOLD_NUM / n if n else float("inf")
        # materialized once (one job): both writes below read it
        out = top_ranks(ranks, n, threshold=threshold).localCheckpoint(eager=True)
        writes += _writes(output_dir, iters, out)
    _write_all(spark, writes)
    return 0


def _writes(output_dir: str, iters: int, out):
    """A snapshot's two writes: the bare-text snapshot and its Parquet
    rank table."""
    tsv_dir = os.path.join(output_dir, f"PageRank.iter{iters}.out")
    # bare ``title\trank`` text lines, as the reference writes them
    # (a CSV writer would quote and escape titles holding '"');
    # coalesce(1): the reference's ordered snapshot is one file; at
    # real scale drop this and keep the range-partitioned sort output
    line = F.concat_ws("\t", "id", F.col("rank").cast("string"))
    text = out.select(line).coalesce(1).write.mode("overwrite")
    table = out.write.mode("overwrite")
    return [
        partial(text.text, tsv_dir),
        partial(table.parquet, os.path.join(output_dir, f"pagerank_iter{iters}.parquet")),
    ]


def _write_all(spark, writes) -> None:
    """Run ``writes`` at once, one thread each, and re-raise the first
    error (in ``writes``' order) once every write has ended. A small
    write costs about the same whatever its size, so running them at
    once shortens the call; each thread runs under the caller's job
    group and local properties (``inheritable_thread_target``)."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

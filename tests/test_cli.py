"""End-to-end CLI test: the reference's `hadoop jar <in> <out>` shape
(`python -m pagerank_hadoop_spark <in> <out>`) on a synthetic dump."""

from __future__ import annotations

import glob
import os

from pagerank_hadoop_spark.__main__ import main


def _page(title: str, body: str) -> str:
    return (
        f"<page><title>{title}</title><revision>"
        f"<text>{body}</text></revision></page>"
    )


def test_cli_writes_ordered_snapshots(spark, tmp_path):
    dump = tmp_path / "dump"
    dump.mkdir()
    # absorbing star: everybody (incl. Hub itself) links to Hub, so the
    # hub's rank is stable across iterations (a Hub→A edge instead
    # would 2-cycle the mass and drop both below the cut at iter 8).
    # With 8 vertices rank(Hub) ≈ 0.86 > 5/8, the only survivor.
    spokes = "".join(
        _page(f"S{i}", "[[Hub]] junk [[Missing Page]]") for i in range(6)
    )
    (dump / "part0.xml").write_text(
        _page("Hub", "[[Hub]]")
        + _page("A", "[[Hub]] [[Image:x]] [[bad{link}]]")
        + spokes
    )
    out = tmp_path / "result"
    assert main([str(dump), str(out)]) == 0

    for snap in ("PageRank.iter1.out", "PageRank.iter8.out"):
        files = glob.glob(os.path.join(out, snap, "part-*"))
        assert files, f"missing TSV snapshot {snap}"
        rows = [
            line.split("\t")
            for f in files
            for line in open(f).read().splitlines()
        ]
        ranks = [float(r) for _, r in rows]
        assert ranks == sorted(ranks, reverse=True)
        assert rows[0][0] == "Hub"  # the only page above 5/N, or at least top
    pq = spark.read.parquet(str(out / "pagerank_iter8.parquet"))
    assert pq.columns == ["id", "rank"]


def test_cli_snapshots_keep_titles_bare(spark, tmp_path):
    """Snapshot lines are ``title\trank`` exactly as the reference
    writes them: a title holding a quote (mid-title or leading) or a
    backslash is neither quoted nor escaped."""
    titles = ['Say_"Hi"', '"Quoted"_lead', "Back\\slash"]
    dump = tmp_path / "dump"
    dump.mkdir()
    # 30 spokes and the three titles all link to the three titles,
    # so the titles hold nearly all the mass: each ranks above 5/N
    links = "".join(f"[[{t}]]" for t in titles)
    pages = [t.replace('"', "&quot;") for t in titles]
    (dump / "part0.xml").write_text(
        "".join(_page(p, links) for p in pages + [f"S{i}" for i in range(30)])
    )
    out = tmp_path / "result"
    assert main([str(dump), str(out)]) == 0

    for snap in ("PageRank.iter1.out", "PageRank.iter8.out"):
        files = glob.glob(os.path.join(out, snap, "part-*"))
        lines = [ln for f in files for ln in open(f).read().splitlines()]
        got = {ln.split("\t")[0] for ln in lines}
        assert got == set(titles), lines
        assert all(len(ln.split("\t")) == 2 for ln in lines)


def _outputs(spark, out) -> dict:
    """Each snapshot's bytes and each rank table's sorted rows."""
    got = {}
    for k in (1, 8):
        files = sorted(glob.glob(os.path.join(out, f"PageRank.iter{k}.out", "part-*")))
        got[f"iter{k}.out"] = b"".join(open(f, "rb").read() for f in files)
        table = spark.read.parquet(str(out / f"pagerank_iter{k}.parquet"))
        assert table.columns == ["id", "rank"]
        got[f"iter{k}.parquet"] = sorted(tuple(r) for r in table.collect())
    return got


def test_cli_lays_out_once_and_matches_pagerank_with_n(
    spark, tmp_path, monkeypatch, pagerank_module
):
    """The CLI's two snapshots come from one rank run, on either path:
    distributed, the adjacency is laid out (and N counted) once per
    ``main``; on a graph that fits one task, all rounds run in one
    task and nothing is laid out. Either way the iter-1 and iter-8
    Parquet rank tables equal ``pagerank_with_n``'s for ``n_iter=1``
    and ``n_iter=8``, compared float for float with ``==``."""
    from pagerank_hadoop_spark.__main__ import THRESHOLD_NUM
    from pagerank_hadoop_spark.functions.wikitext import (
        extract_links,
        remove_red_links,
    )
    from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages

    P = pagerank_module
    dump = tmp_path / "dump"
    dump.mkdir()
    hubs = ["H0", "H1", "H2"]
    pages = [_page(h, "".join(f"[[{o}]]" for o in hubs if o != h)) for h in hubs]
    for i in range(30):
        links = [h for j, h in enumerate(hubs) if j == 0 or i % (j + 1) == 0]
        pages.append(_page(f"S{i}", "".join(f"[[{h}]]" for h in links)))
    (dump / "part0.xml").write_text("".join(pages))

    parsed = parse_pages(read_pages(spark, str(dump)))
    edges = remove_red_links(extract_links(parsed), parsed)
    assert P._small_string_graph(edges, None)  # the default takes one task
    for one_task in (True, False):
        out = tmp_path / f"result-{one_task}"
        layouts, one_task_runs = [], []
        real_layout, real_run = P._laid_out, P._ranks_in_one_task
        with monkeypatch.context() as m:
            m.setattr(P, "_fits_one_task", lambda *a, **k: one_task)
            m.setattr(
                P, "_laid_out",
                lambda *a, **k: layouts.append(1) or real_layout(*a, **k),
            )
            m.setattr(
                P, "_ranks_in_one_task",
                lambda *a, **k: one_task_runs.append(1) or real_run(*a, **k),
            )
            assert main([str(dump), str(out)]) == 0
            assert (len(layouts), len(one_task_runs)) == (1 - one_task, one_task)
            for k in (1, 8):
                ranks, n = P.pagerank_with_n(edges, n_iter=k, parity=True)
                want = P.top_ranks(ranks, n, threshold=THRESHOLD_NUM / n).collect()
                got = _outputs(spark, out)[f"iter{k}.parquet"]
                assert got == sorted(tuple(r) for r in want) and got, (one_task, k)


def _hub_dump(path, hubs: int = 3, spokes: int = 40) -> None:
    """Hubs that link on to each other and to one spoke each, and
    spokes that link to one or two hubs and some to another spoke: the
    hubs rank above 5/N and sum in-links of several sizes, so the
    order of their sums shows in the last ulp."""
    path.mkdir()
    h = [f"Hub{j}" for j in range(hubs)]
    pages = [
        _page(h[j], f"[[{h[(j + 1) % hubs]}]] [[{h[(j + 2) % hubs]}]] [[Spoke{j}]]")
        for j in range(hubs)
    ]
    for i in range(spokes):
        links = {h[i % hubs]}
        if i % 2:
            links.add(h[(i * 5 + 1) % hubs])
        if i % 3 == 1:
            links.add(f"Spoke{(i * 7 + 2) % spokes}")
        pages.append(_page(f"Spoke{i}", "".join(f"[[{t}]]" for t in sorted(links))))
    (path / "part0.xml").write_text("".join(pages))


def test_cli_results_do_not_depend_on_shuffle_width(
    spark, tmp_path, monkeypatch, pagerank_module
):
    """The snapshots and rank tables are the same bytes and floats at
    shuffle widths 8 and 12, on the one-task path and the distributed
    one, and the two paths agree: every rank adds its in-links in
    (source, target) order whatever the width. The full rank tables
    of ``pagerank_snapshots`` over the dump's edges, uncached, agree
    the same way."""
    from pagerank_hadoop_spark.functions.wikitext import (
        extract_links,
        remove_red_links,
    )
    from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages

    P = pagerank_module
    dump = tmp_path / "dump"
    _hub_dump(dump)
    parsed = parse_pages(read_pages(spark, str(dump)))
    edges = remove_red_links(extract_links(parsed), parsed)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    got = {}
    try:
        for one_task in (True, False):
            with monkeypatch.context() as m:
                m.setattr(P, "_fits_one_task", lambda *a, **k: one_task)
                for width in ("8", "12"):
                    # main's get_spark sets the width from the core count
                    m.setenv("SPARK_GRAFT_CPUS", width)
                    out = tmp_path / f"result-{one_task}-{width}"
                    assert main([str(dump), str(out)]) == 0
                    assert spark.conf.get(key) == width
                    got[one_task, width] = _outputs(spark, out)
                    # uncached, as a caller's edges would be
                    spark.catalog.clearCache()
                    got[one_task, width]["tables"] = [
                        sorted(tuple(r) for r in ranks.collect())
                        for _, ranks, _ in P.pagerank_snapshots(edges, (1, 8))
                    ]
    finally:
        spark.conf.set(key, before)
    first = got[True, "8"]
    assert len(first["iter1.parquet"]) >= 3 and len(first["iter8.parquet"]) >= 3
    for run, outputs in got.items():
        assert outputs == first, run


def test_cli_writes_empty_snapshots_when_no_link_is_kept(
    spark, tmp_path, monkeypatch, pagerank_module
):
    """A dump with no kept link has N = 0. The reference's 5.0/N cut
    is then +Infinity and keeps no row, so both snapshots and both
    rank tables are written empty and the CLI exits 0, on both paths;
    no round runs."""
    from pagerank_hadoop_spark import runtime_counters

    P = pagerank_module
    dump = tmp_path / "dump"
    dump.mkdir()
    (dump / "part0.xml").write_text(_page("Lonely", "no links here"))
    for one_task in (True, False):
        out = tmp_path / f"result-{one_task}"
        with monkeypatch.context() as m:
            m.setattr(P, "_fits_one_task", lambda *a, **k: one_task)
            runtime_counters.reset()
            assert main([str(dump), str(out)]) == 0
        assert runtime_counters.snapshot()["rounds"] == 0
        got = _outputs(spark, out)
        assert got == {
            "iter1.out": b"", "iter1.parquet": [],
            "iter8.out": b"", "iter8.parquet": [],
        }, one_task


def test_registry_rotation_prefers_unchecked_oracle_backed(tmp_path):
    """The driver records only the first 50 registry entries, so
    queries() must order: never-hash-checked oracle-backed first,
    already-checked oracle-backed by LAST-green round ascending
    (stalest verification first — the r7 re-verification cycle),
    rows-only last — and rotate as new CORRECTNESS_r*.json rounds
    land."""
    import json

    from pagerank_hadoop_spark import queries as Q

    names = list(Q.queries())
    oracles = Q.oracle_sql()
    done = Q._driver_checked_names()
    ranks = [
        2 if n not in oracles else (1 if n in done else 0) for n in names
    ]
    assert ranks == sorted(ranks), "registry must be grouped 0<1<2"
    last_rounds = [done[n] for n in names if n in oracles and n in done]
    assert last_rounds == sorted(
        last_rounds
    ), "checked queries must cycle stalest-green first"

    # simulate a new round's record: its hash-matched names must map to
    # that round; failures never count as checked
    some = [n for n in names if n in oracles][:3]
    rec = {n: {"hash_match": True, "rows_match": True} for n in some}
    rec["failed_one"] = {"hash_match": False}
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rec))
    got = Q._driver_checked_names(root=str(tmp_path))
    assert got == {n: 99 for n in some}

    # a LATER green supersedes an earlier one (max round wins)
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({some[0]: {"hash_match": True}})
    )
    got = Q._driver_checked_names(root=str(tmp_path))
    assert got[some[0]] == 100 and got[some[1]] == 99

    # corrupt file is skipped, not fatal
    (tmp_path / "CORRECTNESS_r98.json").write_text("{not json")
    assert Q._driver_checked_names(root=str(tmp_path))[some[0]] == 100


def test_cli_run_and_list(capsys):
    from pagerank_hadoop_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "pagerank_topk" in out and "oracle" in out

    assert main(["run", "nonexistent_query"]) == 2
    assert main(["run"]) == 2
    # `-o` with no operand is a usage error (exit 2), not an IndexError
    assert main(["run", "topk_orders", "-o"]) == 2
    assert "requires an output path" in capsys.readouterr().err
    assert main(["run", "topk_orders", "/root/testdata/sf0.001"]) == 0
    assert "o_orderkey" in capsys.readouterr().out

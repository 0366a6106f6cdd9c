"""Wiki-parity pipeline tests (SURVEY.md §5 item 4, §3.1 jobs 1-3).

Replays the reference's graph-construction semantics on a synthetic
dump: XML record framing (XmlInputFormat.java), title/text projection,
[[link]] extraction with validity rules (PageRank.java:74-126),
red-link semi-join (PageRank.java:130-157), adjacency + count + ranks.
"""

from __future__ import annotations

import os

import pytest

from pagerank_hadoop_spark.functions.wikitext import extract_links, remove_red_links
from pagerank_hadoop_spark.operators import adjacency_from_edges, pagerank
from pagerank_hadoop_spark.sources.wiki import parse_pages, read_pages

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "pages.xml")


@pytest.fixture(scope="module")
def parsed(spark):
    return parse_pages(read_pages(spark, FIXTURE)).cache()


def test_read_pages_frames_records(spark):
    pages = read_pages(spark, FIXTURE)
    rows = pages.collect()
    assert len(rows) == 4
    for r in rows:
        assert r["page_xml"].startswith("<page>")
        assert r["page_xml"].endswith("</page>")


def test_parse_titles_underscored(parsed):
    titles = {r["title"] for r in parsed.collect()}
    assert titles == {"Alpha_Page", "Beta", "Gamma_Page", "Delta"}


def test_extract_links_validity_alias_dedup(parsed):
    edges = extract_links(parsed)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got == {
        # Alpha: Beta deduped, alias split on Gamma, red link kept (pre-semi-join)
        ("Alpha_Page", "Beta"),
        ("Alpha_Page", "Gamma_Page"),
        ("Alpha_Page", "Nowhere"),
        # Beta: alias split makes Alpha_Page a dup → deduped
        ("Beta", "Alpha_Page"),
        ("Beta", "Gamma_Page"),
        # Delta: trim " Beta ", hash link rejected
        ("Delta", "Alpha_Page"),
        ("Delta", "Beta"),
    }
    # none of the invalid targets survived
    bad = {d for _, d in got} & {"has{brace", "has#hash", "image:pic.png"}
    assert not bad


def test_red_link_semi_join(spark, parsed):
    edges = extract_links(parsed)
    clean = remove_red_links(edges, parsed)
    dsts = {r["dst"] for r in clean.collect()}
    assert "Nowhere" not in dsts
    assert clean.count() == 6


# Two pages share the title Twin; Hub links to itself, to Leaf four
# ways (plain, repeated, aliased, padded) and to ``leaf``, which differs
# from a title only in case; Leaf's only link is red.
RED_LINK_DUMP = "".join(
    f"<page><title>{t}</title><revision><text>{body}</text></revision></page>"
    for t, body in (
        ("Hub", "[[Hub]] [[Leaf]] [[Leaf]] [[Leaf|again]] [[ Leaf ]] [[leaf]]"),
        ("Leaf", "[[Nowhere]]"),
        ("Twin", "[[Hub]] [[Leaf]]"),
        ("Twin", "[[Hub]] [[Other Page]]"),
        ("Other Page", "[[Twin]] [[Twin]] [[Image:x.png]] [[Twin#frag]]"),
    )
)


def _reference_red_link_removal(parsed):
    """Link extraction and red-link removal as a global
    ``dropDuplicates`` and a ``left_semi`` join on the page titles."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.functions.wikitext import (
        LINK_PATTERN,
        normalize_title,
        valid_wiki_link,
    )

    raw = F.explode(F.regexp_extract_all("text", F.lit(LINK_PATTERN), F.lit(1)))
    target = normalize_title(F.trim(F.split("raw", r"\|").getItem(0)))
    links = (
        parsed.select(F.col("title").alias("src"), raw.alias("raw"))
        .select("src", target.alias("dst"))
        .where(valid_wiki_link(F.col("dst")))
        .dropDuplicates(["src", "dst"])
    )
    titles = parsed.select(F.col("title").alias("dst")).distinct()
    return links.join(titles, "dst", "left_semi").select("src", "dst")


def test_red_link_removal_matches_semi_join_reference(spark, tmp_path):
    """The tagged union keeps the edges a ``dropDuplicates`` plus
    ``left_semi`` pipeline keeps, each once: the self-link, one edge
    for the four spellings of Hub → Leaf and for the two Twin pages'
    shared link, no edge for a target that matches a title only up to
    case, and none from a page whose only link is red. The input
    contract of ``remove_red_links``: ``src`` is non-null, as
    ``extract_links`` gives it."""
    dump = tmp_path / "dump.xml"
    dump.write_text(RED_LINK_DUMP)
    parsed = parse_pages(read_pages(spark, str(dump)))
    got = [tuple(r) for r in remove_red_links(extract_links(parsed), parsed).collect()]
    want = {tuple(r) for r in _reference_red_link_removal(parsed).collect()}
    assert set(got) == want
    assert len(got) == len(want)  # no edge twice
    assert want == {
        ("Hub", "Hub"), ("Hub", "Leaf"),
        ("Twin", "Hub"), ("Twin", "Leaf"), ("Twin", "Other_Page"),
        ("Other_Page", "Twin"),
    }


def test_adjacency_and_count(spark, parsed):
    edges = remove_red_links(extract_links(parsed), parsed)
    adj = adjacency_from_edges(edges)
    rows = {r["id"]: r["outlinks"] for r in adj.collect()}
    assert rows["Alpha_Page"] == ["Beta", "Gamma_Page"]
    assert rows["Beta"] == ["Alpha_Page", "Gamma_Page"]
    assert rows["Delta"] == ["Alpha_Page", "Beta"]
    # N counted over pages (PageRank.java:211-221): 4, though Gamma is
    # dangling (no adjacency row from edges — restored by pagerank())
    assert adj.count() == 3


def test_end_to_end_pagerank_on_wiki_graph(spark, parsed):
    edges = remove_red_links(extract_links(parsed), parsed)
    ranks = pagerank(edges, vertices=parsed.select("title"), n_iter=8, parity=True)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    assert set(got) == {"Alpha_Page", "Beta", "Gamma_Page", "Delta"}
    # Alpha is cited by Beta and Delta; Delta by nobody
    assert got["Alpha_Page"] > got["Delta"]
    assert got["Gamma_Page"] > got["Delta"]  # Gamma cited twice, dangling
    n = 4
    assert all(v >= 0.15 / n - 1e-15 for v in got.values())


def test_python_datasource_matches_jvm_reader_across_splits(spark, tmp_path):
    """The xmlpages Python DataSource (explicit XmlInputFormat.java
    byte-range protocol) must recover every page exactly once even
    when tiny splits cut records — and agree with the JVM lineSep
    reader byte for byte."""
    from pagerank_hadoop_spark.sources.wiki import (
        read_pages,
        register_xmlpages,
    )

    pages = [
        f"<page><title>p {i}</title><revision><text>body {i} "
        + "x" * (37 * (i % 11))
        + "</text></revision></page>"
        for i in range(200)
    ]
    dump = tmp_path / "dump.xml"
    dump.write_text("garbage-preamble " + " inter ".join(pages) + " trailing")

    register_xmlpages(spark)
    # 256-byte splits: every record straddles at least one boundary
    via_py = (
        spark.read.format("xmlpages")
        .option("path", str(dump))
        .option("split_size", "256")
        .load()
    )
    assert via_py.rdd.getNumPartitions() > 10
    got = sorted(r["page_xml"] for r in via_py.collect())
    assert got == sorted(pages)
    via_jvm = sorted(
        r["page_xml"] for r in read_pages(spark, str(dump)).collect()
    )
    assert got == via_jvm


def test_xpath_parse_matches_regex_parse(spark):
    """The codegen regex fast path must agree with the faithful
    DOM/XPath projection (the reference's actual semantics,
    PageRank.java:63-73) on every fixture page — including entity
    decoding and title underscore normalization."""
    from pagerank_hadoop_spark.sources.wiki import (
        parse_pages,
        parse_pages_xpath,
        read_pages,
    )

    pages = read_pages(spark, FIXTURE)
    a = sorted(map(tuple, parse_pages(pages).collect()))
    b = sorted(map(tuple, parse_pages_xpath(pages).collect()))
    assert a == b
    assert len(a) > 0

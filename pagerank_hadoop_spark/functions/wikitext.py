"""Wiki-link extraction and validation (reference operators P1–P7).

All pure Column expressions — JVM-side, whole-stage-codegen friendly;
no Python UDFs in this hot path (this runs over every page of a 100 TB
dump). The lambdas over a page's link array (``transform``,
``filter``) are Catalyst higher-order functions: they run in the JVM,
interpreted inside the stage's generated code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# [[Target]] / [[Target|alias]] — pattern from PageRank.java:74
LINK_PATTERN = r"\[\[(.+?)\]\]"


def normalize_title(col: Column | str) -> Column:
    """Space→underscore title normalization (``PageRank.java:72,92``)."""
    return F.translate(col, " ", "_")


def valid_wiki_link(col: Column | str) -> Column:
    """Validity predicate, ``isValidWikiLink`` (``PageRank.java:115-126``).

    Rejects targets containing any of ``{ } < > #`` or (case-
    insensitively) ``image:`` / ``file:``.
    """
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(c)
    return (
        ~c.rlike(r"[{}<>#]")
        & ~lc.contains("image:")
        & ~lc.contains("file:")
        & (c != "")
    )


def extract_links(
    parsed_pages: DataFrame,
    title_col: str = "title",
    text_col: str = "text",
) -> DataFrame:
    """Pages → link edges ``(src, dst)``.

    One row in → many rows out, the reference's ``OutLinkMap`` flatMap
    (``PageRank.java:81-101``): regexp find-all, alias split on ``|``
    (``:87``), trim (``:87``), validity filter (``:90``), underscore
    normalization (``:92``), per-page dedup (``:91-93``). The dedup is
    the reference's per-page HashSet: ``array_distinct`` over the
    page's own targets, so extraction runs in the scan's stage with no
    shuffle. Two pages that share a title may still give the same
    ``(src, dst)`` twice; :func:`remove_red_links` merges them.
    """
    targets = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(LINK_PATTERN), F.lit(1)),
        lambda raw: normalize_title(F.trim(F.split(raw, r"\|").getItem(0))),
    )
    kept = F.array_distinct(F.filter(targets, valid_wiki_link))
    return parsed_pages.select(F.col(title_col).alias("src"), F.explode(kept).alias("dst"))


def remove_red_links(edges: DataFrame, pages: DataFrame, title_col: str = "title") -> DataFrame:
    """Keep only edges whose target is an existing page (reference J1),
    each distinct ``(src, dst)`` once.

    The reference's tagged union (``PageRank.java:80,130-157``): link
    rows ``(dst, src)`` and one ``"!"`` marker row per page title,
    grouped once on ``dst``; every group that holds a marker keeps its
    links. A marker here is a null ``src``. The reference ran this
    shuffle on one reducer (``setNumReduceTasks(1)`` at ``:442`` — a
    scale bug); here it is one hash shuffle on ``dst`` at the session's
    width, with no broadcast and no separate ``distinct`` of the
    titles. Each group's sources are merged into one set
    (``collect_set``, partially aggregated before the shuffle), which
    drops repeated edges.

    Input contract: ``src`` is non-null, as :func:`extract_links` gives
    it; a null ``src`` would read as a marker.
    """
    links = edges.select("dst", "src")
    markers = pages.select(
        F.col(title_col).alias("dst"), F.lit(None).cast("string").alias("src")
    )
    groups = links.unionByName(markers).groupBy("dst").agg(
        F.collect_set("src").alias("srcs"),
        F.bool_or(F.isnull("src")).alias("is_page"),
    )
    return groups.where("is_page").select(F.explode("srcs").alias("src"), "dst")

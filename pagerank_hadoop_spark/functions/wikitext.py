"""Wiki-link extraction and validation (reference operators P1–P7).

All pure Column expressions — JVM-side, whole-stage-codegen friendly;
no Python UDFs in this hot path (this runs over every page of a 100 TB
dump).
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
    normalization (``:92``), per-page dedup (``:91-93``).
    """
    raw = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(LINK_PATTERN), F.lit(1))
    ).alias("raw_link")
    target = F.trim(F.split(F.col("raw_link"), r"\|").getItem(0))
    edges = (
        parsed_pages.select(F.col(title_col).alias("src"), raw)
        .select("src", normalize_title(target).alias("dst"))
        .where(valid_wiki_link(F.col("dst")))
    )
    return edges.dropDuplicates(["src", "dst"])


def remove_red_links(edges: DataFrame, pages: DataFrame, title_col: str = "title") -> DataFrame:
    """Keep only edges whose target is an existing page (reference J1).

    The reference fakes this semi-join with a tagged union + ``"!"``
    marker rows in a single-reducer shuffle (``PageRank.java:80,130-157``
    with ``setNumReduceTasks(1)`` at ``:442`` — a scale bug). Spark form:
    a real ``left_semi`` join; Catalyst broadcasts the page-title side
    when it fits, else plans a shuffled hash semi-join.
    """
    titles = pages.select(F.col(title_col).alias("dst")).distinct()
    return edges.join(titles, "dst", "left_semi").select("src", "dst")

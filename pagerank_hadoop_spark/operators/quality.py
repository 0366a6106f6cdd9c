"""Data-quality / governance operators ([EXT]): column profiling,
declarative constraint validation, and deterministic content sharding.

The reference has no notion of data quality (its inputs are trusted
wiki dumps, `PageRank.java:57-73` parses them unconditionally); at
100 TB ingest these checks are the gate every batch passes before it
reaches dedup/training-export, so they are first-class operators here.

Scale posture:

* ``profile_columns`` is ONE aggregation pass; its exact
  ``countDistinct`` over k columns Expand-multiplies rows by k+1
  before the partial aggregate.
* ``constraint_counts`` unions per-rule 1-row aggregates; FK rules are
  left-anti joins whose small (dimension) side Catalyst broadcasts.
* ``shard_key`` is a pure Column expression (md5 prefix mod n) — a
  deterministic, content-based, engine-portable partitioner for
  training-data export: the same document lands in the same shard on
  every run and on every engine, so downstream consumers can cache,
  diff, and resume per-shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile in long form:
    ``(col_name, n_nulls, n_distinct, n_rows)``.

    One aggregation pass over ``df`` (no per-column scans): null and
    distinct counts for every requested column are sibling aggregates,
    unpivoted by ``stack`` into one row per column. NDV is exact, so k
    distincts cost a (k+1)× row expansion.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - __nn_{c}, cast(__nd_{c} as bigint)" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (col_name, n_nulls, n_distinct)",
        "n_rows",
    )


def constraint_counts(rules: list[tuple[str, DataFrame]]) -> DataFrame:
    """Declarative constraint validation: ``(rule, violations)`` with
    one row per rule, where each rule is a (name, violating-rows
    DataFrame) pair — e.g. an anti-join for an FK rule, a filter for a
    domain rule. Each count is a group-less aggregate (map-side
    partial, 1-row shuffle); the union is rule-count wide, not
    data wide."""
    counted = [
        vdf.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("rule"), "violations"
        )
        for name, vdf in rules
    ]
    out = counted[0]
    for c in counted[1:]:
        out = out.unionByName(c)
    return out


def fk_violations(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """Rows of ``child`` whose ``child_key`` has no match in
    ``parent.parent_key`` (NULL keys are not violations — SQL FK
    semantics). Left-anti join; Catalyst broadcasts a small parent."""
    p = parent.select(F.col(parent_key).alias("__pk")).distinct()
    return (
        child.where(F.col(child_key).isNotNull())
        .join(p, F.col(child_key) == F.col("__pk"), "left_anti")
    )


def shard_key(text: Column, n_shards: int = 64) -> Column:
    """Deterministic content-based shard id in ``[0, n_shards)``.

    First 16 bits of ``md5(text)`` mod ``n_shards`` — stable across
    runs, engines, and partitionings (unlike ``hash()``/``xxhash64``
    whose algorithms differ per engine). Uniform when ``n_shards``
    divides 65536 (any power of two ≤ 2^16). Used to lay out training
    exports: ``df.repartition(n, shard).write.partitionBy(shard)``.
    """
    return (
        F.conv(F.substring(F.md5(text), 1, 4), 16, 10).cast("long") % n_shards
    ).cast("long")


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Categorical distribution drift between a reference corpus and
    a current batch: per-category probabilities (Laplace-smoothed by
    ``alpha`` over the UNION of categories, so unseen categories
    never divide by zero) and the two standard monitor scores as one
    row: ``kl_micro`` (D_KL(cur ‖ ref)) and ``tvd_micro`` (total
    variation distance), both in micro-units.

    The drift gate every continuously-ingesting training pipeline
    needs: yesterday's lang/source/topic mix vs today's — two
    vocabulary-sized aggregates, a full-outer join on category, and a
    1-row reduce; the corpus never shuffles.

    Float discipline (repo convention, as bigram_lm_scores): each
    category's KL term is rounded to 9 dp, the sum runs on
    DECIMAL(38,9) (exact, order-independent), then floors to micro —
    libm ``ln`` last-ulp differences can't move the result.
    """
    def probs(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(F.col(cat_col).alias("cat")).agg(
            F.count(F.lit(1)).alias(name)
        )

    joined = (
        probs(ref, "n_ref")
        .join(probs(cur, "n_cur"), "cat", "full_outer")
        .select(
            "cat",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .localCheckpoint(eager=True)  # feeds the totals AND the term scan
    )
    totals = joined.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("k"),
    )
    t = joined.crossJoin(F.broadcast(totals))
    p = (F.col("n_cur") + F.lit(alpha)) / (
        F.col("t_cur") + F.lit(alpha) * F.col("k")
    )
    q = (F.col("n_ref") + F.lit(alpha)) / (
        F.col("t_ref") + F.lit(alpha) * F.col("k")
    )
    kl_term = F.round(p * F.log(p / q), 9).cast("decimal(38,9)")
    tvd_term = F.round(F.abs(p - q), 9).cast("decimal(38,9)")
    return t.agg(
        F.floor(F.sum(kl_term).cast("double") * 1e6).cast("long").alias(
            "kl_micro"
        ),
        F.floor((F.sum(tvd_term).cast("double") / 2) * 1e6)
        .cast("long")
        .alias("tvd_micro"),
    )


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight check before any
    big shuffle join at 100 TB: per-key counts reduced to one row of
    ``n_keys``, ``n_rows``, ``max_cnt``, ``skew_ratio_micro``
    (max/mean, micro-units) and the ``top_n`` hottest keys with
    counts (array of structs, heaviest first, key tiebreak). A
    skew_ratio around 1e6 (1.0x) means uniform; orders of magnitude
    above says salt this key or lean on AQE skew-split.

    One partial-aggregated count shuffle + a tiny top-n reduce; the
    hot-key list is bounded by construction.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=True)  # feeds the stats reduce AND the top-n
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.floor(
            F.lit(1e6) * F.max("cnt") * F.count(F.lit(1)) / F.sum("cnt")
        )
        .cast("long")
        .alias("skew_ratio_micro"),
    )
    # top-n via TakeOrdered (never a collect_list over ALL keys — at
    # 100 TB that single reducer row would hold billions of structs);
    # collect_list here runs over <= top_n rows by construction, and
    # the array is re-sorted because limit->agg has no row order
    hot = (
        counts.orderBy(F.desc("cnt"), "k")
        .limit(top_n)
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("cnt")).alias("neg"), "k"))
            ).alias("h")
        )
        .select(
            F.transform(
                "h", lambda s: F.struct(s["k"].alias("k"), (-s["neg"]).alias("cnt"))
            ).alias("hot")
        )
    )
    return stats.crossJoin(hot)

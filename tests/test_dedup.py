"""Dedup operator tests ([EXT] E1/E2): exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_hadoop_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    minhash_lsh_candidates,
    simhash_candidates,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and every good boy deserves fudge today"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit → high jaccard
FAR = (
    "completely different content about databases query engines and "
    "distributed systems with partitions shuffles and broadcast joins"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),        # exact dup of 1
        (3, NEAR),        # near dup of 1
        (4, FAR),
        (5, FAR + " extra tail words"),  # near dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_keeps_lowest_id(docs):
    kept = exact_dedup(docs, key="text", id_col="doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]


def test_exact_dedup_idempotent(docs):
    once = exact_dedup(docs, key="text", id_col="doc_id")
    twice = exact_dedup(once, key="text", id_col="doc_id")
    assert sorted(r["doc_id"] for r in twice.collect()) == sorted(
        r["doc_id"] for r in once.collect()
    )


def test_minhash_candidates_find_near_dups(docs):
    # 4-row bands (num_hashes=32, bands=8): sensitive down to moderate
    # jaccard — right for small curated corpora
    cands = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(docs, bands=8).collect()}
    assert (1, 2) in cands  # exact dups always collide
    assert (1, 3) in cands or (2, 3) in cands  # near dup found
    assert (4, 5) in cands


def test_minhash_default_bands_catch_exact_and_high_sim(docs):
    # the scale default (8-row bands) still catches exact and ~0.95+
    # jaccard dups while keeping candidate prob at s=0.3 to ~6e-5
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in cands


def test_jaccard_values(docs, spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(docs, pairs).collect()}
    assert j[(1, 2)] == 1.0
    assert 0.7 < j[(1, 3)] < 1.0
    assert j[(1, 4)] < 0.2


def test_minhash_dedup_removes_dups(docs):
    kept = minhash_dedup(docs, jaccard_threshold=0.7, bands=8)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 1 in ids and 4 in ids
    assert 2 not in ids          # exact dup removed
    assert 3 not in ids          # near dup removed
    assert len(ids) == 2


def test_simhash_candidates(docs):
    cands = {(r["id_a"], r["id_b"]) for r in simhash_candidates(docs, max_hamming=10).collect()}
    assert (1, 2) in cands
    hams = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_candidates(docs, max_hamming=64).collect()}
    assert hams.get((1, 2)) == 0  # identical text → identical fingerprint


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-identical direction
        (3, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(emb, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_arrow_and_column_backends_identical(spark, sf_dir):
    # each NumPy kernel equals its pure-Column reference row by row;
    # the empty text and the text shorter than one shingle exercise
    # the one-gram floor of `shingles`
    from pagerank_hadoop_spark.operators.dedup import (
        _minhash_sig_arrow,
        _simhash_arrow_udf,
        minhash_signature,
        shingles,
        simhash,
    )

    edge = spark.createDataFrame([(-1, ""), (-2, "abc")], "doc_id long, text string")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select(F.col("doc_id").cast("long"), "text")
        .unionByName(edge)
    )
    sh = shingles(F.col("text"), 5, distinct=False)
    rows = docs.select(
        "doc_id",
        _minhash_sig_arrow(32)(sh).alias("sig"),
        minhash_signature(sh, 32).alias("sig_ref"),
        _simhash_arrow_udf()(shingles(F.col("text"))).alias("fp"),
        simhash(F.col("text")).alias("fp_ref"),
    ).collect()
    assert len(rows) == 52
    for r in rows:
        assert len(r["sig"]) == 32
        assert r["sig"] == r["sig_ref"], r["doc_id"]
        assert r["fp"] == r["fp_ref"], r["doc_id"]


def test_near_dup_clusters_transitive_closure(spark):
    from pagerank_hadoop_spark.operators.dedup import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),                    # family head
        (2, base + " tail-a"),        # near-dup of 1
        (3, base + " tail-a tweak"),  # near-dup of 2 (and 1, transitively)
        (10, "completely different content about spark physical plans " * 8),
        (11, "completely different content about spark physical plans " * 8 + " x"),
        (20, "a lone unique document with nothing similar in the corpus " * 8),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r.cluster for r in near_dup_clusters(df).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == 20


def test_incremental_dedup_rejects_planted_admits_fresh(spark):
    from pagerank_hadoop_spark.operators.dedup import incremental_dedup

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly on the plain and sphinx of black quartz "
    )
    corpus = spark.createDataFrame(
        [(1, base + "judge my vow one"), (2, base + "pack my box two")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + "judge my vow one"),            # exact dup of 1
            (11, base + "pack my box two extra tail"),  # near dup of 2
            (12, "completely different content about spark catalyst "
                 "optimizer rules and adaptive query execution plans"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    )
    assert kept == [12]


def test_incremental_dedup_admits_all_when_corpus_disjoint(spark):
    from pagerank_hadoop_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha " * 30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "omega " * 30), (11, "sigma " * 30)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    )
    assert kept == [10, 11]


def test_line_dedup_removes_cross_doc_repeats(spark):
    from pagerank_hadoop_spark.operators.dedup import line_dedup

    # doc 1 and doc 2 share an identical 10-word "line"; doc 1 wins
    # (lower doc_id). doc 3 is entirely a repeat of doc 1's line and
    # vanishes. words_per_line=3 keeps the fixture readable.
    rows = [
        (1, "a b c d e f"),
        (2, "a b c x y z"),
        (3, "a b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup(docs, words_per_line=3).collect()
    }
    assert out == {1: "a b c d e f", 2: "x y z"}


def test_line_dedup_within_doc_repeat_keeps_first(spark):
    from pagerank_hadoop_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(7, "p q r p q r s t u")], "doc_id long, text string"
    )
    out = line_dedup(docs, words_per_line=3).collect()
    assert out[0]["text"] == "p q r s t u"


def test_line_dedup_idempotent_on_testdata(spark, sf_dir):
    from pagerank_hadoop_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    once = line_dedup(docs).localCheckpoint(eager=True)
    twice = line_dedup(once)
    # a fixpoint: after removal every surviving line is unique
    # corpus-wide, so a second pass must change nothing
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0


def test_semantic_dedup_keeps_centroid_farther_member(spark):
    from pagerank_hadoop_spark.operators.dedup import semantic_dedup

    # 2-D, two unit centroids on the axes. v1 = exactly centroid 0,
    # v2 = slightly rotated copy (cosine(v1,v2) > 0.95): v1 is CLOSER
    # to the centroid -> v1 drops, the outlier v2 survives. v3 sits in
    # the other cluster, untouched.
    import math

    a = math.radians(5)
    rows = [
        (1, [1.0, 0.0]),
        (2, [math.cos(a), math.sin(a)]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {r.id: r.cluster for r in semantic_dedup(emb, cents, 0.95).collect()}
    assert out == {2: 0, 3: 1}


def test_semantic_dedup_trained_equals_literal_path(spark):
    """trained ≡ literal: feeding semantic_dedup the exact centers the
    trained path fits must reproduce semantic_dedup_trained bitwise —
    pins the wiring (sizing, deterministic sampling, Lloyd fit,
    delegation), the non-oracle part of the trained variant."""
    import numpy as np

    from pagerank_hadoop_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_trained,
    )
    from pagerank_hadoop_spark.operators.similarity import _lloyd

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 4))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant near-dups: tiny nudge on dim 0 of every 5th vector
    rows += [
        (1000 + i, [float(base[i][0] + 0.01)] + [float(x) for x in base[i][1:]])
        for i in range(0, 40, 5)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    trained = semantic_dedup_trained(
        emb, threshold=0.9, seed=3, target_cluster_rows=12
    )

    # replay the trained path's fit by hand
    n = emb.count()
    k = max(4, -(-n // 12))
    sample = np.array(
        [r.v for r in emb.orderBy("vec_id").limit(k * 200).collect()],
        dtype=np.float64,
    )
    centers = [[float(x) for x in c] for c in _lloyd(sample, k, 3)]
    literal = semantic_dedup(emb, centers, threshold=0.9)

    t = sorted((r.id, r.cluster) for r in trained.collect())
    l = sorted((r.id, r.cluster) for r in literal.collect())
    assert t == l
    # and the planted duplicates actually got deduplicated: for each
    # planted pair exactly one member survives
    # and dedup actually happened: every planted near-dup pair lost at
    # least one member (in 4-d at threshold 0.9 unplanted pairs also
    # collide, so a pair may lose BOTH members to other pairings)
    surv = {r.id for r in trained.collect()}
    assert all(
        not (i in surv and 1000 + i in surv) for i in range(0, 40, 5)
    )
    assert len(surv) < 48


def test_semantic_dedup_trained_sampled_large_k_matches_literal(spark):
    """k>100 routing in the SAMPLED regime (k·200 ≤ sample_cap):
    the trained path still fits by driver-side Lloyd but assigns via
    the broadcast Arrow-GEMM branch instead of the literal HOF
    forest. Given the same centers, broadcast GEMM ≡ literal plan —
    integer-valued vectors make every dot/norm dyadic-exact, so
    numpy's pairwise/SIMD dot can't differ from Spark's sequential
    fold even in the last ulp (ADVICE r8: the earlier pins only
    exercised k≤100 fixtures)."""
    import numpy as np

    from pagerank_hadoop_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_trained,
    )
    from pagerank_hadoop_spark.operators.similarity import _lloyd

    rng = np.random.default_rng(17)
    base = rng.integers(-5, 6, size=(240, 3)).astype(float)
    base[(base == 0).all(axis=1)] += 1.0  # no zero vectors
    rows = [(i, [float(x) for x in base[i]]) for i in range(240)]
    rows += [(5000 + i, [float(x) for x in base[i]]) for i in range(0, 240, 8)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    # k=120 > 100 and 120*200 = 24000 <= sample_cap → sampled fit,
    # broadcast-GEMM assignment branch
    trained = semantic_dedup_trained(
        emb, n_clusters=120, threshold=0.95, seed=3
    )

    sample = np.array(
        [r.v for r in emb.orderBy("vec_id").limit(120 * 200).collect()],
        dtype=np.float64,
    )
    centers = [[float(x) for x in c] for c in _lloyd(sample, 120, 3)]
    literal = semantic_dedup(emb, centers, threshold=0.95)

    t = sorted((r.id, r.cluster) for r in trained.collect())
    l = sorted((r.id, r.cluster) for r in literal.collect())
    assert t == l
    # planted exact duplicates: never both survive
    surv = {r.id for r in trained.collect()}
    assert all(
        not (i in surv and 5000 + i in surv) for i in range(0, 240, 8)
    )


def test_semantic_dedup_trained_distributed_path_matches_literal(spark):
    """Large-k regime (k·200 > sample_cap): centers are trained by
    distributed Lloyd and shipped via SparkContext.broadcast, never
    plan literals. Given those centers, the broadcast assignment +
    shared tail must equal semantic_dedup's literal plan exactly —
    integer-valued vectors make every dot/norm dyadic-exact, so the
    two paths can't diverge by a ulp."""
    import numpy as np

    from pagerank_hadoop_spark.operators.dedup import (
        _distributed_lloyd,
        semantic_dedup,
        semantic_dedup_trained,
    )

    rng = np.random.default_rng(5)
    base = rng.integers(-3, 4, size=(60, 4)).astype(float)
    base[(base == 0).all(axis=1)] += 1.0  # no zero vectors
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    rows += [(2000 + i, [float(x) for x in base[i]]) for i in range(0, 60, 6)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    # sample_cap=0 forces the distributed regime even at k=4
    trained = semantic_dedup_trained(
        emb, n_clusters=4, threshold=0.9, seed=3, sample_cap=0,
        lloyd_rounds=2,
    )

    emb_v = emb.select(F.col("vec_id").alias("id"), "v")
    centers = _distributed_lloyd(emb_v, 4, 3, n_corpus=70, rounds=2)
    literal = semantic_dedup(emb, centers, threshold=0.9)

    t = sorted((r.id, r.cluster) for r in trained.collect())
    l = sorted((r.id, r.cluster) for r in literal.collect())
    assert t == l
    # exact duplicates planted at 2000+i: never both survive
    surv = {r.id for r in trained.collect()}
    assert all(
        not (i in surv and 2000 + i in surv) for i in range(0, 60, 6)
    )


def test_distributed_lloyd_collects_only_model_sized_state(spark):
    """The scale contract: nothing the trained path collects grows
    with the corpus — per round exactly k·dim aggregate rows plus the
    k-row init. Pin the aggregate shape (k·dim) at two corpus sizes."""
    import numpy as np

    from pagerank_hadoop_spark.operators.dedup import (
        _assign_broadcast_centers,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    for n in (50, 200):
        rows = [
            (i, [float(x) for x in rng.integers(-3, 4, size=3)])
            for i in range(n)
        ]
        emb_v = spark.createDataFrame(rows, "id long, v array<double>")
        assigned = _assign_broadcast_centers(
            emb_v, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], id_col="id",
            vec_col="v",
        )
        agg = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        assert agg.count() <= 2 * 3  # k*dim, independent of n


def test_set_similarity_join_exact_boundary(spark):
    from pagerank_hadoop_spark.operators.dedup import set_similarity_join

    rows = [
        (1, "alpha beta gamma delta"),          # J(1,2) = 4/5 = 0.8 exactly
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta zeta eta"),             # J(1,3) = 2/6 — out
        (4, "alpha beta gamma delta"),          # J(1,4) = 1.0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.jac_micro
        for r in set_similarity_join(docs, threshold=0.8).collect()
    }
    assert out == {(1, 2): 800000, (1, 4): 1000000, (2, 4): 800000}


def test_cross_doc_substring_scrub_interval_union(spark):
    """Known geometry: two docs share a 25-char run -> 6 overlapping
    20-grams in the later doc, but the union of their intervals is 25
    chars, not 6*20. The earliest doc keeps everything (owner rule),
    a doc with no 20-char overlap scrubs nothing."""
    from pagerank_hadoop_spark.operators.dedup import (
        cross_doc_substring_scrub,
    )

    shared = "ABCDEFGHIJKLMNOPQRSTUVWXY"  # 25 chars
    rows = [
        (1, "xx" + shared + "zzzz"),       # owner (lowest id)
        (2, "qqqq" + shared + "rr"),       # later: scrubs the run
        (3, "totally different content."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_dup_grams, r.scrubbed_chars, r.kept_chars)
        for r in cross_doc_substring_scrub(docs, gram_len=20).collect()
    }
    assert got[1] == (0, 0, 31)            # owner keeps all 31 chars
    assert got[2] == (6, 25, 31 - 25)      # 6 grams, 25-char union
    assert got[3] == (0, 0, 26)

    # portable twin groups identically on this fixture
    porta = {
        r.doc_id: (r.n_dup_grams, r.scrubbed_chars, r.kept_chars)
        for r in cross_doc_substring_scrub(
            docs, gram_len=20, portable_hash=True
        ).collect()
    }
    assert porta == got


def test_scrub_merge_law_sharded_equals_single_pass(spark):
    """Merge law for the 100 TB sharded flow: per-shard ownership
    tables merged with min/sum (scrub_merge) + per-shard apply must
    equal the single-pass scrub over the union — including the case
    where a gram's true owner and its duplicators live in DIFFERENT
    shards (docs 1 and 2 split across parities below)."""
    from pagerank_hadoop_spark.operators.dedup import (
        cross_doc_substring_scrub,
        scrub_merge,
        scrub_ownership,
    )

    shared = "ABCDEFGHIJKLMNOPQRSTUVWXY"  # 25 chars
    other = "0123456789abcdefghij"        # 20 chars, cross-shard pair
    rows = [
        (1, "xx" + shared + "zzzz"),           # shard odd: owner of `shared`
        (2, "qqqq" + shared + "rr"),           # shard even: duplicator
        (3, "totally different content."),     # shard odd
        (4, other + " padding words"),          # shard even: owner of `other`
        (5, "lead-in " + other),               # shard odd: duplicator
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    single = {
        r.doc_id: (r.n_dup_grams, r.scrubbed_chars, r.kept_chars)
        for r in cross_doc_substring_scrub(docs, gram_len=20).collect()
    }
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    merged = scrub_merge(scrub_ownership(a), scrub_ownership(b))
    sharded = {}
    for shard in (a, b):
        for r in cross_doc_substring_scrub(
            shard, gram_len=20, ownership=merged
        ).collect():
            sharded[r.doc_id] = (r.n_dup_grams, r.scrubbed_chars, r.kept_chars)
    assert sharded == single
    # and the law holds for >2 shards / merge-of-merge associativity
    c1 = docs.where("doc_id <= 2")
    c2 = docs.where("doc_id in (3, 4)")
    c3 = docs.where("doc_id = 5")
    m3 = scrub_merge(
        scrub_merge(scrub_ownership(c1), scrub_ownership(c2)),
        scrub_ownership(c3),
    )
    three = {}
    for shard in (c1, c2, c3):
        for r in cross_doc_substring_scrub(
            shard, gram_len=20, ownership=m3
        ).collect():
            three[r.doc_id] = (r.n_dup_grams, r.scrubbed_chars, r.kept_chars)
    assert three == single


def test_boilerplate_lines_removes_all_copies(spark):
    """A line in >= min_docs distinct docs dies EVERYWHERE (unlike
    line_dedup's keep-first); sub-threshold repeats survive."""
    from pagerank_hadoop_spark.operators.dedup import boilerplate_lines

    footer = "one two three four five six seven eight nine ten"
    rows = [
        (1, footer + " unique alpha words here"),
        (2, footer + " other beta tail"),
        (3, footer),
        (4, "independent text entirely its own"),
        (5, "repeated pair line body content words common here yes indeed"),
        (6, "repeated pair line body content words common here yes indeed"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_boiler_lines, r.kept_text)
        for r in boilerplate_lines(docs, min_docs=3).collect()
    }
    assert got[1] == (1, "unique alpha words here")
    assert got[2] == (1, "other beta tail")
    assert got[3] == (1, "")               # first copy dies too
    assert got[4] == (0, "independent text entirely its own")
    # only 2 distinct docs share this line: below min_docs, kept
    assert got[5][0] == 0 and got[6][0] == 0


def test_containment_join_directed_asymmetric(spark):
    """A 4-token excerpt of a 10-token doc: containment(excerpt ->
    doc) = 1.0, reverse direction 0.4 — only the forward pair
    survives t=0.9, and cont_micro is exact integer arithmetic."""
    from pagerank_hadoop_spark.operators.dedup import containment_join

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d"),                     # subset of 1
        (3, "a b c d x"),                   # 4/5 = 0.8 contained — out at 0.9
        (4, "z y w v u t s r q p"),         # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.cont_micro
        for r in containment_join(docs, threshold=0.9).collect()
    }
    assert got == {(2, 1): 1000000, (2, 3): 1000000}


def test_spread_reads_split_size_in_bytes_and_fails_closed(spark, monkeypatch):
    """The small-input probe reads ``spark.sql.files.maxPartitionBytes``
    through the JVM's byte parser, so a value like ``128m`` still
    spreads a small frame; when the plan reports no stats the frame is
    left as it is."""
    from pagerank_hadoop_spark.operators import dedup

    df = spark.range(10)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "128m")
    try:
        spread = dedup._spread(df)
        assert spread is not df
        assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        monkeypatch.setattr(dedup, "plan_bytes", lambda _df: None)
        assert dedup._spread(df) is df
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)

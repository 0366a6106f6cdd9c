"""Property-based invariants (SURVEY.md §5.3) over random small graphs
and corpora — hypothesis generates the structures, Spark must uphold:

* corrected-mode PageRank is a probability distribution (Σ = 1);
* parity mode loses only dangling mass (Σ ≤ 1, equality iff no
  dangling vertex), and every rank ≥ the teleport baseline;
* top_ranks output is monotone non-increasing;
* exact dedup is idempotent and keeps the lowest id per key.

Examples are kept few and small: each one drives real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from pagerank_hadoop_spark.operators.dedup import exact_dedup
from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n, top_ranks

NODES = [f"v{i}" for i in range(6)]

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=12,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(edges=edges_strategy)
@SETTINGS
def test_pagerank_mass_invariants(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")

    corrected, n = pagerank_with_n(df, n_iter=4, parity=False)
    rows = corrected.collect()
    assert len(rows) == n
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-9  # probability distribution

    parity, n2 = pagerank_with_n(df, n_iter=4, parity=True)
    prows = parity.collect()
    assert n2 == n
    teleport = 0.15 / n
    ptotal = sum(r.rank for r in prows)
    assert ptotal <= 1.0 + 1e-9  # dangling mass only ever leaks OUT
    assert all(r.rank >= teleport - 1e-12 for r in prows)

    srcs = {s for s, _ in edges}
    dangling = {d for _, d in edges} - srcs
    if not dangling:
        # no dangling vertices -> parity loses nothing
        assert abs(ptotal - 1.0) < 1e-9


@given(edges=edges_strategy)
@SETTINGS
def test_top_ranks_monotone(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks, n = pagerank_with_n(df, n_iter=2, parity=True)
    out = [r.rank for r in top_ranks(ranks, n, threshold=0.5 / n).collect()]
    assert out == sorted(out, reverse=True)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@SETTINGS
def test_exact_dedup_idempotent_keeps_min_id(spark, rows):
    df = spark.createDataFrame(rows, "doc_id int, text string")
    once = exact_dedup(df, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    # exactly one survivor per distinct key: the minimum id
    expect = {}
    for i, t in rows:
        expect[t] = min(expect.get(t, i), i)
    assert got_once == sorted((i, t) for t, i in expect.items())


def test_winsorized_values_within_bounds(spark, sf_dir):
    """Clipped aggregates are bounded by the percentile band: the
    clipped sum can never exceed n * hi nor undercut n * lo."""
    from pagerank_hadoop_spark import queries as Q
    from pyspark.sql import functions as F

    ev = Q._events(spark, sf_dir)
    lo, hi = ev.agg(
        F.expr("percentile(value, 0.01)"), F.expr("percentile(value, 0.99)")
    ).first()
    rows = Q.queries()["winsorized_values"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["clipped_sum"] <= r["n"] * hi + 1e-6
        assert r["clipped_sum"] >= r["n"] * lo - 1e-6
        assert 0 <= r["n_clipped"] <= r["n"]


def test_bm25_rank_sanity(spark, sf_dir):
    """Top-ranked BM25 docs must actually contain query terms, and
    scores must be positive and non-increasing down the ranking."""
    from pagerank_hadoop_spark import queries as Q

    rows = Q.queries()["bm25_search"](spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_incremental_dedup_is_idempotent(spark, sf_dir):
    """Admitting an already-admitted batch against corpus+batch must
    admit nothing new (every row now exact-duplicates the corpus)."""
    from pagerank_hadoop_spark.operators.dedup import incremental_dedup
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    admitted = incremental_dedup(corpus, batch)
    grown = corpus.unionByName(admitted)
    readmit = incremental_dedup(grown, admitted)
    assert readmit.count() == 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # group
            st.integers(min_value=0, max_value=70_000),  # key (spans buckets)
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_bitmap_distinct_equals_count_distinct(spark, rows):
    from pagerank_hadoop_spark.operators.sketches import bitmap_distinct

    df = spark.createDataFrame(rows, "g int, k long")
    exact = {
        r[0]: r[1]
        for r in df.groupBy("g").agg(F.countDistinct("k")).collect()
    }
    got = {
        r[0]: r[1] for r in bitmap_distinct(df, "k", ["g"]).collect()
    }
    assert got == exact


@given(
    masses=st.lists(
        st.integers(min_value=1, max_value=500), min_size=2, max_size=5
    ),
    budget=st.sampled_from([0.25, 0.5, 0.9]),
)
@SETTINGS
def test_mixture_rebalance_nested_and_capped(spark, masses, budget):
    """Two invariants: (a) light sources (mass ≤ equal share) are kept
    whole; (b) samples are NESTED — a bigger budget's survivor set
    contains the smaller budget's (same salt ⇒ monotone thresholds),
    the property that makes budget sweeps reproducible."""
    from pagerank_hadoop_spark.operators.sampling import mixture_rebalance

    rows, did = [], 0
    for s, m in enumerate(masses):
        for _ in range(m):
            rows.append((did, f"s{s}", 10))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    share = budget * sum(masses) * 10 / len(masses)
    small = mixture_rebalance(df, "doc_id", "source", "n_chars", budget)
    counts = {
        r["source"]: r["n"]
        for r in small.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for s, m in enumerate(masses):
        if m * 10 <= share:
            assert counts.get(f"s{s}", 0) == m  # kept whole
    big_ids = {
        r["doc_id"]
        for r in mixture_rebalance(
            df, "doc_id", "source", "n_chars", min(1.0, budget * 2)
        ).collect()
    }
    small_ids = {r["doc_id"] for r in small.collect()}
    assert small_ids <= big_ids


@given(
    vec=st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=4,
        max_size=8,
    ),
    scale=st.sampled_from([0.5, 2.0, -3.0]),
)
@SETTINGS
def test_jl_projection_is_linear(spark, vec, scale):
    """JL is a linear map: proj(c·v) == c·proj(v) exactly (same fold
    order, scalar factors out of every term)."""
    from pagerank_hadoop_spark.functions.vectors import (
        jl_project,
        jl_sign_matrix,
    )

    signs = jl_sign_matrix(len(vec), 4)
    df = spark.createDataFrame(
        [(vec,), ([x * scale for x in vec],)], "v array<double>"
    )
    p1, p2 = [
        r["p"] for r in df.select(jl_project("v", signs).alias("p")).collect()
    ]
    for a, b in zip(p1, p2):
        assert abs(b - a * scale) <= 1e-9 * max(1.0, abs(b))


# ---------------------------------------------------------------------------
# round-3 pure-function properties (no Spark jobs — cheap, many examples)
# ---------------------------------------------------------------------------


@given(
    w=st.integers(1, 4000),
    h=st.integers(1, 4000),
    bpp=st.sampled_from([8, 24, 32]),
    top_down=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_bmp_header_roundtrip(w, h, bpp, top_down):
    import struct

    from pagerank_hadoop_spark.operators.multimodal import parse_bmp_header

    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0, 0, 0, 0, 0, 0
        )
    )
    assert parse_bmp_header(hdr) == (w, h, bpp, top_down)


@given(
    channels=st.integers(1, 8),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
    bits=st.sampled_from([8, 16, 32]),
    n=st.integers(0, 500),
    junk_chunks=st.integers(0, 3),
)
@settings(max_examples=200, deadline=None)
def test_wav_header_roundtrip(channels, rate, bits, n, junk_chunks):
    import struct

    from pagerank_hadoop_spark.operators.multimodal import parse_wav_header

    data = b"\x00" * (n * channels * bits // 8)
    chunks = b""
    for j in range(junk_chunks):  # odd-size chunks exercise alignment
        body = bytes([j]) * (3 + j)
        chunks += b"JUNK" + struct.pack("<I", len(body)) + body
        if len(body) % 2:
            chunks += b"\x00"
    chunks += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert parse_wav_header(payload) == (channels, rate, bits, n)


@given(
    occs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 400)), max_size=120
    ),
    ttl=st.integers(1, 100),
    n_batches=st.integers(1, 6),
)
@settings(max_examples=150, deadline=None)
def test_ttl_dedup_core_batch_split_invariant(occs, ttl, n_batches):
    """Emitted set is independent of how the ts-ordered occurrence
    stream is split into batches, and always equals the lag rule."""
    from pagerank_hadoop_spark.streaming.stateful import _ttl_dedup_core

    occs = sorted(occs, key=lambda r: (r[1], r[0]))
    last: dict[int, int] = {}
    want = []
    for e, t in occs:
        if e not in last or t - last[e] > ttl:
            want.append((e, t))
        last[e] = t

    seen: dict[int, int] = {}
    got = []
    n = len(occs)
    for i in range(n_batches):
        batch = occs[i * n // n_batches : (i + 1) * n // n_batches]
        emitted, seen = _ttl_dedup_core(seen, batch, ttl)
        got.extend(emitted)
    assert sorted(got) == sorted(want)


# ---------------------------------------------------------------------------
# round-5 JPEG codec properties (pure Python — no Spark jobs, so these
# can afford more examples than the graph properties above)
# ---------------------------------------------------------------------------

jpeg_dims = st.tuples(st.integers(1, 4), st.integers(1, 3), st.integers(0, 2**31 - 1))


@given(dims=jpeg_dims)
@settings(max_examples=25, deadline=None)
def test_jpeg_block_constant_roundtrip_property(dims):
    """For ANY block-constant grayscale image (random block grid and
    key), encode→decode is the identity — the invariant every oracle
    fixture relies on, checked beyond the fixture's specific formula."""
    import numpy as np

    from pagerank_hadoop_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    bw, bh, key = dims
    px = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    for by in range(bh):
        for bx in range(bw):
            px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                bx * 31 + by * 17 + key
            ) % 256
    w, h, planes = jpeg_decode(jpeg_encode([px]))
    assert (w, h) == (bw * 8, bh * 8)
    assert (planes[0] == px).all()


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=10, deadline=None)
def test_jpeg_arbitrary_pixels_decode_matches_coefficients(seed):
    """For ANY pixel content, the decoder reproduces exactly the IDCT
    of the quantized coefficients the independent encoder emitted —
    the lossy step is the quantization, never the entropy coding or
    the IDCT (Huffman/zigzag/extend are bijective)."""
    import numpy as np

    from pagerank_hadoop_spark.operators.multimodal import (
        _jpeg_idct_matrix,
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(8, 16), dtype=np.int64).astype(np.uint8)
    data = jpeg_encode([px])
    coeffs = jpeg_encode.last_coefficients
    a = _jpeg_idct_matrix()
    expected = np.zeros((8, 16))
    for i, mx in enumerate(range(2)):
        blk = a @ coeffs[i].astype(np.float64) @ a.T + 128.0
        expected[:, mx * 8 : mx * 8 + 8] = np.clip(np.floor(blk + 0.5), 0, 255)
    _, _, planes = jpeg_decode(data)
    assert (planes[0] == expected.astype(np.uint8)).all()


def _ref_bpe(docs: list[list[str]], n_merges: int):
    """Independent pure-Python sequential BPE: count adjacent pairs,
    argmax with (count desc, pair lexicographic asc) tie-break and a
    count >= 2 floor, greedy left-to-right rewrite. The oracle for
    bpe_train_merges that shares NO code with the operator."""
    cur = [list(d) for d in docs]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for d in cur:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        cands = [(-c, a, b) for (a, b), c in counts.items() if c >= 2]
        if not cands:
            break
        negc, a, b = min(cands)
        merges.append((a, b, -negc))
        joined = a + "▁" + b
        nxt = []
        for d in cur:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(joined)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        cur = nxt
    return merges, cur


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcde")), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    n_merges=st.integers(1, 3),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_matches_independent_reference(spark, docs, n_merges):
    """On ANY corpus, sequential training must equal the shared-nothing
    Python reference — merge table, selected counts, AND final
    tokenization — and the selected counts must be monotone
    non-increasing (the invariant the bpe_merge_table oracle flag
    pins: a merge only creates pairs bounded by its own count)."""
    from pagerank_hadoop_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train_merges,
    )

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, final = bpe_train_merges(df, n_merges=n_merges)
    ref_merges, ref_final = _ref_bpe(docs, n_merges)
    assert merges == ref_merges
    counts = [c for _, _, c in merges]
    assert counts == sorted(counts, reverse=True)
    got = {r["doc_id"]: r["syms"] for r in final.collect()}
    assert got == {i: d for i, d in enumerate(ref_final)}
    # inference path replays training exactly on the same corpus
    applied = {r["doc_id"]: r["syms"] for r in bpe_apply(df, merges).collect()}
    assert applied == got


@given(
    seen_ids=st.sets(st.integers(0, 60), min_size=1, max_size=25),
    novel_ids=st.sets(st.integers(1000, 1040), min_size=1, max_size=10),
    dup_factor=st.integers(1, 3),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bloom_no_false_negatives_multiplicity_property(
    spark, seen_ids, novel_ids, dup_factor
):
    """For ANY inserted key set and ANY batch (duplicates included):
    every inserted key probes bloom_new=0 (no false negatives), and
    the probe emits exactly one output row per input row — on both
    the production (xxhash64) and portable (md5) hash paths."""
    from pagerank_hadoop_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    seen_rows = [(f"k{i}",) for i in sorted(seen_ids)]
    batch_rows = (seen_rows + [(f"k{i}",) for i in sorted(novel_ids)]) * dup_factor
    seen = spark.createDataFrame(seen_rows, "k string")
    batch = spark.createDataFrame(batch_rows, "k string")
    for portable in (False, True):
        words, m = bloom_build(seen, "k", portable=portable)
        got = bloom_probe(batch, "k", words, m, portable=portable).collect()
        assert len(got) == len(batch_rows)
        inserted = {k for (k,) in seen_rows}
        assert all(r.bloom_new == 0 for r in got if r.k in inserted)

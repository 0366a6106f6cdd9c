"""Text-analysis operator tests ([EXT] E4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_hadoop_spark.operators.text_analysis import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_tokens,
)


@pytest.fixture(scope="module")
def samples(spark):
    rows = [
        (1, "the cat and the dog sat in the garden and that is that"),
        (2, "der Hund ist nicht ein Tier und das ist gut"),
        (3, "le chat et le chien est dans un jardin et les fleurs"),
        (4, "zzzz qqqq xxxx"),
        (5, "  spaced   out    tokens  "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_count(samples):
    got = {r["doc_id"]: r["n"] for r in
           samples.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert got[5] == 3
    assert got[4] == 3
    assert got[1] == 13


def test_word_tokens_splits_symbols(spark):
    df = spark.createDataFrame([("Hello, world! 42x",)], "text string")
    toks = df.select(word_tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert toks == ["hello", ",", "world", "!", "42", "x"]


def test_lang_id(samples):
    got = {r["doc_id"]: r["lang"] for r in
           samples.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "und"


def test_quality_score_ranges(samples):
    got = {r["doc_id"]: r["q"] for r in
           samples.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[1] > got[4]  # real text beats consonant soup


def test_fingerprint_stable_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "some document body here"), (2, "some document body here"),
         (3, "a different document body")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fp"] for r in
          df.select("doc_id", doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_tfidf_top_terms(spark):
    from pagerank_hadoop_spark.operators.text_analysis import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'apple' appears only in doc 1 (df=1, tf=2) -> highest score there;
    # 'date' is unique to doc 3 but tf=1 vs cherry tf=3 df=2
    assert top[1] == "apple"
    assert all(r["score"] > 0 for r in out)
    # 'banana' is in 2 of 3 docs; doc 2's winner must outscore it or be it
    assert top[3] == "cherry"


def test_tfidf_unique_term_beats_common(spark):
    from pagerank_hadoop_spark.operators.text_analysis import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "shared zebra"), (2, "shared shared"), (3, "shared")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["term"]): r["score"] for r in
           tfidf_top_terms(df, k=2).collect()}
    # 'shared' is in all 3 docs -> idf = ln(1) = 0
    assert out[(1, "shared")] == 0.0
    assert out[(1, "zebra")] > 0.0


def test_scrub_pii_masks_emails_and_numbers(spark):
    from pagerank_hadoop_spark.operators.text_analysis import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail jane.doe+x@sub.example.org or 555-0192 x99 ok")],
        "doc_id long, text string",
    )
    got = df.select(scrub_pii(F.col("text")).alias("c")).collect()[0]["c"]
    assert got == "mail <EMAIL> or <NUM>-<NUM> x<NUM> ok"


def test_repetition_micro_known_values(spark):
    from pagerank_hadoop_spark.operators.text_analysis import repetition_micro
    from pyspark.sql import functions as F

    rows = [
        (1, "a b c d"),            # all words distinct -> 0
        (2, "a a a a"),            # 1 distinct of 4 -> 0.75
        (3, "x\nx\ny"),            # 2 distinct lines of 3 -> 1/3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.rep.dup_line_micro, r.rep.dup_word_micro)
        for r in df.select(
            "doc_id", repetition_micro(F.col("text")).alias("rep")
        ).collect()
    }
    assert got[1] == (0, 0)
    assert got[2] == (0, 750000)
    assert got[3] == (333333, 333333)


def test_clean_text_nfc_control_whitespace(spark):
    from pagerank_hadoop_spark.operators.text_analysis import clean_text

    decomposed = "été"          # é as e + combining acute
    composed = "été"              # precomposed é
    rows = [
        (1, decomposed),
        (2, composed),
        (3, "a\x00b\x07c"),                 # C0 control chars stripped
        (4, "  x\t\ty \r\n z  "),           # runs collapse, ends trim
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["c"] for r in df.select("id", clean_text(df.text).alias("c")).collect()}
    # composed and decomposed unify to the same bytes
    assert got[1] == got[2] == composed
    assert got[3] == "abc"
    assert got[4] == "x y z"


def test_bpe_merges_planted_sequence(spark):
    from pagerank_hadoop_spark.operators.text_analysis import (
        bpe_train_merges,
    )

    # "a b" appears 4x, "c d" 3x, then the merged "a▁b c" pair emerges
    rows = [
        (1, "a b c d x"),
        (2, "a b c d y"),
        (3, "a b c d z"),
        (4, "a b q"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, final = bpe_train_merges(docs, n_merges=3)
    assert merges[0] == ("a", "b", 4)
    # ("a▁b","c") ties ("c","d") at 3; lexicographic tie-break wins
    assert merges[1] == ("a▁b", "c", 3)
    assert merges[2] == ("a▁b▁c", "d", 3)
    out = {r["doc_id"]: r["syms"] for r in final.collect()}
    assert out[1] == ["a▁b▁c▁d", "x"]
    assert out[4] == ["a▁b", "q"]


def test_bpe_greedy_left_to_right_overlap(spark):
    from pagerank_hadoop_spark.operators.text_analysis import (
        bpe_train_merges,
    )

    # "x x x x x" with pair (x,x): greedy left-to-right merges
    # non-overlapping -> [xx, xx, x]; also checks determinism across
    # partitionings
    docs = spark.createDataFrame(
        [(1, "x x x x x"), (2, "x x")], "doc_id long, text string"
    )
    merges, final = bpe_train_merges(docs, n_merges=1)
    assert merges[0] == ("x", "x", 5)  # 4 overlapping in doc1 + 1 in doc2
    out = {r["doc_id"]: r["syms"] for r in final.collect()}
    assert out[1] == ["x▁x", "x▁x", "x"]
    assert out[2] == ["x▁x"]

    merges2, _ = bpe_train_merges(docs.repartition(5), n_merges=1)
    assert merges2 == merges


def test_bpe_apply_reproduces_training_tokenization(spark):
    from pagerank_hadoop_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d x"), (2, "a b c d y"), (3, "a b q"), (4, "x x x")],
        "doc_id long, text string",
    )
    merges, final = bpe_train_merges(docs, n_merges=3)
    trained = {r["doc_id"]: r["syms"] for r in final.collect()}
    applied = {
        r["doc_id"]: r["syms"] for r in bpe_apply(docs, merges).collect()
    }
    assert applied == trained


def test_bigram_lm_scores_common_vs_rare(spark):
    import math

    from pagerank_hadoop_spark.operators.text_analysis import (
        bigram_lm_scores,
    )

    # "x y" dominates x-prefixed bigrams; "x z" is the rare branch —
    # doc 2's score must be lower, and the values must match the
    # closed-form ln(C(a,b)/C(a,.)) means
    rows = [
        (1, "x y x y x y"),
        (2, "x z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # corpus bigrams: doc1: (x,y) (y,x) (x,y) (y,x) (x,y); doc2: (x,z)
    # C(x,.) = 4, C(x,y) = 3, C(x,z) = 1, C(y,.) = 2, C(y,x) = 2
    lp_xy = round(math.log(3 / 4), 6)
    lp_yx = round(math.log(2 / 2), 6)
    lp_xz = round(math.log(1 / 4), 6)
    exp1 = round((3 * lp_xy + 2 * lp_yx) / 5, 6)
    assert out[1]["n_bigrams"] == 5
    assert abs(out[1]["lm_score"] - exp1) < 1e-9
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["lm_score"] - lp_xz) < 1e-9
    assert out[2]["lm_score"] < out[1]["lm_score"]


def test_crossdoc_ngram_stats(spark):
    from pagerank_hadoop_spark.operators.text_analysis import (
        crossdoc_ngram_stats,
    )

    base = "one two three four five six seven eight nine ten"
    rows = [
        (1, base),               # duplicated by doc 2 -> fully shared
        (2, base),
        (3, "totally different words appear here in this unique document"),
        (4, "too short"),        # < 8 tokens: no grams, excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in crossdoc_ngram_stats(docs, n=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_grams == 3 and out[1].n_shared == 3  # 10 tokens -> 3 grams
    assert out[1].shared_micro == 1_000_000
    assert out[2].n_shared == 3
    assert out[3].n_shared == 0 and out[3].shared_micro == 0


def test_keyword_tags_whole_token_and_phrases(spark):
    from pagerank_hadoop_spark.operators.text_analysis import keyword_tags

    docs = spark.createDataFrame(
        [
            (1, "a hash join beats a nested loop"),
            (2, "hashing joins are not a hash  join"),  # double space
            (3, "restream is not stream"),               # substring trap
            (4, "one"),                                  # < 2 tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tags, r.tags)
        for r in keyword_tags(
            docs, ["stream", "hash join", "loop"]
        ).collect()
    }
    assert got[1] == (2, "hash join|loop")
    assert got[2] == (1, "hash join")   # regex split absorbs the run
    assert got[3] == (1, "stream")      # 'restream' never matches
    assert got[4] == (0, "")


def test_chunk_documents_window_semantics(spark):
    """Chunk geometry: short docs yield one chunk; stride<window
    overlaps correctly (chunk i starts at i*stride); the last chunk may
    be short; stride==window tiles exactly; invalid stride raises."""
    import hashlib

    import pytest as _pytest

    from pagerank_hadoop_spark.operators.text_analysis import chunk_documents

    words = [f"w{i}" for i in range(10)]
    rows = [
        (1, " ".join(words)),       # 10 tokens
        (2, "single"),              # 1 token
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_md5)
        for r in chunk_documents(docs, window=4, stride=3).collect()
    }

    def md5(toks):
        return hashlib.md5(" ".join(toks).encode()).hexdigest()

    # doc 1: starts 0,3,6 cover to 10? ceil((10-4)/3)+1 = 3 chunks;
    # chunk 2 covers tokens 6..9 (4 tokens) — tail fully covered
    assert got[(1, 0)] == (4, md5(words[0:4]))
    assert got[(1, 1)] == (4, md5(words[3:7]))
    assert got[(1, 2)] == (4, md5(words[6:10]))
    assert (1, 3) not in got
    assert got[(2, 0)] == (1, md5(["single"]))

    # exact tiling at stride == window
    tiled = {
        r.chunk_id: r.n_chunk_tokens
        for r in chunk_documents(
            docs.where("doc_id = 1"), window=4, stride=4
        ).collect()
    }
    assert tiled == {0: 4, 1: 4, 2: 2}

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, window=4, stride=5)

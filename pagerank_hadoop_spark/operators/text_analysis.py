"""Text-analysis operators for training-data pipelines ([EXT] E4).

Language-ID, quality scoring, token counting, and document
fingerprinting — all pure Column expressions (whole-stage codegen, no
Python in the hot path; these run over every document of a 100 TB
corpus).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from pagerank_hadoop_spark import runtime_counters

# tiny per-language stopword profiles for the n-gram/stopword heuristic
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "los", "de", "que", "y", "un", "es"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (matches duckdb
    ``len(string_split_regex(trim(text), '\\s+'))``)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def word_tokens(text: Column) -> Column:
    """BPE-ish word/punctuation tokenizer: letter runs, digit runs, or
    single non-space symbols (regexp-based, deterministic)."""
    return F.regexp_extract_all(
        F.lower(text), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), F.lit(1)
    )


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Number of stopword-token occurrences for one language profile,
    over a pre-split lowercase token array."""
    words = _LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword-profile hits, 'und'
    (undetermined) when no profile matches.

    The text is whitespace-tokenized ONCE; each profile then counts
    membership hits over the (short) token array — versus scanning
    the full document string once per stopword (32 scans for 4
    profiles of 8 words), which dominated the corpus-wide pass.
    """
    tokens = F.split(F.lower(text), r"\s+")
    scored = F.array(*[
        F.struct(stopword_hits(tokens, lang).alias("hits"), F.lit(lang).alias("lang"))
        for lang in sorted(_LANG_STOPWORDS)
    ])
    best = F.array_max(scored)  # struct compare: hits first, lang tiebreak
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length band, alpha ratio,
    mean-word-length band, whitespace sanity. The standard cheap
    pre-filter shape for web-corpus curation."""
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    n_tokens = token_count(text)
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = (n_chars >= 20) & (n_chars <= 100000)
    word_ok = (mean_word >= 2.0) & (mean_word <= 12.0)
    score = (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(word_ok, 0.3).otherwise(0.0)
        + alpha_ratio * 0.3
    )
    return F.round(score, 6)


def quality_micro(text: Column) -> Column:
    """Quality score as micro-units (bigint, score × 1e6).

    floor(x·1e6 + 0.5) is pure IEEE arithmetic — unlike decimal
    rounding of a double (engines disagree on ties like 0.9428125),
    it is bit-reproducible across engines, so the oracle can match it
    exactly.
    """
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    n_tokens = token_count(text)
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = (n_chars >= 20) & (n_chars <= 100000)
    word_ok = (mean_word >= 2.0) & (mean_word <= 12.0)
    score = (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(word_ok, 0.3).otherwise(0.0)
        + alpha_ratio * 0.3
    )
    return F.floor(score * 1e6 + F.lit(0.5)).cast("bigint")


def doc_fingerprint(text: Column, window: int = 8, portable: bool = False) -> Column:
    """Rolling-hash document fingerprint (winnowing-style): min
    xxhash64 over character windows — a compact content id robust to
    reordering-free edits at the margins. ``portable=True`` swaps the
    window hash for a 60-bit md5 prefix that DuckDB reproduces
    bitwise (the oracle-gated form; same min-over-windows math)."""
    cleaned = F.lower(F.regexp_replace(text, r"\s+", " "))
    count = F.greatest(F.length(cleaned) - F.lit(window - 1), F.lit(1))
    if portable:
        def h(i):
            return F.conv(
                F.substring(F.md5(F.substring(cleaned, i, window)), 1, 15),
                16,
                10,
            ).cast("long")
    else:
        def h(i):
            return F.xxhash64(F.substring(cleaned, i, window))

    grams = F.transform(F.sequence(F.lit(1), count), h)
    return F.array_min(grams)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms: ``(doc_id, term, score)``.

    score = tf(term, doc) · ln(N / df(term)), rounded to 6 dp before
    the per-document ranking so the selected set is engine-portable
    (ties broken by term, ascending).

    Scale shape: the token explode + (doc, term) count is one
    partial-aggregated shuffle; the document-frequency table is
    vocabulary-sized (≪ corpus) and is broadcast back onto the term
    counts, so the corpus-sized side never reshuffles; the final
    top-k is a bounded per-doc window.
    """
    terms = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0))
        ).alias("term"),
    )
    n_docs = docs.count()
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.round(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
    ).alias("score")
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(F.broadcast(df_), "term")
        .select(F.col(id_col), "term", score)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def scrub_pii(text: Column) -> Column:
    """Mask email addresses and digit runs — the cheap deterministic
    PII pre-scrub every training corpus gets before tokenization.
    Pure regexp_replace (codegen, corpus-wide pass stays JVM-side)."""
    no_email = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(no_email, r"[0-9]+", "<NUM>")


def repetition_micro(text: Column) -> Column:
    """Repetition signals as micro-unit bigints (×1e6, floor+0.5 —
    see :func:`quality_micro` for why that beats decimal rounding):
    a struct of

    * ``dup_line_micro`` — 1 − distinct_lines / lines
    * ``dup_word_micro`` — 1 − distinct_words / words

    The MassiveText/Gopher-style repetition pre-filter: boilerplate
    and scraped-template pages score high and get cut before any
    expensive dedup runs. Pure array expressions — the split arrays
    live only inside the row's projection, never in a shuffle."""
    lines = F.split(text, "\n")
    words = F.split(F.trim(text), r"\s+")

    def frac(arr):
        dup = F.lit(1.0) - (
            F.size(F.array_distinct(arr)).cast("double")
            / F.greatest(F.size(arr), F.lit(1)).cast("double")
        )
        return F.floor(dup * 1e6 + F.lit(0.5)).cast("bigint")

    return F.struct(
        frac(lines).alias("dup_line_micro"), frac(words).alias("dup_word_micro")
    )


_WS_RUN = "[ \\t\\r\\n]+"
_CTRL = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched Pandas UDF.

    The one text-cleaning step the JVM function library lacks (no
    ``normalize`` builtin): composed/decomposed forms (é vs e+U+0301)
    must unify BEFORE any hash-based dedup or shingling, or visually
    identical documents land in different buckets. Row-independent
    map — no shuffle, scales with scan bandwidth; Arrow batches keep
    the Python hop amortized (pandas ``Series.str.normalize`` is the
    vectorized unicodedata path).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    return _nfc(text)


def clean_text(text: Column) -> Column:
    """Canonical cleaning pipeline: strip C0 control characters (JVM
    regex), NFC-normalize (Python hop), collapse whitespace runs to
    single spaces and trim (JVM again). Pattern strings are shared
    with the DuckDB oracle verbatim — Java regex and RE2 agree on
    these classes — so the result is value-checked end to end."""
    stripped = F.regexp_replace(text, _CTRL, "")
    return F.trim(F.regexp_replace(nfc_normalize(stripped), _WS_RUN, " "))


def bpe_train_merges(
    docs: DataFrame,
    text: str = "text",
    n_merges: int = 8,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train byte-pair-encoding-style merges over a corpus: the
    tokenizer-training loop itself, as an iterative Spark job.

    Each round counts adjacent symbol pairs corpus-wide (one
    partial-aggregated groupBy over exploded bigrams — the shuffle
    carries (pair, count) only), picks the most frequent pair
    (deterministic tie-break: count desc, then lexicographic), and
    rewrites every document by greedy left-to-right merging of that
    pair. Returns ``(merges, final_docs)``: ``merges`` is the ranked
    merge table, ``final_docs`` the re-tokenized symbol arrays.

    Symbols here are words (merges learn collocations); character
    level is the SAME plan at ~5x the symbol rows — the driver corpus
    is word-like, and word symbols keep the demonstration readable.
    The merge rewrite is an Arrow-batched Pandas UDF (greedy adjacent
    merging needs lookahead, which array HOFs can't express cleanly);
    everything else is JVM-side. The argmax is the only driver
    round-trip per round — the same counter-to-driver shape as the
    reference's N computation (PageRank.java:470-471), with the loop
    re-broadcasting two strings, not data.

    Scale: pair counting is linear in corpus symbols; each rewrite is
    map-only. State (the evolving symbol arrays) is
    localCheckpoint'ed per round to keep lineage flat, exactly like
    the PageRank loop. One merge per round is exact sequential BPE, so
    a 32k-vocabulary train runs 32k rounds, each collecting its top
    pair.
    """
    from pyspark.sql.functions import pandas_udf

    cur = docs.select(
        "doc_id",
        F.split(F.lower(F.col(text)), " +").alias("syms"),
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        runtime_counters.note_round()
        pairs = (
            cur.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                    )
                ).alias("p")
            )
            .groupBy(
                F.col("p.0").alias("a"), F.col("p.1").alias("b")
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        top = (
            pairs.where(F.col("n") >= 2)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]
        merges.append((a, b, int(n)))

        def make_merge_udf(a=a, b=b):
            # default-arg binding: the UDF body must capture THIS
            # round's pair, not the loop variables' final values —
            # the lazy checkpoint defers execution past the rebind
            joined = a + "▁" + b

            @pandas_udf("array<string>")
            def merge_pair(s: pd.Series) -> pd.Series:
                def one(arr):
                    out, i = [], 0
                    while i < len(arr):
                        if (
                            i + 1 < len(arr)
                            and arr[i] == a
                            and arr[i + 1] == b
                        ):
                            out.append(joined)
                            i += 2
                        else:
                            out.append(arr[i])
                            i += 1
                    return out

                return s.map(one)

            return merge_pair

        cur = cur.select(
            "doc_id", make_merge_udf()("syms").alias("syms")
        ).localCheckpoint(eager=False)
    return merges, cur


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text: str = "text",
) -> DataFrame:
    """Tokenize with a TRAINED merge table — the inference half of
    :func:`bpe_train_merges`: one Arrow-batched pass applying every
    merge in rank order (greedy left-to-right, identical semantics to
    training). The merge list rides the closure as plan literals, so
    encoding a new 100 TB corpus with a saved tokenizer is a
    shuffle-free map; training equivalence (apply(train(c).merges, c)
    == train(c).final) is unit-pinned."""
    from pyspark.sql.functions import pandas_udf

    pairs = [(a, b, a + "▁" + b) for a, b, _ in merges]

    @pandas_udf("array<string>")
    def encode(s: pd.Series) -> pd.Series:
        def one(text_val):
            arr = text_val
            for a, b, joined in pairs:
                out, i = [], 0
                while i < len(arr):
                    if i + 1 < len(arr) and arr[i] == a and arr[i + 1] == b:
                        out.append(joined)
                        i += 2
                    else:
                        out.append(arr[i])
                        i += 1
                arr = out
            return arr

        return s.map(one)

    return docs.select(
        "doc_id",
        encode(F.split(F.lower(F.col(text)), " +")).alias("syms"),
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-self-trained bigram language-model score per document —
    the classic perplexity-proxy quality signal (CCNet/Gopher filter
    docs whose LM score is an outlier; a corpus-estimated bigram model
    is the model-free version of that filter).

    ``score(d) = mean over bigrams (a,b) of ln( C(a,b) / C(a,·) )``
    with counts taken over the whole corpus. Word-soup and boilerplate
    score near 0 (every bigram is common); incoherent token sequences
    score very negative. Per-bigram log-probs are rounded to 6 dp and
    summed as DECIMAL so the mean is independent of partition order
    AND of last-ulp libm differences between engines.

    Scale shape: the bigram explode feeds TWO partial-aggregated
    counts (C(a,b) keyed on the pair, C(a,·) on the prefix) that are
    vocabulary²-sized ≪ corpus; they join back onto the bigram stream
    on their own keys (AQE broadcasts them when small). No text wider
    than two tokens ever shuffles. Returns
    ``(doc_id, n_bigrams, lm_score)``; single-token documents have no
    bigrams and are absent.
    """
    toks = F.split(F.lower(F.col(text_col)), " +")
    n = F.size(toks)
    bg = docs.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1)
            )
        ).alias("p"),
    ).select(id_col, F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    # the pair-count table is vocabulary²-bounded (≪ corpus) — the
    # trained "model". Materialize it once: it feeds the prefix
    # rollup AND the score join, and without the pin each consumer
    # re-runs the corpus-sized explode+count (3 corpus scans instead
    # of 1; Catalyst does not CSE differently-consumed subplans).
    cab = (
        bg.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint(eager=True)
    )
    # prefix counts roll up from the PAIR counts, not from a second
    # pass over the bigram stream — identical totals
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    scored = (
        bg.join(cab, ["a", "b"])
        .join(ca, "a")
        .select(
            id_col,
            F.round(
                F.log(F.col("cab").cast("double") / F.col("ca")), 6
            ).alias("lp"),
        )
    )
    cnt = F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        cnt.alias("n_bigrams"),
        F.round(
            F.sum(F.col("lp").cast("decimal(38,6)")).cast("double") / cnt, 6
        ).alias("lm_score"),
    )


def crossdoc_ngram_stats(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated n-gram statistics — the memorization-
    risk / boilerplate metric over a training corpus: for each
    document, how many of its distinct word ``n``-grams occur in at
    least one OTHER document. Returns ``(doc_id, n_grams, n_shared,
    shared_micro)`` (fraction in micro-units); documents with fewer
    than ``n`` tokens have no grams and are excluded.

    Scale shape: grams are hashed to 60-bit ints BEFORE leaving the
    row (md5-derived — the repo's engine-portable scheme, so the
    DuckDB twin reproduces them bitwise; swap in ``xxhash64`` for
    production speed), so the explode → document-frequency groupBy →
    join-back pipeline shuffles (hash, id) pairs only, never text.
    The gram build is interpreted-HOF work → ``_spread`` first
    (repo-documented: HOFs don't codegen and AQE coalesces
    compute-heavy small-byte stages to too few tasks).
    """
    from pagerank_hadoop_spark.operators.dedup import _spread

    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    m = F.size(tokens) - F.lit(n - 1)
    gram_h = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(tokens, i, n), " ")), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    )
    grams = F.when(m >= 1, F.array_distinct(gram_h)).otherwise(
        F.array().cast("array<long>")
    )
    per_doc = _spread(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).localCheckpoint(eager=True)  # feeds the df-count AND the join-back
    df_counts = per_doc.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        per_doc.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_shared"),
        )
        .withColumn(
            "shared_micro",
            F.floor(F.lit(1e6) * F.col("n_shared") / F.col("n_grams")).cast(
                "long"
            ),
        )
    )


GOPHER_STOPWORDS = ("the", "a", "to", "of", "and", "that", "have", "with")


def gopher_flags(text: Column, stopwords=GOPHER_STOPWORDS) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1)
    as a struct of pass/fail flags — the doc-level web-corpus filter
    that runs after the cheap score screens (``quality_micro``) and
    before dedup. Rules: word count in [50, 100000]; mean word length
    in [3, 10]; symbol-to-word ratio (# / ellipsis) <= 0.1; <= 90% of
    lines bullet-started; <= 30% of lines ellipsis-ended; >= 80% of
    words alphabetic; >= 2 distinct stopwords present.

    Every threshold is evaluated in INTEGER arithmetic (e.g. mean
    word length in [3,10] as ``3*n_words <= chars <= 10*n_words``) so
    the flags are bitwise engine-portable — no float ratio ever
    materializes. Pure Column expressions, map-only, codegen-friendly
    except the two line/word lambda filters (HOFs are interpreted —
    callers on wide corpora should ``_spread`` first, repo-documented).
    """
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_words = F.size(words)
    wchars = F.length(F.regexp_replace(text, r"\s", ""))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.startswith("- ")))
    n_ell_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in stopwords]))
    )
    flags = {
        "f_words": (n_words >= 50) & (n_words <= 100000),
        "f_wlen": (F.lit(3) * n_words <= wchars)
        & (wchars <= F.lit(10) * n_words),
        "f_symbol": F.lit(10) * (n_hash + n_ellipsis) <= n_words,
        "f_bullet": F.lit(10) * n_bullet <= F.lit(9) * n_lines,
        "f_ellipsis": F.lit(10) * n_ell_lines <= F.lit(3) * n_lines,
        "f_alpha": F.lit(10) * n_alpha >= F.lit(8) * n_words,
        "f_stop": n_stop >= 2,
    }
    cols = [v.cast("int").alias(k) for k, v in flags.items()]
    pass_all = None
    for v in flags.values():
        pass_all = v if pass_all is None else (pass_all & v)
    return F.struct(
        n_words.cast("long").alias("n_words"),
        *cols,
        pass_all.cast("int").alias("pass_all"),
    )


def keyword_tags(
    docs: DataFrame,
    keywords: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dictionary keyword/phrase tagging (the FlashText / trie-tagger
    use case: topic labels, PII term flags, domain lexicons): match a
    fixed dictionary of unigrams AND two-word phrases against each
    document's token stream, returning ``(id, n_tags, tags)`` with
    ``tags`` the sorted ``|``-joined set of dictionary entries hit.

    Matching is whole-token (a dictionary entry never matches inside
    a word — the classic regex-alternation bug this pattern exists to
    avoid); phrases match on adjacent token bigrams.

    Scale shape: the dictionary is a PLAN LITERAL array, so tagging
    is a map-only column expression — zero shuffles, fully
    scan-bound, and Catalyst folds the constant. That is the right
    call up to dictionaries of a few thousand entries (plan size);
    larger ones go into the plan as literals too.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.array_distinct(F.concat(toks, bigrams))
    lex = F.array(*[F.lit(str(w)) for w in keywords])
    hits = F.array_sort(F.array_intersect(grams, lex))
    return docs.select(
        F.col(id_col),
        F.size(hits).cast("long").alias("n_tags"),
        F.array_join(hits, "|").alias("tags"),
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into OVERLAPPING token-window chunks — the
    standard pre-embedding / context-window preparation step (RAG
    passage windows, long-doc training examples): chunk ``i`` covers
    tokens ``[i·stride, i·stride + window)``; a document shorter than
    one window yields exactly one chunk; the final chunk may be short.
    Returns ``(id, chunk_id, n_chunk_tokens, chunk_md5)`` — md5 of the
    space-rejoined chunk, so a value gate checks every byte of every
    chunk without shipping chunk text (the normalized_doc_hashes
    posture).

    Pure Column expressions (split → sequence → explode → slice):
    map-only, zero shuffles, scales with scan bandwidth; downstream
    embedding/packing stages consume the exploded rows directly.
    ``stride < window`` gives overlap; ``stride == window`` is exact
    tiling."""
    if not (0 < stride <= window):
        raise ValueError("chunk_documents requires 0 < stride <= window")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1).cast("long")).otherwise(
        F.ceil((n - window) / F.lit(float(stride))).cast("long") + 1
    )
    out = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    chunk = F.slice(
        F.col("__toks"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        window,
    )
    return out.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )

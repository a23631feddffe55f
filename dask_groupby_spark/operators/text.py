"""Text-analysis operators for training-data pipelines: tokenization stats,
quality scoring, language ID, document fingerprinting.

All are pure Column expressions (JVM-side, whole-stage codegen) — no Python
UDFs in the hot path.  Every function is deterministic and mirrors an ANSI
SQL formulation so results can be oracle-checked in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword tables for the n-gram/stopword-ratio heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "un"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization: split on runs of whitespace, drop empties.

    The class is spelled explicitly ([ \\t\\n\\r\\f]) rather than \\s so the
    Java-regex engine side and the RE2 DuckDB oracle agree exactly (Java \\s
    also matches \\x0B; RE2 \\s does not).  Splitting on SPACES ONLY was the
    r9 review's top finding: every newline/tab glued adjacent words into one
    pseudo-token, corrupting token counts, gopher flags, vocab and BM25 on
    any multi-line document."""
    return F.filter(F.split(col, "[ \\t\\n\\r\\f]+"), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def _stopword_hits(toks: Column, words) -> Column:
    """# tokens that are stopwords of one language (exact token match,
    counted with multiplicity).  Takes the ALREADY-TOKENIZED array so the
    split isn't recomputed per language (25 regex splits per row otherwise
    — codegen does not CSE across higher-order-function lambdas).

    ONE filter pass with an ``isin`` set predicate — not one filter per
    word: higher-order functions are interpreted per element
    (CodegenFallback), so |words| separate passes cost |words|× the lambda
    dispatch for the same count (r12, the minhash-fold lesson: 3.1× faster
    at sf1 over the 5-language feature block, identical output).  The
    lambda must take exactly ONE parameter — pyspark treats a
    two-parameter lambda (even with a default) as (element, index)."""
    ws = list(words)
    return F.size(F.filter(toks, lambda x: x.isin(*ws)))


def add_text_features(
    df: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document quality features: char count, token count, mean token
    length, punctuation ratio, stopword ratio.  One narrow projection —
    evaluated map-side, no shuffle; the token array is materialized once
    into a temp column and shared by every feature.

    ``tokens_col`` names an existing pre-tokenized array column to reuse
    — when several text operators compose over the same documents,
    tokenize ONCE (``df.withColumn("tk", tokens(F.col("text")))``) and
    pass it to each, instead of paying a regex split per operator."""
    t = F.col(text_col)
    own_toks = tokens_col is None
    tkc = "__toks" if own_toks else tokens_col
    if own_toks:
        df = df.withColumn(tkc, tokens(t))
    toks = F.col(tkc)
    n_tok = F.size(toks)
    n_char = F.length(t)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    n_punct = n_char - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    sw = _stopword_hits(toks, STOPWORDS[lang])
    return (
        df.withColumn("n_chars_f", n_char.cast("long"))
        .withColumn("n_tokens", n_tok.cast("long"))
        .withColumn(
            "mean_token_len",
            F.when(n_tok > 0, tok_chars.cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_char > 0, n_punct.cast("double") / n_char).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tok > 0, sw.cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
        .drop(*(["__toks"] if own_toks else []))
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    out: str = "lang_pred",
    tokens_col: str | None = None,
) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts
    (ties → lexicographically smallest language code; 'und' when all zero).

    At scale this is a map-only projection; a real model would slot in as a
    Pandas UDF behind the same column contract.  ``tokens_col`` reuses a
    pre-tokenized array column (see :func:`add_text_features`).
    """
    t = F.col(text_col)
    own_toks = tokens_col is None
    tkc = "__toks" if own_toks else tokens_col
    if own_toks:
        df = df.withColumn(tkc, tokens(t))
    toks = F.col(tkc)
    scored = F.array(
        *[
            F.struct(
                _stopword_hits(toks, ws).alias("score"), F.lit(code).alias("code")
            )
            for code, ws in sorted(STOPWORDS.items())
        ]
    )
    # equal scores must break ties by SMALLEST code: filter to the max
    # score, then take array_min of the winners' codes
    max_score = F.array_max(F.transform(scored, lambda s: s["score"]))
    winners = F.filter(scored, lambda s: s["score"] == max_score)
    pred = F.when(max_score > 0, F.array_min(F.transform(winners, lambda s: s["code"]))).otherwise(
        F.lit("und")
    )
    return df.withColumn(out, pred).drop(*(["__toks"] if own_toks else []))


def repetition_features(
    df: DataFrame, text_col: str = "text", prefix: str = "rep_"
) -> DataFrame:
    """Gopher-style within-document repetition signals, map-side only:

    - ``rep_dup_token_frac`` — fraction of tokens that are repeats of an
      earlier token (1 − distinct/total);
    - ``rep_top_bigram_frac`` — share of bigram occurrences taken by the
      most frequent bigram (high → boilerplate/spam).

    The top-bigram count is computed WITHOUT exploding: sort the bigram
    array, then the longest equal-run length — an ``aggregate`` fold with a
    (current, best) accumulator — is the max frequency.  Everything stays
    in whole-stage codegen; zero shuffles.
    """
    # materialize once — the same no-CSE-across-lambdas rule as
    # add_text_features (r9 review)
    df = df.withColumn("__toks", tokens(F.col(text_col)))
    toks = F.col("__toks")
    n = F.size(toks)
    dup_frac = F.when(
        n > 0, 1.0 - F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(0.0)

    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    srt = F.array_sort(bigrams)
    run = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram_frac = F.when(
        F.size(srt) > 0, run.cast("double") / F.size(srt)
    ).otherwise(0.0)
    return (
        df.withColumn(f"{prefix}dup_token_frac", dup_frac)
        .withColumn(f"{prefix}top_bigram_frac", top_bigram_frac)
        .drop("__toks")
    )


def token_entropy(col: Column) -> Column:
    """Shannon entropy (nats) of the within-document token frequency
    distribution: ``H = ln(n) − (Σ c·ln c)/n`` over distinct-token counts.

    Low entropy = repetitive/templated text (a standard quality signal next
    to the Gopher repetition fractions).  Computed as a zero-shuffle fold:
    sort the token array, accumulate run-lengths and ``Σ c·ln c`` in ONE
    ``F.aggregate`` pass — no explode, no groupBy, stays map-side.
    Empty documents → 0.0.
    """
    srt = F.array_sort(tokens(col))
    n = F.size(srt)

    def clnc(run):
        return F.when(run > 0, run * F.log(run)).otherwise(F.lit(0.0))

    folded = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), F.lit(0.0).alias("run"), F.lit(0.0).alias("s")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1.0)).alias("run"),
            (
                a["s"] + F.when(x == a["prev"], F.lit(0.0)).otherwise(clnc(a["run"]))
            ).alias("s"),
        ),
        lambda a: a["s"] + clnc(a["run"]),
    )
    return F.when(n > 0, F.log(n.cast("double")) - folded / n).otherwise(F.lit(0.0))


def pattern_counts(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Per-document counts of scrub-relevant patterns (emails, URLs,
    long digit runs by default) — the cheap pre-filter before any PII
    pipeline.  One ``regexp_count`` column per pattern; map-side only."""
    if patterns is None:
        patterns = {
            "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "n_urls": r"https?://[^\s]+",
            "n_digit_runs": r"\d{6,}",
        }
    out = df
    for name, pat in patterns.items():
        out = out.withColumn(name, F.regexp_count(F.col(text_col), F.lit(pat)))
    return out


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_len: int = 1,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF:
    ``tf * (ln((N+1)/(df+1)) + 1)`` (sklearn's smooth-idf convention).

    Plan at 100 TB: tokenize/explode map-side → per-(doc, term) counts (one
    shuffle, map-side combine) → per-term document frequencies (second
    aggregate over the *already-reduced* (doc, term) rows, never raw
    tokens) → join the (term, df) table back WITHOUT a broadcast hint: a
    web-scale vocabulary (typos, hashes, code tokens) is billions of rows,
    so the strategy must stay Catalyst/AQE's size-based choice — broadcast
    when the vocab is small, shuffled join when it isn't (see
    docs/PLANS.md "tfidf join strategy").  The corpus size N comes from a
    lazy 1-row aggregate cross-joined in (that broadcast is always safe),
    so nothing runs at construction time.

    Output: (id_col, term, tf, tfidf, rank), rank ≤ k per document;
    ties break (score desc, term asc) for determinism.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.length("term") >= min_len)
    # tf feeds BOTH the document-frequency aggregate and the score join,
    # and Spark 4/AQE does not reuse the tf Exchange across the two
    # consumers (measured on lm_quality_score, same shape: the corpus
    # explode+shuffle ran once per consumer) — persist the reduced
    # (doc, term, tf) rows so tokenization runs once;
    # result.tfidf_term_counts.unpersist() releases the cache eagerly
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.count(F.lit(1)).alias("N"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("N") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "tfidf", "rank")
    )
    out.tfidf_term_counts = tf  # unpersist handle
    return out


def document_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint", prefix_tokens: int = 8
) -> DataFrame:
    """Deterministic document fingerprint: md5 of the first-k-token prefix
    joined with the token-count bucket — a cheap rolling-hash analog used to
    bucket near-identical prefixes before expensive pairwise comparison."""
    t = F.col(text_col)
    toks = tokens(t)
    prefix = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    bucket = F.floor(F.size(toks) / 16).cast("int")
    return df.withColumn(out, F.md5(F.concat(prefix, F.lit("#"), bucket.cast("string"))))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 256,
    overlap: int = 0,
    chunk_col: str = "chunk_id",
    out_col: str = "chunk_text",
    count_col: str = "n_tokens",
) -> DataFrame:
    """Split documents into (optionally overlapping) token-window chunks —
    the context-window preprocessing step before embedding/training: window
    ``i`` covers tokens ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``; the last window may be shorter;
    empty documents yield no chunks.

    The last chunk index is ``max(0, ceil((n - max_tokens)/stride))`` — the
    FIRST window that reaches the document's end is the last one emitted.
    (``ceil(n/stride)`` windows would emit trailing chunks that are strict
    subsets of the previous chunk whenever ``overlap > 0`` and the tail is
    short — duplicated text downstream.)

    Pure map-side projection + explode (zero shuffle): at 100 TB the
    chunk multiplier scales rows, not stages — budget downstream shuffles
    on the post-chunk row count, exactly like :func:`mixture_sample`
    upsampling.  Pairs with
    :func:`~dask_groupby_spark.operators.curate.pack_sequences` (chunk the
    long tail down, pack the short tail up).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not (0 <= overlap < max_tokens):
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    out = (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__n", F.size("__toks"))
        .where(F.col("__n") > 0)
        .withColumn(
            chunk_col,
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.ceil(
                            (F.col("__n") - F.lit(max_tokens))
                            / F.lit(float(stride))
                        ).cast("long"),
                    ),
                )
            ),
        )
    )
    piece = F.slice(F.col("__toks"), F.col(chunk_col) * stride + 1, max_tokens)
    return (
        out.withColumn(out_col, F.array_join(piece, " "))
        .withColumn(count_col, F.size(piece))
        .drop("__toks", "__n")
    )


def lm_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
    alpha: float = 1.0,
    out: str = "lm_logprob",
) -> DataFrame:
    """Unigram language-model quality score: each document's mean per-token
    log-probability under a unigram LM — the classic cheap perplexity proxy
    for corpus filtering (low scores = gibberish / rare-token soup, high
    scores = boilerplate; filters usually keep a middle band).

    With ``vocab=None`` (default) the LM is fit on the corpus itself:
    ``p(t) = cnt(t) / T``, every token in-vocabulary by construction.  Pass
    a ``(term, cnt)`` DataFrame (e.g. persisted from a reference corpus) to
    score against an external LM; out-of-vocabulary terms then use
    Lidstone smoothing ``p(t) = (cnt + alpha) / (T + alpha·(V+1))``.

    Output: one row per document with ≥1 token — (id_col, n_tokens, out).

    Plan at 100 TB: explode → per-(doc, term) counts (ONE shuffle, map-side
    combined — the join and the vocab fit both run over these already-
    reduced rows, PERSISTED so the corpus tokenizes once: AQE does not
    reuse the exchange across the two consumers); the corpus totals
    are 1-row aggregates broadcast by construction; the term join strategy
    is left to AQE (a web-scale vocabulary must be allowed to shuffle —
    force-broadcasting it would OOM the driver).
    """
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    external = vocab is not None
    if not external:
        # internal-LM mode reads tf TWICE (vocab fit + score join) and
        # Spark 4/AQE does not reuse the tf Exchange across them (measured:
        # the corpus explode+shuffle ran once per consumer) — persist the
        # already-reduced (doc, term, tf) rows so tokenization runs once;
        # result.lm_term_counts.unpersist() releases the cache eagerly
        # (same handle contract as bm25_scores.bm25_doc_lengths)
        tf = tf.persist()
        vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("T"), F.count(F.lit(1)).alias("V")
    )
    joined = tf.join(vocab, on="term", how="left" if external else "inner").crossJoin(
        F.broadcast(totals)
    )
    if external:
        p = (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha)) / (
            F.col("T") + F.lit(alpha) * (F.col("V") + 1)
        )
    else:
        p = F.col("cnt") / F.col("T")
    res = (
        joined.groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (F.sum(F.col("tf") * F.log(p)) / F.sum("tf")).alias(out),
        )
        .select(F.col("id").alias(id_col), "n_tokens", out)
    )
    if not external:
        res.lm_term_counts = tf  # unpersist handle
    return res


#: GPT-2-style pre-tokenizer pattern, restricted to RE2-compatible syntax
#: (no lookahead) so the DuckDB oracle evaluates the IDENTICAL pattern:
#: contractions | space?-letters | space?-digits | space?-other-runs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\sA-Za-z0-9]+"


def bpe_token_estimate(col: Column, chars_per_token: int = 4) -> Column:
    """Estimated BPE token count: GPT-2-ish regex pre-tokenization, then
    each piece contributes ``max(1, ceil(len/chars_per_token))`` subwords —
    the standard "~4 chars per token" budgeting heuristic, deterministic
    and vocabulary-free (a real tokenizer is a model artifact; training-
    data pipelines need the budget estimate long before a tokenizer run).

    Pure Catalyst: one regexp scan + one array fold per row, zero shuffle.
    Complements the exact whitespace :func:`token_count`.
    """
    pieces = F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_RE), 0)
    return F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.length(F.trim(p)) / F.lit(chars_per_token)).cast("bigint"),
        ),
    )


#: Gopher quality-rule defaults (Rae et al. 2021, "Scaling Language
#: Models", Table A1 — the repetition rules live in
#: :func:`repetition_features`); thresholds are overridable per call.
GOPHER_DEFAULTS = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    min_stop_hits=2,
    min_alpha_ratio=0.8,
    max_symbol_ratio=0.1,
)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    stopwords=STOPWORDS["en"],
    tokens_col: str | None = None,
    **overrides,
) -> DataFrame:
    """Gopher-rules document quality signals (Rae et al. 2021): word count
    band, mean word length band, ≥2 stopword hits, ≥80% of words containing
    an alphabetic character, ≤10% hash/ellipsis symbols — appended as typed
    columns plus a single ``gopher_pass`` verdict.

    One narrow map-only projection, no shuffle, no UDF; the token array is
    MATERIALIZED into a column first (codegen does not CSE the tokenize
    expression across the rules' higher-order-function lambdas — binding
    the bare expression re-split the text once per rule).  ``tokens_col``
    reuses an existing pre-tokenized column instead (see
    :func:`add_text_features`).  Compose with ``curate_documents`` or
    filter directly on ``gopher_pass``.
    """
    cfg = {**GOPHER_DEFAULTS, **overrides}
    own_toks = tokens_col is None
    tkc = "__toks" if own_toks else tokens_col
    if own_toks:
        df = df.withColumn(tkc, tokens(F.col(text_col)))
    toks = F.col(tkc)
    n = F.size(toks)
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
        / n.cast("double"),
    )
    stop_hits = _stopword_hits(toks, stopwords)
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n > 0, alpha_words / n.cast("double"))
    t = F.col(text_col)
    hash_count = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    ell_count = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / F.lit(3)
    # Gopher tests each symbol's PER-WORD ratio against the bound; the
    # reported column is the binding one (the max of the two)
    symbol_ratio = F.when(
        n > 0, F.greatest(hash_count, ell_count).cast("double") / n.cast("double")
    )
    passes = (
        (n >= cfg["min_words"]) & (n <= cfg["max_words"])
        & (mean_len >= cfg["min_mean_word_len"]) & (mean_len <= cfg["max_mean_word_len"])
        & (stop_hits >= cfg["min_stop_hits"])
        & (alpha_ratio >= cfg["min_alpha_ratio"])
        & (symbol_ratio <= cfg["max_symbol_ratio"])
    )
    out = df.select(
        "*",
        n.cast("bigint").alias("g_n_words"),
        mean_len.alias("g_mean_word_len"),
        stop_hits.cast("bigint").alias("g_stop_hits"),
        alpha_ratio.alias("g_alpha_ratio"),
        symbol_ratio.alias("g_symbol_ratio"),
        F.coalesce(passes, F.lit(False)).alias("gopher_pass"),
    )
    return out.drop("__toks") if own_toks else out


def hash_classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: "list[float] | None" = None,
    dim: int = 1024,
    bias: float = 0.0,
    out: str = "clf_score",
    hasher: str = "fast",
) -> DataFrame:
    """Hashing-trick linear classifier score per document — the fastText-
    style quality/topic classifier pattern (Joulin et al. 2016) that
    corpus pipelines run over every document: each token indexes a fixed
    weight vector through ``hash(token) % dim``, the document score is
    ``sigmoid(bias + mean(w[h(t)]))``.

    Pass ``weights`` (a trained ``dim``-sized vector — it is inlined as a
    literal array, so keep ``dim`` in the 10^3-10^4 range; bigger models
    should broadcast-join a ``(bucket, weight)`` table instead).  With
    ``weights=None`` a deterministic pseudo-weight is derived from each
    bucket's own hash (uniform in [-1, 1]) — the full scoring path with a
    placeholder model, cross-engine checkable with ``hasher='portable'``.

    Plan (r12): explode(tokens) → native per-token weight → ONE
    groupBy(id) with map-side partial (sum, count) — the Exchange moves
    one compact row per document, and the whole per-token path is
    codegen'd.  The previous formulation folded the token array with
    ``F.aggregate`` (zero-shuffle but interpreted per element — HOFs are
    CodegenFallback, the minhash-signature lesson); the partial sum
    accumulates the SAME left-to-right token order inside the single
    partition that holds the document's rows, so the float score is
    bit-identical.  Docs with zero tokens (or NULL text) emit no rows,
    exactly as the old ``where(n > 0)``; rows sharing an id merge into
    one score over their concatenated tokens (ids are assumed unique).
    Scoring 100 TB is embarrassingly parallel.
    """
    from .dedup import _hasher

    h = _hasher(hasher)

    def bucket(t: Column) -> Column:
        return F.pmod(h(t, seed="cb"), F.lit(dim))

    if weights is not None:
        if len(weights) != dim:
            raise ValueError(f"len(weights)={len(weights)} != dim={dim}")
        warr = F.array(*[F.lit(float(w)) for w in weights])

        def weight(t: Column) -> Column:
            return F.element_at(warr, (bucket(t) + 1).cast("int"))

    else:

        def weight(t: Column) -> Column:
            return (
                F.pmod(h(bucket(t).cast("string"), seed="cw"), F.lit(2001))
                - F.lit(1000)
            ) / F.lit(1000.0)

    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    )
    agg = ex.groupBy("__id").agg(
        F.sum(weight(F.col("__t"))).alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    score = F.lit(bias) + F.col("__total") / F.col("__n")
    return agg.select(
        F.col("__id").alias(id_col),
        # size() returned INT; count() is BIGINT — keep the historical type
        F.col("__n").cast("int").alias("n_tokens"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-score))).alias(out),
    )



def remove_repeated_segments(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    out: str | None = None,
    min_len: int = 1,
    count_cols: bool = False,
) -> DataFrame:
    """Within-document repeated-segment removal — the "repeated line
    removal" cleaning step of web-corpus pipelines (navigation bars,
    cookie banners, boilerplate repeated down a page): split on ``sep``,
    keep each segment's FIRST occurrence, drop later exact repeats,
    rejoin.  Segments shorter than ``min_len`` characters are always kept
    (blank lines / structural separators are not content repeats) — the
    default ``min_len=1`` protects exactly the empty segment, so paragraph
    breaks survive (r9 review: the former default 0 made the guard
    vacuous and collapsed every blank line after the first).

    Cross-document repetition is the dedup family's job
    (:func:`~dask_groupby_spark.operators.dedup.remove_duplicate_spans`);
    this is the intra-document complement, and it is map-only — a
    split → indexed filter (first index wins via ``array_position``) →
    rejoin projection, zero shuffle, no UDF.  Per-segment cost is
    O(segments²) inside the row (array_position scans), bounded by
    document size, never by corpus size.

    ``count_cols=True`` adds ``seg_n_before``/``seg_n_after``.
    """
    import re as _re

    out = out or text_col
    if out != text_col and out in df.columns:
        raise ValueError(
            f"out={out!r} collides with an existing column — the result "
            "would carry two columns of that name"
        )
    # F.split takes a REGEX but array_join re-inserts sep literally —
    # escape, or a metachar separator ('. ', '|') would shred the text
    segs = F.split(F.col(text_col), _re.escape(sep))
    kept = F.filter(
        segs,
        lambda x, i: (F.length(x) < F.lit(min_len))
        | (F.array_position(segs, x) == i + 1),
    )
    cols = [c for c in df.columns if c != text_col or out != text_col]
    extra = (
        [
            F.size(segs).alias("seg_n_before"),
            F.size(kept).alias("seg_n_after"),
        ]
        if count_cols
        else []
    )
    return df.select(
        *cols, *extra, F.array_join(kept, sep).alias(out)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """Corpus n-gram counts ``(ngram, cnt)`` — the raw material of
    count-based language models (KenLM-style n-gram LMs, the classic
    decontamination/blocklist source, and the vocabulary for
    :func:`lm_quality_score`'s external-LM mode when fit on a reference
    corpus).

    N-grams are generated MAP-SIDE from each row's token array: the start
    POSITIONS are exploded (the token array rides through the Generate)
    and each gram string is built post-explode with codegen'd
    ``concat_ws(' ', toks[i], …, toks[i+n−1])`` — no higher-order
    functions on the per-gram path (r12, the minhash-signature lesson:
    HOF lambdas are CodegenFallback, interpreted per element), no
    explode-then-join, no pair shuffle.  The single groupBy is map-side
    combined, so the Exchange carries (ngram, partial-count) rows, not
    corpus tokens.  ``min_count`` prunes the long tail AFTER aggregation
    (the standard count-cutoff; it cannot be pushed below the shuffle
    without changing semantics).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    toks = tokens(F.col(text_col))
    starts = F.when(
        F.size(F.col("__toks")) >= n,
        F.sequence(F.lit(0), F.size(F.col("__toks")) - n),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(
        " ", *[F.col("__toks")[F.col("__i") + j] for j in range(n)]
    )
    out = (
        df.select(toks.alias("__toks"))
        .select("__toks", F.explode(starts).alias("__i"))
        .select(gram.alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        out = out.where(F.col("cnt") >= F.lit(min_count))
    return out


def bm25_scores(
    df: DataFrame,
    query_terms: "list[str] | tuple[str, ...]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against one query term
    set — the retrieval-scoring member of the curation family
    (data-selection pipelines rank a web corpus against a target-domain
    query / seed set and keep the top slice; BM25 is the standard
    lexical ranker before any embedding pass).

    ``score(d) = Σ_t  IDF(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))``
    with the +1-smoothed ``IDF(t) = ln((N − df + 0.5)/(df + 0.5) + 1)``
    (Robertson/Sparck-Jones as used by Lucene — never negative).

    Returns ``(id_col, dl, bm25)`` for EVERY document (no-hit docs score
    0.0 — filter ``bm25 > 0`` for matches only, or window for top-k).

    Plan shape, sized for a 100 TB corpus against a KB query:
    corpus stats ``(N, avgdl)`` are ONE map-combined aggregate collecting
    two scalars; the token explode stream is filtered by the query-term
    literal set MAP-SIDE, so the per-(doc, term) groupBy's Exchange
    carries only matching tokens (≈ |hits|, not |corpus tokens|); doc
    length rides the groupBy keys (constant per doc — no length join);
    per-term doc frequencies aggregate the ≤ |terms| × |docs| tf rows
    down to ≤ |terms| rows, which re-enter by broadcast; the final score
    is one groupBy(id) plus one id-equi-join back to the doc-length
    table to restore zero-hit docs.  Two shuffles total (matching
    tokens; id join) — the corpus is never shuffled whole, nothing
    pairwise, every broadcast bounded by the query size.
    """
    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    tk = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    # narrow (id, dl) rows, persisted: materialized once by the stats
    # collect below and reused by the final zero-hit restore join, so the
    # corpus is tokenized twice total (dl build + tf build), not three
    # times; Spark's LRU reclaims the KB/row cache entry
    dl = tk.select("__id", F.size("__tk").alias("dl")).persist()
    st = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(st["n"]), st["avgdl"]
    if n_docs == 0:
        from pyspark.sql import types as _T

        dl.unpersist()  # empty corpus: nothing reuses the cache entry
        return df.sparkSession.createDataFrame(
            [],
            _T.StructType([
                _T.StructField(id_col, df.schema[id_col].dataType),
                _T.StructField("dl", _T.IntegerType()),
                _T.StructField("bm25", _T.DoubleType()),
            ]),
        )
    if avgdl is None:
        # every document's text is NULL: dl is NULL everywhere, no token
        # can match — all rows score exactly 0.0 (avg ignored the NULLs,
        # so the n_docs>0 guard above didn't catch this)
        out_null = dl.select(
            F.col("__id").alias(id_col), "dl", F.lit(0.0).alias("bm25")
        )
        out_null.bm25_doc_lengths = dl  # persist-handle contract (below)
        return out_null
    tf = (
        tk.select("__id", F.size("__tk").alias("__dl"),
                  F.explode("__tk").alias("__term"))
        .where(F.col("__term").isin(terms))
        .groupBy("__id", "__dl", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__term").agg(
        F.count(F.lit(1)).alias("__df")
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
        + 1.0
    )
    denom = F.col("__tf") + k1 * (
        1.0 - b + b * F.col("__dl") / F.lit(float(avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .select(
            "__id",
            (idf * F.col("__tf") * (k1 + 1.0) / denom).alias("__s"),
        )
        .groupBy("__id")
        .agg(F.sum("__s").alias("__bm25"))
    )
    out_df = (
        dl.join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "dl",
            F.coalesce("__bm25", F.lit(0.0)).alias("bm25"),
        )
    )
    # unpersist handle: after consuming the result, result.bm25_doc_lengths.unpersist()
    # releases the cached (id, dl) table instead of waiting for LRU
    out_df.bm25_doc_lengths = dl
    return out_df


def _hashed_ngram_buckets(text_col: str, n: int, dim: int, hasher: str) -> Column:
    """Map-side array of hashed n-gram bucket ids (0..dim-1) per row —
    the PROJECTION form (keeps the array so a caller can fold over it in
    place, e.g. dsir scoring, which adds a column to existing rows).
    Aggregating consumers should use :func:`_hashed_ngram_bucket_rows`
    (codegen'd, no HOFs) instead; both build byte-identical gram strings
    so their hashes agree."""
    from .dedup import _hasher

    h = _hasher(hasher)
    toks = tokens(F.col(text_col))
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.transform(grams, lambda g: F.pmod(h(g, seed="dsir"), F.lit(dim)))


def _hashed_ngram_bucket_rows(
    df: DataFrame, text_col: str, n: int, dim: int, hasher: str
) -> DataFrame:
    """One row per hashed n-gram bucket occurrence, column ``b`` — the
    EXPLODED form of :func:`_hashed_ngram_buckets` for aggregating
    consumers (dsir profiles): explode the start positions with the token
    array retained, build each gram with codegen'd concat_ws/GetArrayItem
    (r12, the minhash-signature lesson — no interpreted HOF lambdas on
    the per-gram path)."""
    from .dedup import _hasher

    h = _hasher(hasher)
    starts = F.when(
        F.size(F.col("__toks")) >= n,
        F.sequence(F.lit(0), F.size(F.col("__toks")) - n),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(" ", *[F.col("__toks")[F.col("__i") + j] for j in range(n)])
    return (
        df.select(tokens(F.col(text_col)).alias("__toks"))
        .select("__toks", F.explode(starts).alias("__i"))
        .select(F.pmod(h(gram, seed="dsir"), F.lit(dim)).alias("b"))
    )


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    n: int = 2,
    dim: int = 4096,
    alpha: float = 1.0,
    hasher: str = "fast",
    out: str = "dsir_logw",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how much more likely its hashed n-gram profile is under
    the TARGET distribution than under the raw one —
    ``log w(x) = Σ_grams (log p_target[h(g)] − log p_raw[h(g)])`` with
    add-``alpha`` smoothed bucket unigram models.  Feed the weights to
    ``selection.sample_per_group(weight_col=…)`` (Efraimidis–Spirakis)
    for the resampling half of the method.

    Plan: the two bucket profiles are ONE map-combined aggregate each,
    bounded at ``dim`` counter rows regardless of corpus size (the CMS
    cost shape); the dim-sized log-ratio table is collected once
    (documented bounded collect, inlined as a literal array — keep
    ``dim`` ≤ ~10⁴, the `hash_classifier_score` guidance) and scoring is
    a pure map-side fold over each document's gram buckets: zero
    shuffle, no UDF, embarrassingly parallel at 100 TB.

    Output: ``corpus`` + ``out`` (DOUBLE; 0.0 for docs with no n-grams;
    NULL text ⇒ NULL).
    """
    import math as _math

    if dim < 2 or dim > 100_000:
        raise ValueError(f"dim must be in [2, 100000], got {dim}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (smoothing), got {alpha}")

    def profile(df: DataFrame) -> dict[int, int]:
        rows = (
            _hashed_ngram_bucket_rows(df, text_col, n, dim, hasher)
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {r["b"]: r["c"] for r in rows}

    tprof = profile(target)
    rprof = profile(corpus)
    t_tot = sum(tprof.values()) + alpha * dim
    r_tot = sum(rprof.values()) + alpha * dim
    ratio = [
        _math.log((tprof.get(b, 0) + alpha) / t_tot)
        - _math.log((rprof.get(b, 0) + alpha) / r_tot)
        for b in range(dim)
    ]
    rarr = F.array(*[F.lit(v) for v in ratio])
    buckets = _hashed_ngram_buckets(text_col, n, dim, hasher)
    logw = F.aggregate(
        buckets,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(rarr, (b + 1).cast("int")),
    )
    return corpus.withColumn(
        out,
        F.when(F.col(text_col).isNotNull(), logw).cast("double"),
    )

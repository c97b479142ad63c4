"""Text-analysis operators for large-scale training-data pipelines
(SURVEY §2.O): tokenization, quality scoring, language ID, document
fingerprinting.

All hot-path logic is built-in `pyspark.sql.functions` (JVM-side,
codegen'd) — no Python UDFs — so these run at full scan speed over
100 TB document corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from stock_market_etl_spark.operators.parallelism import fanout_width

#: minimal stopword profiles per language for the n-gram/token-overlap
#: language-ID heuristic. Ordered dict = deterministic tie-break priority.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "un", "une"],
    "es": ["el", "la", "y", "los", "un", "una"],
}

STOPWORDS = LANG_PROFILES["en"] + ["it", "on", "for", "with"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: GPT-2-style pre-tokenizer alternation (contractions, letter runs,
#: digit runs, punctuation runs — each optionally space-prefixed),
#: written without lookahead so Java regex (Spark) and RE2 (DuckDB)
#: match identically.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """Subword-style token count: number of BPE pre-tokenizer segments.
    A proxy for LLM token budgets that stays engine-side (regexp only,
    no vocab) and cross-checks exactly against the SQL oracle."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0))


def punct_ratio(text: Column) -> Column:
    """Share of characters outside [a-z0-9 ] (quality signal)."""
    stripped = F.regexp_replace(text, "[a-z0-9 ]", "")
    return F.length(stripped) / F.length(text)


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return n_stop / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0, 1]: length saturation,
    low punctuation noise, natural stopword presence."""
    n_tok = token_count(text).cast("double")
    return (
        0.4 * F.least(F.lit(1.0), n_tok / 100.0)
        + 0.3 * (1.0 - punct_ratio(text))
        + 0.3 * stopword_ratio(text)
    )


def gopher_metrics(text: Column) -> dict[str, Column]:
    """Gopher-style document-quality rule metrics (Rae et al. 2021,
    §A1.1 repetition/quality filters — the word-grain subset that
    needs no line structure): mean word length, symbol-to-word ratio
    ('#' chars and '…'-as-'...' occurrences per word), fraction of
    words containing an alphabetic character, and stopword hit count.
    All four are single-scan array expressions over the whitespace
    tokenization — no UDFs, fully whole-stage-codegen, and exactly
    replayable in the SQL oracle. Doubles round to 6dp HERE so the
    downstream keep-decision compares the same numbers both engines
    hash."""
    toks = tokens(text)
    n = F.size(toks).cast("double")
    total_chars = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    hash_chars = F.length(text) - F.length(
        F.replace(text, F.lit("#"), F.lit(""))
    )
    ellipses = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3.0)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return {
        "mean_word_len": F.round(total_chars.cast("double") / n, 6),
        "symbol_word_ratio": F.round((hash_chars + ellipses) / n, 6),
        "alpha_word_frac": F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double")
            / n,
            6,
        ),
        "n_stopword_hits": F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).cast("long"),
    }


def gopher_keep(m: dict[str, Column]) -> Column:
    """The composed Gopher keep decision over ``gopher_metrics``:
    3 ≤ mean word length ≤ 10, symbol-to-word ratio ≤ 0.1, ≥ 80% of
    words alphabetic, ≥ 2 stopword hits. Evaluated on the ROUNDED
    metrics so the boundary comparisons are engine-stable."""
    return (
        m["mean_word_len"].between(3.0, 10.0)
        & (m["symbol_word_ratio"] <= 0.1)
        & (m["alpha_word_frac"] >= 0.8)
        & (m["n_stopword_hits"] >= 2)
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: token overlap against per-language
    stopword profiles, deterministic priority order on ties."""
    toks = F.array_distinct(tokens(text))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in prof]))
        )
        for lang, prof in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    expr = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if expr is None:
            expr = F.when(cond, branch) if cond is not None else branch
        elif cond is not None:
            expr = expr.when(cond, branch)
        else:
            expr = expr.otherwise(branch)
    return expr


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (content-normalized hash) —
    the rolling-hash analogue used for fast identity checks."""
    return F.md5(F.lower(F.trim(text)))


def char_shingles(text: Column) -> Column:
    """Distinct character 3-gram shingle set (input to Jaccard / MinHash).

    Guarded for short strings: Spark's sequence(1, 0) would generate a
    DESCENDING range, so texts shorter than 3 yield an empty set.
    """
    idx = F.sequence(F.lit(1), F.length(text) - 2)
    return F.when(
        F.length(text) >= 3,
        F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, 3))),
    ).otherwise(F.array().cast("array<string>"))


def analyze(df: DataFrame) -> DataFrame:
    """Attach the full text-analysis column set to a document frame."""
    t = F.col("text")
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality_score"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def word_grams(tokens_col: Column, n: int = 4) -> Column:
    """Distinct word ``n``-grams as strings over a MATERIALIZED token
    array (same lambda-CSE rule as dedup.word_ngram_hashes: pass a plain
    column ref, never an inline expression). Short documents yield one
    clipped gram — both Spark `slice` and ANSI list slicing clip past
    the array end, so the oracle agrees on the edge."""
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(tokens_col) - (n - 1), F.lit(1))
            ),
            lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)),
        )
    )


def contamination_check(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 4,
) -> DataFrame:
    """Benchmark-contamination audit: for each eval document, the
    fraction of its distinct word ``n``-grams that also occur anywhere
    in the training corpus (Brown et al., GPT-3 appx. C style n-gram
    overlap). Returns (id, n_grams, n_hit, contamination).

    Scale shape: both sides reduce to (gram, id) pairs before the join —
    the join key is the gram, so the shuffle moves ~tokens-per-doc small
    rows and the training side is first collapsed to DISTINCT grams (the
    heavy-hitter grams dedup map-side via partial aggregation). At
    100 TB hash grams to 8-byte xxhash64 keys first (exact strings kept
    here for DuckDB oracle parity); for repeated audits materialize the
    distinct-train-grams table once and reuse it across eval sets.
    """
    from stock_market_etl_spark.operators.parallelism import spread

    def grams_of(df: DataFrame) -> DataFrame:
        toks = spread(df.select(F.col("doc_id"), F.col("text"))).select(
            F.col("doc_id"), tokens(F.col("text")).alias("__t")
        )
        # posexplode_outer: no inferred size()>0 filter re-running the
        # gram expression (the sequence() above always yields ≥1)
        return toks.select(
            F.col("doc_id"),
            F.posexplode_outer(word_grams(F.col("__t"), n)).alias("__i", "g"),
        ).drop("__i")

    train_grams = grams_of(train_df).select("g").distinct()
    eval_grams = grams_of(eval_df)
    hit = train_grams.withColumn("__hit", F.lit(1))
    return (
        eval_grams.join(hit, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


#: lookahead-free so Spark's Java regex and DuckDB's RE2 agree
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 -]{7,}[0-9]"


def pii_redact(text_col: Column) -> Column:
    """C4-style PII scrub: emails then phone-shaped digit runs replaced
    with typed placeholder tokens. Pure JVM regex — a scan-side
    projection with no shuffle, which is what lets it run inline in a
    100 TB ingest pass rather than as its own job."""
    return F.regexp_replace(
        F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )


def pii_count(text_col: Column) -> Column:
    """Redaction audit count — exactly the number of placeholders
    `pii_redact` inserts. Phones are counted on the email-redacted
    text, not the original: a digit run INSIDE an email address (e.g.
    ``123456789@example.com``) matches both patterns but produces one
    placeholder, so counting both on the raw text would overstate."""
    after_email = F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>")
    return F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0)) + F.size(
        F.regexp_extract_all(after_email, F.lit(PHONE_RE), 0)
    )


def repetition_ratio(tokens_col: Column) -> Column:
    """Gopher-style repetition signal: 1 − distinct/total tokens.
    ``tokens_col`` must be a materialized token array (lambda-CSE
    rule). High values flag boilerplate/spam for quality filtering."""
    return 1.0 - F.size(F.array_distinct(tokens_col)) / F.size(tokens_col)


def tfidf_topk(docs, k: int = 3):
    """Top-``k`` TF-IDF terms per document.

    tf = term count / doc token count; idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style); ties broken by term string so the
    result is deterministic and oracle-hashable.

    Scale shape: one explode → groupBy(doc, term) with map-side
    combine; the df/idf table is VOCABULARY-sized (grows with the
    corpus — a web-scale vocab is billions of terms), so its join back
    onto the term stream carries no broadcast hint: AQE broadcasts it
    when it measures small and falls back to a shuffle join on `term`
    when it doesn't — a forced hint here is a driver OOM at 100 TB.
    df deliberately stays an AGGREGATE + join rather than a
    count-over-term window: the aggregate collapses a hot term
    map-side and AQE can split a skewed join partition, while a
    window would pin every (doc, hot-term) row into one task —
    a Zipfian-vocabulary skew trap. Per-doc totals and the final
    top-k, by contrast, ARE windows — both partition by ``doc_id``,
    so doc_len, the tf·idf projection, and the rank sort all ride ONE
    exchange (doc grain is bounded by doc size — no skew exposure).
    No driver-side state — N (corpus size) rides a 1-row broadcast
    crossJoin (genuinely scalar, so the hint stays).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    )
    term_counts = toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf_count")
    )
    df_counts = term_counts.groupBy("term").agg(
        F.count("*").alias("df")
    )
    n_docs = docs.select(
        F.count("*").cast("double").alias("n_docs")
    )
    w_doc = Window.partitionBy("doc_id")
    scored = (
        term_counts.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("doc_len", F.sum("tf_count").over(w_doc))
        .withColumn(
            "tfidf",
            (F.col("tf_count") / F.col("doc_len"))
            * (
                F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


# BM25 term-frequency saturation and length normalisation (the
# Robertson/Zaragoza defaults), shared by both BM25 scorers
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk(docs, query_terms: list[str], k: int = 10):
    """Top-``k`` documents for a bag-of-words query under BM25
    (Robertson/Okapi; the Lucene-style smoothed idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` so scores stay positive).

    Scale shape: the query-term filter lands directly on the exploded
    token stream (tiny IN-list → pushed predicate), so only matching
    tokens are aggregated; per-doc lengths come from one full-corpus
    count whose join arrives co-partitioned on the doc key; df counts
    and avgdl are dimension-/scalar-sized broadcasts; the final top-k
    is a TakeOrderedAndProject, never a global sort.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    )
    doc_len = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = doc_len.agg(F.avg("dl").alias("avgdl"))
    n_docs = docs.select(F.count("*").cast("double").alias("n_docs"))

    q = toks.filter(F.col("term").isin(query_terms))
    tf = q.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tf.join(doc_len, "doc_id")
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(avgdl))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (_BM25_K1 + 1))
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(k)
    )


def bm25_hard_negatives(
    docs,
    queries: dict[str, list[str]],
    positives: DataFrame,
    k: int = 5,
    n_chunks: int = 64,
) -> DataFrame:
    """Hard-negative mining for retrieval training (the DPR recipe,
    Karpukhin et al. 2020): for EVERY query in a batch, the top-``k``
    BM25-scoring documents that are NOT known positives — the
    near-miss examples contrastive training needs. Returns
    ``(query_id, doc_id, bm25, rank)`` with rank 1..k per query.

    Scale shape — three moves beyond `bm25_topk`:

    - **One token pass for M queries.** The exploded token stream is
      filtered ONCE by the union of all query terms (tiny IN-list),
      aggregated to (doc, term) tf — document frequency is
      query-independent, so df comes off that grain before the
      broadcast (term → query_id) map fans matches out to query
      grain. M queries cost one corpus pass, not M.
    - **No doc-length join.** Per-doc length is ``size(tokens)``
      computed scan-side and carried THROUGH the tf aggregate
      (``first(dl)`` rides the existing (doc, term) exchange), and
      avgdl + N fold into ONE scalar-row aggregate off a narrow
      no-shuffle scan — where `bm25_topk` pays a corpus-wide explode
      + groupBy + doc-grain join for dl, this form pays zero extra
      exchanges for the corpus stats.
    - **Two-phase per-query top-k.** A row_number window partitioned
      by query_id alone would funnel every scored doc of a query
      through ONE task (the x44 global-window hazard). Phase 1 ranks
      within (query_id, doc_id % n_chunks) — parallel, bounded
      output of k rows per chunk; phase 2 ranks the ≤ k·n_chunks
      survivors per query. Identical result (a global top-k is a
      top-k of per-chunk top-ks), never a single hot task — and the
      engine's WindowGroupLimit partial pass composes underneath,
      bounding even the phase-1 exchange to k rows per input
      partition.

    Positives drop via left_anti on (query_id, doc_id); ranking ties
    break on the 6-decimal rounded score then doc_id, so the result
    is deterministic and oracle-stable cross-engine."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    term_map = spark.createDataFrame(
        [
            (qid, t)
            for qid, terms in sorted(queries.items())
            for t in sorted(set(terms))
        ],
        "query_id string, term string",
    )
    all_terms = sorted({t for terms in queries.values() for t in terms})

    # avg over non-null text only: with ANSI off, size(split(NULL))
    # is -1, which would poison avgdl — the explode-based twin (and
    # the SQL oracle's unnest) simply emit no rows for a NULL doc, so
    # the null-guard keeps the two conventions identical. n_docs
    # counts EVERY doc (the oracle's count(*)), null text included.
    stats = docs.agg(
        F.avg(
            F.when(
                F.col("text").isNotNull(),
                F.size(tokens(F.col("text"))),
            )
        ).alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"),
    )

    toks = docs.select(
        F.col("doc_id"),
        F.size(tokens(F.col("text"))).alias("dl"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    # tf feeds BOTH df_counts and the scored stream — without the
    # persist Spark re-executes the whole corpus explode per consumer
    # (the x77 diamond). tf itself is small: one row per (matching
    # doc, query term).
    tf = (
        toks.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .persist()
    )
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(term_map), "term")
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (_BM25_K1 + 1))
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    negs = scored.join(positives, ["query_id", "doc_id"], "left_anti")

    order = (F.col("bm25").desc(), F.col("doc_id"))
    w_chunk = Window.partitionBy(
        "query_id", (F.col("doc_id") % n_chunks)
    ).orderBy(*order)
    w_query = Window.partitionBy("query_id").orderBy(*order)
    return (
        negs.withColumn("__cr", F.row_number().over(w_chunk))
        .filter(F.col("__cr") <= k)
        .withColumn("rank", F.row_number().over(w_query))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def chunk_documents(docs, chunk_tokens: int = 64, overlap: int = 16):
    """Sliding-window document chunking: split each document into
    ``chunk_tokens``-token chunks with ``overlap`` tokens of context
    carried between consecutive chunks (stride = chunk_tokens −
    overlap) — the RAG / pretraining context-window op.

    Pure JVM higher-order functions: tokenize once, generate chunk
    start indices with ``sequence`` (step = stride), slice per index,
    explode. One narrow pass over the corpus — no shuffle at all; the
    fan-out multiplies rows ~len/stride inside the scan stage. A
    final short chunk is kept iff it contains tokens NOT covered by
    the previous chunk (starts stop at n − overlap, so a document
    ending exactly on a chunk boundary emits no redundant
    strict-subset tail); both engines' ``slice``/list slicing clip
    past the end identically (same edge rule as word_grams).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__t")
    )
    n = F.size("__t")
    # start indices 1, 1+stride, ... while start <= n - overlap: the
    # last start's chunk always reaches the end (next start > n −
    # overlap ⇒ this chunk covers past n), and no start begins inside
    # the final `overlap` tokens, whose chunk would be a strict subset
    # of its predecessor (duplicated training/RAG text)
    starts = F.sequence(
        F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = toks.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                starts, lambda s: F.slice(F.col("__t"), s, chunk_tokens)
            )
        ).alias("chunk_idx", "__chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        F.size("__chunk").cast("long").alias("n_tokens"),
    )


def bigram_lm_score(docs):
    """Corpus-statistics language-model scoring: each document's mean
    log-probability under an add-one-smoothed bigram model trained on
    the corpus itself — the self-supervised stand-in for
    perplexity-based quality filtering (no external LM in this
    container; a real deployment swaps the count tables for KenLM
    scores with identical Spark plumbing).

    score(d) = avg over bigrams (w1 w2) of ln((C(w1w2)+1) / (C(w1)+V))

    Scale shape: bigram arrays are built per row with higher-order
    functions (no shuffle), corpus bigram counts aggregate with
    map-side combine and join back KEYED ON THE BIGRAM (the one honest
    big shuffle — the model table is corpus-sized). The unigram count
    table is VOCABULARY-sized (grows with the corpus), so its join
    carries no broadcast hint — AQE broadcasts when measured-small,
    shuffle-joins on the word otherwise; only the 1-row vocabulary
    size V keeps a hard broadcast. Documents with < 2 tokens are
    excluded (no bigrams to score).
    """
    toks = docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__t")
    )
    bigrams_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("__t", i), F.element_at("__t", i + 1)
        ),
    )
    doc_bigrams = toks.filter(F.size("__t") >= 2).select(
        F.col("doc_id"), F.explode(bigrams_arr).alias("bg")
    )
    bigram_counts = doc_bigrams.groupBy("bg").agg(
        F.count("*").alias("c_bg")
    )
    unigrams = toks.select(F.explode("__t").alias("w"))
    unigram_counts = unigrams.groupBy("w").agg(F.count("*").alias("c_w"))
    vocab = unigrams.agg(
        F.count_distinct("w").cast("double").alias("v")
    )
    scored = (
        doc_bigrams.join(bigram_counts, "bg")
        .withColumn("__w1", F.split(F.col("bg"), " ").getItem(0))
        .join(unigram_counts.withColumnRenamed("w", "__w1"), "__w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            F.log((F.col("c_bg") + 1) / (F.col("c_w") + F.col("v"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("__lp"), 6).alias("avg_logprob"),
    )


def paragraph_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    para_tokens: int = 20,
) -> DataFrame:
    """Block-grain decontamination audit: for each eval document, the
    fraction of its non-overlapping ``para_tokens``-token blocks (the
    x49 block rule) that occur VERBATIM anywhere in the training
    corpus. The paragraph-grain complement of ``contamination_check``:
    overlapping n-grams catch partial-span leakage but cost n rows per
    token; non-overlapping blocks cost 1/para_tokens rows per token —
    linear in corpus size — and catch the wholesale paragraph copies
    that dominate real benchmark leakage. Returns
    (id, n_blocks, n_hit, contamination).

    Scale shape mirrors paragraph_dedup: blocks reduce to 32-byte
    binary sha2 digests inside the scan stage, the train side collapses to DISTINCT hashes
    with map-side partial aggregation, and the audit join shuffles
    (hash, id) pairs only — text never enters an exchange.
    """
    from stock_market_etl_spark.operators.parallelism import spread

    def block_hashes(df: DataFrame) -> DataFrame:
        toks = spread(df.select(F.col("doc_id"), F.col("text"))).select(
            F.col("doc_id"), tokens(F.col("text")).alias("__t")
        )
        n = F.size("__t")
        starts = F.sequence(
            F.lit(1), F.greatest(n, F.lit(1)), F.lit(para_tokens)
        )
        return toks.select(
            F.col("doc_id"),
            F.explode(
                F.transform(
                    starts, lambda s: F.slice(F.col("__t"), s, para_tokens)
                )
            ).alias("__b"),
        ).select(
            "doc_id",
            F.unhex(F.sha2(F.concat_ws(" ", F.col("__b")), 256)).alias("__h"),
        )

    train_h = (
        block_hashes(train_df).select("__h").distinct().withColumn(
            "__hit", F.lit(1)
        )
    )
    evb = block_hashes(eval_df)
    return (
        evb.join(train_h, "__h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_blocks"), 6).alias(
                "contamination"
            ),
        )
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.1, the n-gram
    half; x51 covers the word-grain half): per document, the fraction
    of characters covered by the most common 2-gram and 3-gram and by
    ALL duplicate 5-grams, plus the composed keep decision
    (top2 ≤ 0.20, top3 ≤ 0.18, dup5 ≤ 0.15 — the paper's thresholds
    for those rows). Character base is the whitespace-normalized text
    (tokens re-joined by single spaces); an n-gram occurrence covers
    ``count * len(gram)`` characters (the paper's naive coverage —
    overlaps double-count). Documents too short for any gram score
    0.0 on every metric (nothing repeats).

    Scale shape: gram counting is the LINEAR form — explode to
    (doc, n, gram) and hash-aggregate with map-side partials (the key
    embeds doc_id, so corpus-frequent grams cannot skew a reducer),
    then two doc-keyed rollups; no corpus-wide join. Gram TEXT never
    enters the exchange: each gram reduces to (xxhash64, char length)
    inside the scan stage (x49's move — measured 10× on the sf0.1
    corpus, string keys cost ~270 MB of shuffle vs ~8 bytes/row
    hashed; a same-doc 64-bit collision would merge two counts,
    P ≈ n²/2⁶⁵ per doc — negligible exactly as x49's sha2 argument).
    The top-gram choice maxes (count, count*len) structs; no string
    tiebreak is needed because any (count, count*len) tie yields the
    SAME coverage, which is all the metric reads — the oracle's
    row_number over the gram text picks some gram, but its topcov is
    identical. The row-local array-functions alternative (filter/size
    per gram) is O(tokens²) per document and loses at book-length
    docs, so it is deliberately not used.
    """
    # Materialize the token array in its OWN projection below the
    # explode. Generate (explode) nodes get no subexpression
    # elimination, so referencing tokens() directly in the generator
    # expression re-runs the regex split per slice bound and per
    # length guard — ~18 evaluations/row, measured 14.4 s vs 1.3 s at
    # sf0.1. Generate never collapses into its child Project, so the
    # split stays single-evaluation.
    t = F.col("__t")
    sz = F.size(t)

    def grams(n: int) -> Column:
        # sliding n-gram via arrays_zip of n shifted slices — n array
        # slices per DOCUMENT (not per position; the per-position
        # slice+concat form ran interpreted at ~5x this cost,
        # measured at sf0.1). Each gram reduces to (hash of its n
        # token fields, joined char length) right here in the scan
        # stage; no gram string is ever materialized.
        m = sz - (n - 1)
        z = F.arrays_zip(*[F.slice(t, i + 1, m) for i in range(n)])

        def h(s: Column) -> Column:
            # NB: one-parameter lambda — F.transform treats a
            # two-parameter lambda as the (element, index) form
            fields = [s[str(i)] for i in range(n)]
            gl = sum(
                (F.length(f) for f in fields), F.lit(0)
            ) + F.lit(n - 1)
            return F.struct(
                F.lit(n).alias("n"),
                F.xxhash64(*fields).alias("gh"),
                gl.alias("gl"),
            )

        empty = F.array().cast(
            "array<struct<n:int,gh:bigint,gl:int>>"
        )
        return F.when(sz >= n, F.transform(z, h)).otherwise(empty)

    # __base (normalized char count) is computed HERE too: one level
    # up it lands in the Project above the Generate and concat_ws
    # rebuilds the full document string once per GRAM row (~5 s at
    # sf0.1); here it is once per document, and codegen subexpression
    # elimination shares the split between __t and __base.
    toks = tokens(F.col("text"))
    # Partition by DOCUMENT before the gram explode: every aggregation
    # below is doc-keyed, and HashPartitioning(doc_id) satisfies the
    # clustering requirement of groupBy(doc_id, ...), so Catalyst
    # plans ZERO exchanges after this one — the corpus-wide shuffle is
    # the tokenized text itself (~1× corpus bytes) instead of the
    # exploded gram stream (3 gram sizes ≈ 19× corpus bytes; measured
    # 92.8 MB -> 5.9 MB at sf0.1). The trade is per-doc locality: a
    # document's grams aggregate on one task, so per-task work is
    # bounded by the largest document — fine for web/doc corpora with
    # bounded doc sizes, and far cheaper than shuffling the gram
    # stream at 20× corpus volume.
    #
    # The width is PINNED (REPARTITION_BY_NUM, r16): the stage below
    # this exchange does ~19× its input bytes of gram fan-out work, so
    # AQE's byte-based coalescing starves it — at sf0.1 the 2 MB doc
    # exchange coalesced to 2 of 32 cores, serializing 3.2 s of x57's
    # 4.7 s executor time (r15 stage attribution). The r15 session-wide
    # 64k coalescing floor fixed this but regressed 52/65 other bench
    # rows; the pin scopes full parallelism to exactly this exchange
    # (fanout_width is the session's core-sized shuffle width). Skew note:
    # per-key work is one document's grams, bounded by doc length.
    tokenized = docs.select(
        F.col("doc_id"),
        toks.alias("__t"),
        F.length(F.concat_ws(" ", toks)).cast("double").alias("__base"),
    ).repartition(fanout_width(docs), F.col("doc_id"))
    tagged = tokenized.select(
        F.col("doc_id"),
        F.col("__base"),
        F.explode(
            F.concat(*[grams(n) for n in (2, 3, 5)])
        ).alias("__ng"),
    ).select(
        "doc_id",
        "__base",
        F.col("__ng.n").alias("n"),
        F.col("__ng.gh").alias("gh"),
        F.col("__ng.gl").alias("gl"),
    )
    gc = tagged.groupBy("doc_id", "n", "gh").agg(
        F.count("*").alias("c"),
        F.first("gl").alias("gl"),
        F.first("__base").alias("__base"),
    )
    cgl = (F.col("c") * F.col("gl")).cast("double")
    pern = gc.groupBy("doc_id", "n").agg(
        F.max(F.struct(F.col("c"), cgl.alias("cgl")))["cgl"].alias(
            "topcov"
        ),
        F.sum(F.when(F.col("c") > 1, cgl).otherwise(F.lit(0.0))).alias(
            "dupcov"
        ),
        F.first("__base").alias("__base"),
    )
    per_doc = pern.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("topcov") / F.col("__base"))).alias("__t2"),
        F.max(F.when(F.col("n") == 3, F.col("topcov") / F.col("__base"))).alias("__t3"),
        F.max(F.when(F.col("n") == 5, F.col("dupcov") / F.col("__base"))).alias("__d5"),
    )
    out = docs.select(F.col("doc_id")).join(per_doc, "doc_id", "left")
    t2 = F.round(F.coalesce("__t2", F.lit(0.0)), 6)
    t3 = F.round(F.coalesce("__t3", F.lit(0.0)), 6)
    d5 = F.round(F.coalesce("__d5", F.lit(0.0)), 6)
    return out.select(
        "doc_id",
        t2.alias("top2_frac"),
        t3.alias("top3_frac"),
        d5.alias("dup5_frac"),
        ((t2 <= 0.20) & (t3 <= 0.18) & (d5 <= 0.15)).alias("keep"),
    )


def perplexity_buckets(docs: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document under the corpus LM
    (`bigram_lm_score` stands in for KenLM — identical plumbing), then
    split each LANGUAGE into ``n_buckets`` equal-frequency tiers by
    score: bucket 1 = "head" (most fluent), last = "tail". CCNet keeps
    head+middle as the pretraining pool; the per-language partition is
    the paper's key move — absolute perplexity is not comparable
    across languages.

    Ordering is (rounded score DESC, id ASC) — total and
    engine-stable, so ntile is deterministic and SQL-replayable. The
    ranking window partitions by language (dozens of partitions, each
    corpus-scale): one exchange on the language key after the
    doc-grain score aggregation.
    """
    from pyspark.sql import Window

    scored = bigram_lm_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    tier = F.ntile(n_buckets).over(w)
    return scored.select(
        F.col("doc_id"),
        F.col("lang"),
        "avg_logprob",
        tier.cast("long").alias("tier"),
        F.when(tier == 1, "head")
        .when(tier == n_buckets, "tail")
        .otherwise("middle")
        .alias("bucket"),
    )


def deletion_neighborhood_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_edits: int = 2,
    max_ids_per_variant: int = 500,
    max_candidate_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Approximate-string JOIN (record linkage / entity resolution) by
    SymSpell-style deletion neighborhoods: every string generates its
    variants with ≤ ``max_edits`` characters deleted; two strings
    within Levenshtein distance ``max_edits`` are GUARANTEED to share
    a variant (delete the differing positions from both — the
    SymSpell completeness argument), so candidate generation is a
    variant-equality join, never an all-pairs scan, and the exact
    ``levenshtein`` filter settles each candidate. Variants occurring
    in more than ``max_ids_per_variant`` ids are banned first (stop
    variants — a common substring family would otherwise pair
    everything through one bucket; winnow's stop-fingerprint rule).
    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``.

    Deterministic end-to-end, so it carries a full DuckDB hash oracle
    (catalog x69 — DuckDB's ``levenshtein`` is the same standard edit
    distance). ``id_col`` must be unique (an entity catalog's key —
    the same contract as upsert_snapshot keys); pre-dedup otherwise.
    Scale shape: variant generation is scan-local array expressions
    (O(len²/2) short strings per row, leaving the scan as 16-byte
    md5 digests — x49's binary economy, oracle-mirrored); the
    (digest, id) stream is
    exchanged exactly ONCE — a variant-grain ``collect_list`` whose
    per-bucket buffers the two-pass ban bounds at
    ``max_ids_per_variant`` ids and whose i<j combinations unfold
    scan-locally — then only id pairs move (names re-attach by id for
    the verify step; entity catalogs are dimension-sized by nature,
    never the corpus); the ban set is a broadcastable variant-grain
    aggregate. Only ``max_edits`` ∈ {1, 2} is supported (the useful
    range — beyond 2 the neighborhood explodes and blocking should
    move to LSH).

    DENSITY GUARD (``max_candidate_pairs``): on a key space where many
    ids share variants (e.g. templated serial names differing only in
    digits), the candidate stream grows as Σ n_v·(n_v−1)/2 over the
    unbanned variant buckets — inherent to the data, not the blocking
    (the TRUE pair set is itself near-quadratic there). That sum is an
    exact upper bound on candidate rows, computed as ONE eager
    variant-histogram job at construction time (one scalar row back)
    and checked BEFORE any pair materializes. The ban set itself is
    never collected: it stays a lazy HAVING-shrunk aggregate that AQE
    broadcasts onto the anti-join, so the guard is driver-safe at ANY
    density; nothing is persisted, so no cache can leak (r09 ADVICE),
    and the variant stream is generated exactly twice total (guard +
    main plan, both scan-local). Check:
    exceeding the budget raises with the
    measured density and the three remedies (lower
    ``max_ids_per_variant``, raise the budget deliberately, or move to
    LSH blocking — x10's banded MinHash — which trades exactness for a
    bounded pair stream). At 100× a dense key space this turns a melted
    shuffle into a one-line diagnosis. ``None`` disables the check (and
    skips its scan entirely). The guard never alters results — when it
    passes, output is identical, so the DuckDB oracle stays exact."""
    if max_edits not in (1, 2):
        raise ValueError("max_edits must be 1 or 2")
    s = F.col("__name")
    n = F.length(s)
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name")
    )
    del1 = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1), s.substr(i + 1, n)
        ),
    )
    variants = F.concat(F.array(s), del1)
    if max_edits == 2:
        # guard i = n: Spark's sequence(start, stop) DESCENDS when
        # start > stop (it would fabricate j < i variants) — emit an
        # empty list instead (DuckDB's range is empty there natively)
        del2 = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.when(
                    i < n,
                    F.transform(
                        F.sequence(i + 1, n),
                        lambda j: F.concat(
                            s.substr(F.lit(1), i - 1),
                            s.substr(i + 1, j - i - 1),
                            s.substr(j + 1, n),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        )
        variants = F.concat(variants, del2)
    # ids only through the bucket aggregation and pair dedup (the x63
    # rule — names re-attach by id for the verify step). Candidate
    # generation exchanges the (digest, id) stream exactly ONCE:
    # a variant-grain collect_list (bounded ≤ max_ids_per_variant per
    # bucket by the two-pass ban below, so no aggregation buffer can
    # blow up on a hot variant) whose i<j combinations are generated
    # SCAN-LOCALLY by array expressions — the former shape (distinct →
    # anti-join → bucket self-join) moved the same stream through
    # three exchanges (r09 rework: 56.9 → 24.1 MB at sf0.1 on the
    # sparse fixture; results identical, ``id_col`` must be unique —
    # an entity catalog's key, same contract as upsert_snapshot keys).
    # Variants leave the scan as 16-byte md5 DIGESTS, never strings
    # (x49's binary-digest economy): the whole candidate machinery —
    # histogram, ban set, collect_list buckets — keys on digest
    # equality, cutting the one full-stream exchange roughly in half
    # for realistic name lengths. Correctness is untouched in the
    # only way that matters for the oracle: DuckDB computes the SAME
    # md5, so both engines see identical (hypothetical, 2^-128-grade)
    # collisions and outputs stay bit-equal by construction; a
    # collision could only ADD a candidate pair, which the exact
    # levenshtein verify rejects — the SymSpell completeness argument
    # survives with p≈2^-128 slack.
    e = base.select(
        "__id",
        F.explode(
            F.transform(
                F.array_distinct(variants),
                lambda v: F.unhex(F.md5(v)),
            )
        ).alias("__v"),
    )
    hist = e.groupBy("__v").agg(F.count("*").alias("__n"))
    # The ban set stays a LAZY aggregate in the main plan: its HAVING
    # makes it stop-variant-sized, so AQE broadcasts the anti-join
    # side, and nothing about the ban ever materializes on the driver
    # — structurally safe at ANY density. (r11: the collected-
    # broadcast form measured wall-clock-identical and carried an
    # unbounded collect_list row as its "fallback"; the persist +
    # two-action r10 form before it cost ~25% extra. This is the
    # simple shape that survives pathology.)
    banned = hist.filter(F.col("__n") > max_ids_per_variant).select("__v")
    if max_candidate_pairs is not None:
        # The guard is ONE variant-grain histogram pass (bounded by
        # the variant space, never the corpus), collected EAGERLY at
        # construction time — building the DataFrame runs this one
        # Spark job, the price of refusing BEFORE any pair
        # materializes. One scalar row comes back; the ban set is NOT
        # collected.
        row = hist.agg(
            F.sum(
                F.when(
                    F.col("__n") <= max_ids_per_variant,
                    F.col("__n") * (F.col("__n") - 1) / 2,
                )
            ).alias("__ub")
        ).collect()[0]
        upper_bound = int(row["__ub"] or 0)
        if upper_bound > max_candidate_pairs:
            raise ValueError(
                f"deletion-neighborhood blocking on {name_col} "
                f"would generate up to {upper_bound:,} candidate "
                f"pairs (budget {max_candidate_pairs:,}) — the "
                "key space is too dense for exact SymSpell "
                "blocking at this setting. Lower "
                "max_ids_per_variant, raise max_candidate_pairs "
                "deliberately, or switch to LSH blocking "
                "(minhash_lsh_pairs) for a bounded stream."
            )
    # pass 2: bounded per-bucket id lists (ban applied BEFORE the
    # list aggregation — a stop variant never builds a giant buffer),
    # then i<j pairs unfold scan-locally from each sorted list
    buckets = (
        e.join(banned, "__v", "left_anti")
        .groupBy("__v")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    ids = F.col("__ids")
    n = F.size(ids)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(ids, i).alias("id_a"),
                    F.element_at(ids, j).alias("id_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        # a contract-violating duplicate id would sort adjacent and
        # pair with itself via the positional i<j unfold — keep the
        # old strict filter so that stays harmless, not (x, x, 0)
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    na = base.select(
        F.col("__id").alias("id_a"), F.col("__name").alias("__na")
    )
    nb = base.select(
        F.col("__id").alias("id_b"), F.col("__name").alias("__nb")
    )
    dist = F.levenshtein("__na", "__nb")
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .filter(dist <= max_edits)
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
    )


def source_reputation(df: DataFrame) -> DataFrame:
    """SOURCE-GRAIN curation gate (RefinedWeb/Dolma-style domain
    filtering at the fixture's source grain): per source, document
    volume, mean quality (the UNROUNDED per-doc `quality_score`
    averaged — the x45 rule — then rounded for output), and exact-dup
    rate (1 − distinct content hashes / docs, the within-source
    redundancy signal URL-level dedup pipelines gate on). ``keep`` is
    the reputation verdict a corpus build broadcasts against its doc
    stream: the source ranks in the TOP HALF by mean quality (rank
    over the ROUNDED mean with the source name as tiebreaker — the
    x62 round-before-ranking rule, so the verdict is
    oracle-replayable) AND its dup rate is ≤ 0.5.

    Deterministic → full DuckDB hash oracle (catalog x73).

    Scale shape: one corpus scan folds to a source-grain aggregate
    (map-side combined count / sum / distinct-hash); the ranking
    window runs over the SOURCE table — dimension-sized by nature
    (domains, feeds), never the corpus — so its single-partition sort
    is bounded; the doc-grain gate application is then a broadcast
    semi-join, text never shuffles."""
    t = F.col("text")
    per = df.select(
        "source",
        F.md5(t).alias("__h"),
        quality_score(t).alias("__q"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
        F.round(
            F.lit(1.0) - F.countDistinct("__h") / F.count("*"), 6
        ).alias("dup_rate"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("mean_quality").desc(), F.col("source"))
    ranked = agg.select(
        "*",
        F.row_number().over(w).alias("__rk"),
        F.count("*").over(Window.partitionBy()).alias("__n"),
    )
    keep = (
        F.col("__rk") <= F.ceil(F.col("__n") / F.lit(2.0))
    ) & (F.col("dup_rate") <= 0.5)
    return ranked.select(
        "source", "n_docs", "mean_quality", "dup_rate", keep.alias("keep")
    )


def fim_transform(docs, rate_pct: int = 90) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    arXiv:2207.14255): for ``rate_pct``% of documents, reorder to
    PSM — ``<PRE> prefix <SUF> suffix <MID> middle`` — so the model
    learns infilling from an autoregressive objective; the rest pass
    through (whitespace-normalized: every output is rebuilt from the
    token array, so FIM'd and passthrough docs tokenize alike).

    Determinism over randomness, the x22/x27 move taken further: the
    apply decision and the two cut points derive from INTEGER
    arithmetic on the doc id — ``pmod`` FIRST, so the multiplicand is
    bounded below the prime and the product can never overflow INT64
    (review r12: ``doc_id · 2654435761`` wraps silently in Spark and
    throws in DuckDB past ~3.5e9 ids — well inside real corpus id
    spaces), and non-negative, so negative ids can't flip the rate
    gate or hit the engines' diverging negative floor/slice rules.
    The cut quotient ``hash·(n+1) // prime`` is computed as
    ``(x − pmod(x, p)) / p``: the numerator is an exact multiple of
    p, so the double division is EXACT (not a rounding accident)
    whenever ``x < 2^53`` — guaranteed here since hash < 1e6 and
    token counts are bounded by document bytes. The transform is
    therefore exactly replayable in ANSI SQL and stable across
    engines, re-runs, and partitionings. Cuts land on token
    boundaries; empty segments vanish naturally (sentinel + segment
    arrays concatenate before one join — no separator artifacts).

    Scale shape: zero exchanges — tokenize, hash, slice, and rejoin
    are all array expressions inside the scan stage (the x36 chunking
    economy); at 100 TB this is a map-only pass."""
    t = tokens(F.col("text"))
    n = F.size(t)
    doc = F.col("doc_id")
    apply_f = F.pmod(F.pmod(doc, 100) * 48271, 100) < rate_pct

    def cut(mult, add, prime):
        h = F.pmod(F.pmod(doc, prime) * mult + add, prime)
        x = h * (n + 1).cast("long")
        return ((x - F.pmod(x, prime)) / prime).cast("long")

    c1 = cut(2654435761 % 1000003, 0, 1000003)
    c2 = cut(40503, 2654435769 % 999983, 999983)
    lo = F.least(c1, c2).cast("int")
    hi = F.greatest(c1, c2).cast("int")

    def seg(lo_incl, hi_excl):
        # 0-based positional filter — slice() rejects zero lengths
        return F.filter(
            t, lambda x, i: (i >= lo_incl) & (i < hi_excl)
        )

    fim_tokens = F.concat(
        F.array(F.lit("<PRE>")),
        seg(F.lit(0), lo),
        F.array(F.lit("<SUF>")),
        seg(hi, n),
        F.array(F.lit("<MID>")),
        seg(lo, hi),
    )
    return docs.select(
        doc,
        apply_f.alias("fim_applied"),
        F.when(apply_f, F.array_join(fim_tokens, " "))
        .otherwise(F.array_join(t, " "))
        .alias("text_out"),
    )

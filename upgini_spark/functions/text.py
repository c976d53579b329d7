"""Text-analysis operators for large-scale training-data pipelines.

Not in the reference (its text handling stops at string truncation /
similarity); these are the first-class pipeline ops the task brief
mandates: token counting, quality scoring, language-ID heuristic, document
fingerprinting. All native expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
]

BPE_ISH_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_ws(c: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: F.length(t) > 0)


def token_count_ws(c: Column) -> Column:
    return F.size(tokens_ws(c))


def token_count_bpe_ish(c: Column) -> Column:
    """Sub-word-ish token count: alpha runs + digit runs + single
    punctuation marks (a cheap BPE proxy)."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_REGEX), 0))


def punct_ratio(c: Column) -> Column:
    total = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.try_divide(punct.cast("double"), total)


def stopword_ratio(c: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    toks = F.transform(tokens_ws(c), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.try_divide(hits.cast("double"), F.size(toks))


def mean_word_length(c: Column) -> Column:
    toks = tokens_ws(c)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.try_divide(total.cast("double"), F.size(toks))


def lang_id_en_score(c: Column) -> Column:
    """English-likelihood = stopword hit ratio (n-gram/stopword heuristic)."""
    return F.coalesce(stopword_ratio(c), F.lit(0.0))


def lang_id_predict(c: Column, threshold: float = 0.05) -> Column:
    return F.when(lang_id_en_score(c) >= threshold, F.lit("en")).otherwise(F.lit("other"))


def fingerprint_md5(c: Column) -> Column:
    """Canonical-text fingerprint: lowercase, collapse whitespace, md5."""
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(norm)


def rolling_hash_fingerprint(c: Column, window: int = 4) -> Column:
    """Winnowing-style fingerprint: min md5 over ``window``-word rolling
    shingles — stable under small edits far from the minimum."""
    from upgini_spark.functions.dedup import shingle_array

    words = F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")
    shingles = shingle_array(words, window, c)
    return F.array_min(F.transform(shingles, lambda s: F.md5(s)))


def quality_filter(
    df,
    text_col: str,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_mwl: float = 2.0,
    max_mwl: float = 12.0,
    max_punct: float = 0.2,
    min_en_score: float = 0.05,
):
    """C4/Gopher-style document filter: first failing rule (in a fixed
    priority order) becomes the reject reason; ``keep`` = no rule fired.
    One narrow projection per corpus scan, all native expressions —
    the decision step a pretraining pipeline runs after text stats.

    Reasons (priority order): empty (null text — every downstream stat
    is null and both engines must agree on an EXPLICIT rule, not on CASE
    null-propagation), too_short, too_long, word_length, punctuation,
    language; 'ok' when kept.
    """
    c = F.col(text_col)
    n_tok = token_count_ws(c)
    mwl = mean_word_length(c)
    pr = F.coalesce(punct_ratio(c), F.lit(0.0))
    en = lang_id_en_score(c)
    reason = (
        F.when(c.isNull(), F.lit("empty"))
        .when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when((mwl < min_mwl) | (mwl > max_mwl), F.lit("word_length"))
        .when(pr > max_punct, F.lit("punctuation"))
        .when(en < min_en_score, F.lit("language"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason") == "ok"
    )


# --- HTML boilerplate stripping (pretraining-pipeline extraction stage) ----
# The C4/CCNet-style first pass over crawled corpora: drop script/style
# blocks and comments wholesale, strip remaining tags, decode the common
# entities, collapse whitespace. Pure native regexp chain (JVM-side,
# whole-stage codegen) — every regex is RE2-compatible (no backreferences,
# inline (?is) flags) so the DuckDB oracle replays the exact same chain.

HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"(?s)<[^>]+>"
HTML_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
# decode order matters: &amp; LAST, so '&amp;lt;' yields literal '&lt;'
HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def strip_html(c: Column) -> Column:
    """HTML → clean text: script/style blocks (content included) and
    comments first, then all tags (replaced by a space so adjacent
    words don't merge), then entity decode (AFTER tag strip, so decoded
    '<'/'>' literals survive), then whitespace collapse + trim."""
    out = F.regexp_replace(c, HTML_SCRIPT_RE, " ")
    out = F.regexp_replace(out, HTML_STYLE_RE, " ")
    out = F.regexp_replace(out, HTML_COMMENT_RE, " ")
    out = F.regexp_replace(out, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_title(c: Column) -> Column:
    """First <title> content, trimmed ('' when absent — both engines)."""
    return F.trim(F.regexp_extract(c, HTML_TITLE_RE, 1))


def html_tag_count(c: Column) -> Column:
    """Tag-shaped token count over the RAW markup (script/style/comment
    tags included) — a boilerplate-density signal for quality filters."""
    return F.regexp_count(c, F.lit(HTML_TAG_RE))


# --- PII redaction + repetition stats (pretraining-pipeline stages) --------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\+?\d[\d ()-]{7,}\d"


def redact_pii(c: Column) -> Column:
    """Scrub emails, IPv4 literals and phone-shaped digit runs with typed
    placeholder tokens — the PII-redaction pass of a pretraining
    pipeline, pure native regexp_replace chain (order matters: emails
    first so their digits never half-match the phone pattern)."""
    out = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def bm25_score(
    df,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    out_col: str = "bm25",
):
    """Okapi BM25 relevance of every document to a bag-of-words query
    (Lucene idf formulation: ``ln(1 + (N - df + 0.5) / (df + 0.5))``).

    Scale design — one corpus scan, no wide shuffle:

    - the token array is STAGED once per row, then each query term's tf is
      a native higher-order ``filter`` over it (whole-stage codegen; no
      explode, so the 1 KB/row payload never fans out);
    - corpus stats (N, avgdl, per-term document frequency) come from ONE
      map-side-combinable aggregate producing a single row that is
      broadcast back — the only exchange in the plan is that tiny agg;
    - scoring is a pure row-local expression after the broadcast.

    The idf is floored at 1e-10 grain (same trick as the unary_scalars
    oracle) so a JVM-vs-libm ULP difference in ``ln`` can never flip a
    downstream 6-dp round; every other operation is rational arithmetic on
    exactly-representable doubles, so Spark and DuckDB agree bit-for-bit.
    """
    toks = F.transform(tokens_ws(F.col(text_col)), lambda t: F.lower(t))
    tf_names = [f"__tf_{i}" for i in range(len(query_terms))]
    staged = df.withColumn("__toks", toks).withColumn(
        "__dl", F.size(F.col("__toks"))
    )
    # single-arg lambda via a per-term closure (a 2-arg lambda would get
    # (element, index) from F.filter; a default-arg bind hits the same trap)
    def _tf(term: str) -> Column:
        lit = F.lit(term)
        return F.size(F.filter(F.col("__toks"), lambda x: x == lit))

    staged = staged.withColumns(
        {name: _tf(term) for name, term in zip(tf_names, query_terms)}
    ).drop("__toks")
    stats = staged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(name) > 0).cast("long")).alias(f"__df_{i}")
            for i, name in enumerate(tf_names)
        ],
    )
    joined = staged.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i, name in enumerate(tf_names):
        tf = F.col(name).cast("double")
        dfreq = F.col(f"__df_{i}").cast("double")
        n = F.col("__n").cast("double")
        idf = F.floor(
            F.log(F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5)))
            * 1e10
        ) / 1e10
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / F.col("__avgdl")
        )
        score = score + F.when(
            tf > 0, idf * tf * F.lit(k1 + 1.0) / denom
        ).otherwise(F.lit(0.0))
    out = joined.withColumn(out_col, score)
    drop = tf_names + [f"__df_{i}" for i in range(len(query_terms))] + [
        "__n", "__avgdl",
    ]
    return out.drop(*drop).withColumnRenamed("__dl", "n_tok")


def dup_ngram_share(c: Column, n: int = 3) -> Column:
    """Gopher-style repetition signal: 1 − distinct/total word n-grams —
    0.0 for unrepetitive text, → 1 for loops; null when the doc is
    shorter than one n-gram. Native higher-order functions only."""
    from upgini_spark.functions.dedup import shingle_array

    words = tokens_ws(c)
    k = F.size(words) - (n - 1)
    grams = shingle_array(words, n, c)
    return F.when(
        k >= 1,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / k.cast("double"),
    )


# --- Bigram-LM perplexity scoring (CCNet-style quality filter) -------------


def _bigram_frames(df: DataFrame, id_col: str, text_col: str):
    """(staged, pairs): staged keeps the word array; pairs is one row per
    (id, w1, w2) bigram, built by slice+arrays_zip (O(n) array refs — an
    element_at-in-lambda build re-evaluates per element) and exploded
    with explode_outer so sub-2-word docs survive as a NULL-pair row."""
    ws = F.split(F.col(text_col), " ")
    staged = df.select(
        F.col(id_col).alias("__bid__"),
        F.arrays_zip(
            F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w1"),
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w2"),
        ).alias("__bg__"),
        ws.alias("__ws__"),
    )
    pairs = staged.select(
        "__bid__", F.explode_outer("__bg__").alias("__p__")
    ).select(
        "__bid__",
        F.col("__p__.w1").alias("__w1__"),
        F.col("__p__.w2").alias("__w2__"),
    )
    return staged, pairs


def _ln_q(c: Column) -> Column:
    """ln floored at 1e-10 grain (bm25_score trick): a JVM-vs-libm ULP
    difference can never flip a downstream 6-dp round."""
    return F.floor(F.log(c) * 1e10) / 1e10


def bigram_nll(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
    train: DataFrame | None = None,
) -> DataFrame:
    """Per-document cross-entropy under an add-alpha-smoothed word-bigram
    language model — the CCNet/KenLM-style "perplexity filter" shape.
    The LM trains on ``train`` (default: the scored corpus itself, the
    self-contained deterministic variant). Returns
    (id, n_bigrams, avg_nll) with avg_nll = mean of
    ``-ln((c(w1,w2)+a) / (c(w1·)+a·V))`` over the document's bigrams,
    V = train-corpus unigram vocabulary; a bigram unseen in training
    backs off to c=0 with the same formula (unseen prefix → ln(1/V)),
    so OOV-heavy documents score HIGH instead of being silently averaged
    over their in-vocabulary bigrams only. Lower = more in-domain.

    Scale shape: one slice+zip explode per corpus; bigram counts and
    prefix counts are map-side-combinable aggregates, prefix counts
    DERIVED from bigram counts (no second train scan); V is a 1-row
    distinct agg broadcast via crossJoin; scoring joins doc bigrams to
    the LM on (w1, w2) and to the prefix table on w1 — unhinted, AQE
    broadcasts small LMs and shuffles otherwise. Docs with <2 words
    surface with n_bigrams=0 and NULL avg_nll (never silently dropped).
    """
    train_staged, train_pairs = (
        _bigram_frames(train, id_col, text_col)
        if train is not None
        else (None, None)
    )
    staged, pairs = _bigram_frames(df, id_col, text_col)
    if train_staged is None:
        # self-train: the staged frame feeds THREE consumers (the vocab
        # agg, the LM-count branch and the scoring join) whose shapes
        # defeat ReuseExchange — materialize the split+zip once (eager
        # localCheckpoint; measured 2.35 → 1.58 s at a 50k-doc corpus,
        # outputs identical) and rebuild pairs from the materialized
        # arrays
        staged = staged.localCheckpoint(eager=True)
        pairs = staged.select(
            "__bid__", F.explode_outer("__bg__").alias("__p__")
        ).select(
            "__bid__",
            F.col("__p__.w1").alias("__w1__"),
            F.col("__p__.w2").alias("__w2__"),
        )
        train_staged, train_pairs = staged, pairs
    c12 = train_pairs.filter(F.col("__w1__").isNotNull()).groupBy(
        "__w1__", "__w2__"
    ).agg(F.count(F.lit(1)).alias("__c12__"))
    c1 = c12.groupBy("__w1__").agg(F.sum("__c12__").alias("__c1__"))
    vocab = train_staged.select(F.explode("__ws__").alias("__w__")).agg(
        F.countDistinct("__w__").cast("double").alias("__v__")
    )
    lm = (
        c12.join(c1, "__w1__")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1__", "__w2__",
            _ln_q(
                (F.col("__c12__") + F.lit(alpha))
                / (F.col("__c1__") + F.lit(alpha) * F.col("__v__"))
            ).alias("__logp__"),
        )
    )
    scored = (
        pairs.join(lm, ["__w1__", "__w2__"], "left")
        .join(c1.withColumnRenamed("__c1__", "__pc1__"), ["__w1__"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp__",
            F.when(
                F.col("__w1__").isNotNull(),
                F.coalesce(
                    "__logp__",
                    _ln_q(
                        F.lit(alpha)
                        / (
                            F.coalesce(F.col("__pc1__"), F.lit(0))
                            + F.lit(alpha) * F.col("__v__")
                        )
                    ),
                ),
            ),
        )
    )
    return scored.groupBy("__bid__").agg(
        F.count("__lp__").cast("int").alias("n_bigrams"),
        F.round(-F.avg("__lp__"), 6).alias("avg_nll"),
    ).select(F.col("__bid__").alias(id_col), "n_bigrams", "avg_nll")

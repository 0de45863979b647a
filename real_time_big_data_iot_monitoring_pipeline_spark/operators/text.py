"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure column expressions (regex + array higher-order functions) — the
hot path never leaves the JVM, so these scale linearly with corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import round_det

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
#: symbols.  Kept to constructs shared by Java regex and RE2 so the DuckDB
#: oracle can reuse the pattern verbatim.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

#: Tiny per-language stopword profiles for the n-gram/stopword language-ID
#: heuristic.  Deliberately minimal — the operator's value is the shape
#: (per-language scoring + argmax), not lexicon quality.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
}


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token statistics: whitespace tokens, regex (BPE-ish)
    tokens, character count, average token length."""
    t = F.col(text_col)
    ws_tokens = F.split(t, " ")
    re_tokens = F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0)
    return df.select(
        id_col,
        F.size(ws_tokens).alias("n_ws_tokens"),
        F.size(re_tokens).alias("n_re_tokens"),
        F.length(t).alias("n_chars_actual"),
        round_det(
            F.aggregate(ws_tokens, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.size(ws_tokens),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean word length — combined into a 0..1 score.  The formula is
    arbitrary but deterministic and monotone in the usual signals
    (enough length, some stopwords, not symbol soup)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(t, " ")
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9 ]"), 0))
    stop_re = "\\b(the|and|of|to|a|in|is|it)\\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(t), F.lit(stop_re), 0))
    punct_ratio = round_det(F.try_divide(n_punct, n_chars), 6)
    stop_ratio = round_det(F.try_divide(n_stop, n_words), 6)
    length_ok = F.when((n_words >= 5) & (n_chars >= 20), 1.0).otherwise(0.0)
    score = round_det(
        0.4 * length_ok
        + 0.3 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio * 10, F.lit(1.0))),
        6,
    )
    return df.select(
        id_col,
        n_words.alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: score = marker-word hits per language,
    prediction = argmax with deterministic tie-break on language code."""
    t = F.lower(F.col(text_col))
    scores = {
        lang: F.size(F.regexp_extract_all(t, F.lit("\\b(" + "|".join(ws) + ")\\b"), 0))
        for lang, ws in LANG_MARKERS.items()
    }
    # argmax via greatest + chained when (ties resolve in key order)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = df.select(
        id_col,
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("lang_pred"),
    )
    return out


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-sensitive polynomial rolling hash over words
    (mod 1e9+7): a cheap content fingerprint for shift-tolerant matching.
    Word value = first-codepoint * 31 + length — engine-portable (no
    reliance on a specific string-hash builtin)."""
    words = F.split(F.col(text_col), " ")
    word_vals = F.transform(words, lambda w: (F.ascii(w) * 31 + F.length(w)).cast("long"))
    fp = F.aggregate(
        word_vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % F.lit(1000000007).cast("long"),
    )
    return df.select(id_col, fp.alias("fingerprint"))


def repetition_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document k-gram repetition ratio (1 - distinct/total shingles):
    the standard repetition quality gate for training corpora (highly
    repetitive documents are low-value or degenerate).

    Shingles build via posexplode + `lead` windows + hash agg — every
    expression codegen'd (measured ~5x faster at sf0.1 than an
    interpreted array-lambda construction).  The shuffle
    partitions by doc_id, so work parallelizes across documents at any
    corpus size.  Documents with fewer than k words are excluded (no
    k-grams exist)."""
    from pyspark.sql import Window

    w = df.select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"))
    win = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("word", j).over(win) for j in range(1, k)]
    sh = w.select(
        id_col,
        F.concat_ws(" ", F.col("word"), *leads).alias("sh"),
        leads[-1].alias("_tail"),
    ).filter(F.col("_tail").isNotNull())
    total = F.col("total_shingles")
    distinct = F.col("distinct_shingles")
    return (
        sh.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.countDistinct("sh").alias("distinct_shingles"),
        )
        .select(
            F.col(id_col),
            "total_shingles",
            "distinct_shingles",
            round_det(F.lit(1.0) - F.try_divide(distinct, total), 6).alias("rep_ratio"),
        )
    )


def normalize_text(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic text normalization (the canonical pre-dedup pass):
    lowercase, strip non-alphanumerics, collapse runs of spaces, trim.
    Regex constructs are shared by Java regex and RE2, so the DuckDB
    oracle runs the identical patterns.  Emits the normalized text plus
    before/after lengths and the normalized word count."""
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), "[^a-z0-9 ]", ""), " +", " ")
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.length(t).alias("len_raw"),
        F.length(norm).alias("len_norm"),
        F.size(F.split(norm, " ")).alias("n_words_norm"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
    broadcast_idf: bool = True,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    `broadcast_idf` (round-12 ADVICE): the idf build side is VOCABULARY-
    sized, not corpus-sized — natural-language vocabularies plateau in
    the tens of millions of terms (a few hundred MB as (term, df, long)
    rows), inside broadcast range but NOT unbounded; a caller whose term
    space is open-ended (URLs, k-mers) passes False to keep the shuffled
    term-keyed join reachable instead of failing on the 8 GB broadcast cap.

    tf = term count in the doc; idf = ln(N/df) + 1 (df = number of docs
    containing the term).  Three hash aggregations — (doc, term), (term),
    and the 1-row corpus count broadcast onto every term — then a
    per-doc top-k window.  No vocabulary collect: the idf join is
    term-keyed and the doc-count side is a broadcast scalar, so the
    plan is corpus-size-independent in driver memory.

    Cross-engine determinism: idf is quantized to integer micro-units
    per TERM (floor(x*1e6 + 0.5 + 1e-8) — ln differs by <=1 ulp between
    libm implementations, infinitesimal against the 1e-6 grid), and the
    ranking score tf * idf_micro is then an EXACT integer product, so
    ordering and values are bit-identical across engines.  Ties break on
    the term string.
    """
    toks = df.select(id_col, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")).filter(
        F.length("term") > 0
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    # Broadcast the VOCABULARY-sized idf table, never the corpus-sized
    # (doc, term) tf side: tf grows with the corpus, idf with the
    # vocabulary — at 100 TB the former cannot be a build side (the
    # un-hinted plan chose BuildLeft on tf).  The broadcast build
    # re-derives dfreq from its own tf subtree, but the STREAM side's
    # tf then pipelines scan -> agg -> join -> window with no term-keyed
    # exchange: measured 0.80 -> 0.59 s at sf0.1 interleaved.  (A
    # `.cache()` on tf was measured WORSE — 1.41 s — the materialization
    # barrier serializes the broadcast build against the stream side;
    # round-12 optimization.)
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        F.floor(
            (F.log(F.col("n_docs").cast("double") / F.col("df")) + F.lit(1.0)) * F.lit(1e6)
            + F.lit(0.5 + 1e-8)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    if broadcast_idf:
        idf = F.broadcast(idf)
    w = Window.partitionBy(id_col).orderBy(F.col("score_micro").desc(), F.col("term"))
    return (
        tf.join(idf, "term")
        .select(id_col, "term", "tf", "df", (F.col("tf") * F.col("idf_micro")).alias("score_micro"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def ngram_overlap_contamination(
    corpus: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark-decontamination sweep: flag corpus documents sharing >=
    `min_shared` distinct k-word shingles with any held-out document.

    The join key is the shingle hash (one long per row through the
    shuffle) and the held-out side is tiny by construction (an eval set),
    so Spark broadcasts it: the corpus streams through ONE map-side join
    — no corpus shuffle at all, which is what makes this runnable as a
    routine gate over 100 TB of training text.

    Output: (corpus doc, held-out doc, shared shingle count, the
    held-out doc's shingle count, containment fraction).
    """
    from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import round_det
    from real_time_big_data_iot_monitoring_pipeline_spark.operators.dedup import word_shingles

    c_sh = word_shingles(corpus, id_col, text_col, k).select(
        F.col(id_col).alias("corpus_id"), F.xxhash64("shingle").alias("sh")
    )
    h_sh = word_shingles(heldout, id_col, text_col, k).select(
        F.col(id_col).alias("heldout_id"), F.xxhash64("shingle").alias("sh")
    )
    h_sizes = h_sh.groupBy("heldout_id").agg(F.count(F.lit(1)).alias("heldout_sz"))
    shared = (
        c_sh.join(F.broadcast(h_sh), "sh")
        .filter(F.col("corpus_id") != F.col("heldout_id"))
        .groupBy("corpus_id", "heldout_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
    return shared.join(F.broadcast(h_sizes), "heldout_id").select(
        "corpus_id",
        "heldout_id",
        "shared_shingles",
        "heldout_sz",
        round_det(F.col("shared_shingles") / F.col("heldout_sz"), 6).alias("containment"),
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the classic cheap fluency/quality signal (a
    document of rare or garbled tokens scores low; boilerplate scores
    high).

    Two hash aggregations build the "model" (token counts + the 1-row
    total broadcast); scoring is a broadcast-joined sum over the doc's
    tokens.  Determinism: each token's log-prob ln(count/total) is
    quantized to integer micro-nats PER DISTINCT TOKEN (the tfidf
    pattern), so per-document sums are exact integer arithmetic and the
    final mean is one exact division, rounded once.
    """
    toks = df.select(id_col, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")).filter(
        F.length("term") > 0
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    lp = counts.crossJoin(F.broadcast(total)).select(
        "term",
        # floor(x + 0.5) is round-half-up for NEGATIVE values too (the
        # log-probs are all <= 0), so the same quantization rule the
        # positive-valued kernels use stays cross-engine exact here
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double")) * F.lit(1e6)
            + F.lit(0.5 + 1e-8)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        toks.join(lp, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            round_det(
                F.col("sum_lp_micro").cast("double") / F.col("n_tokens") / F.lit(1e6), 4
            ).alias("mean_logprob"),
        )
    )


def redact_terms(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Deny-list scrubbing: replace every whole-word occurrence of the
    given terms and report the per-document redaction count — the
    PII/sensitive-term removal stage of a curation pipeline (the deny
    list here stands in for email/phone/credential patterns, which the
    synthetic fixtures don't contain).  Pure map over corpus bytes: the
    word-boundary alternation compiles once per task and runs inside
    codegen; no shuffle, flat per-executor throughput at any corpus
    size.  The pattern sticks to `\\b(...)\\b` alternation — semantics
    identical across Java regex and RE2, so the DuckDB oracle replays
    it verbatim."""
    assert terms, "redact_terms: empty deny list"
    import re

    # escape metacharacters so a deny term like "a.b" matches literally;
    # re.escape's output is valid in both Java regex and RE2
    pattern = r"\b(" + "|".join(re.escape(t) for t in terms) + r")\b"
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(pattern), 0)).alias("n_redactions"),
        F.regexp_replace(t, pattern, replacement).alias("red_text"),
    )


def truncate_tokens(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Max-length truncation: keep each document's first `max_tokens`
    whitespace tokens — the context-window guard every training
    pipeline applies before packing.  Pure map (split -> slice ->
    rejoin stays inside codegen); emits the kept text plus original and
    kept token counts so downstream budgeting sees the loss."""
    toks = F.split(F.col(text_col), " ")
    kept = F.slice(toks, 1, max_tokens)
    return df.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.least(F.size(toks), F.lit(max_tokens)).cast("long").alias("kept_tokens"),
    )


#: Structured-PII patterns restricted to the Java-regex ∩ RE2 common
#: subset (explicit character classes, no lookaround, no \d shorthands
#: with dialect-divergent unicode semantics) so the DuckDB oracle can
#: replay them verbatim.
EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_PATTERN = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Structured-PII detection + masking: count and replace email
    addresses and NNN-NNN-NNNN phone numbers — the pattern-based scrub
    stage that runs before a corpus is eligible for training (the
    deny-list `redact_terms` handles known sensitive TERMS; this handles
    structured FORMATS).  Pure map over corpus bytes: both patterns
    compile once per task, no shuffle, flat per-executor throughput.
    Emits the masked text plus per-document counts so a downstream
    audit can aggregate leakage rates."""
    t = F.col(text_col)
    masked = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>"), PHONE_PATTERN, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), 0)).alias("n_phones"),
        masked.alias("scrubbed_text"),
    )


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean CONDITIONAL bigram log-probability
    ln P(w2 | w1) under the corpus's own bigram counts — the next step
    up from `unigram_logprob_score` as a fluency signal (word salad with
    plausible unigrams scores low once order matters).  Documents with
    fewer than two tokens have no bigrams and are absent from the
    output.

    Plan shape: bigram extraction is a PURE MAP (adjacent pairs from the
    pre-filtered token array — no window, no self-join); the "model" is
    two hash aggregations (bigram counts, context counts) joined on the
    context key; scoring re-joins docs' bigrams against the model keyed
    by (w1, w2) — a join, deliberately NOT a broadcast, because a bigram
    vocabulary grows ~quadratically with unigram vocabulary and exceeds
    broadcast budgets at corpus scale.  Determinism: per-distinct-bigram
    log-probs quantize to integer micro-nats (floor half-up, exact for
    the all-negative values), so per-doc sums are exact integers."""
    ws = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: F.length(t) > 0)
    d = df.select(F.col(id_col), ws.alias("ws")).filter(F.size("ws") >= 2)
    pair = lambda i: F.struct(  # noqa: E731
        F.element_at(F.col("ws"), i - 1).alias("w1"),
        F.element_at(F.col("ws"), i).alias("w2"),
    )
    bg = d.select(
        id_col, F.explode(F.transform(F.sequence(F.lit(2), F.size("ws")), pair)).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("ctx"))
    lp = counts.join(ctx, "w1").select(
        "w1",
        "w2",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("ctx").cast("double")) * F.lit(1e6)
            + F.lit(0.5 + 1e-8)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        bg.join(lp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("lp_micro").alias("sum_lp_micro"))
        .select(
            id_col,
            "n_bigrams",
            round_det(
                F.col("sum_lp_micro").cast("double") / F.col("n_bigrams") / F.lit(1e6), 4
            ).alias("mean_logprob"),
        )
    )


def gopher_rules(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style per-document quality rule flags (Rae et al. 2021's
    repetition/format heuristics family, re-parameterized for the
    fixture corpus): each rule is an independent boolean column so a
    curation pipeline can log WHICH rule killed a document, not just a
    composite score (`quality_score` keeps the composite role).  Pure
    map over corpus bytes — scan-speed at any size.

    Rules (all engine-portable expressions):
      * r_min_words      — at least 8 whitespace words
      * r_word_len       — mean word length within [3, 10]
      * r_symbol_ratio   — non-alnum-space chars <= 10% of characters
      * r_stopwords      — at least 2 DISTINCT common stopwords appear
    """
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    # sum of word lengths == chars excluding separators
    n_word_chars = F.length(F.regexp_replace(t, " ", ""))
    mean_wl = F.try_divide(n_word_chars, n_words)
    n_sym = F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9 ]"), 0))
    sym_ratio = F.try_divide(n_sym, F.length(t))
    stop_re = "\\b(the|and|of|to|a|in|is|it)\\b"
    n_stop_distinct = F.size(F.array_distinct(F.regexp_extract_all(F.lower(t), F.lit(stop_re), 0)))
    return df.select(
        id_col,
        (n_words >= 8).alias("r_min_words"),
        ((mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("r_word_len"),
        (sym_ratio <= 0.10).alias("r_symbol_ratio"),
        (n_stop_distinct >= 2).alias("r_stopwords"),
    )


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 40,
) -> DataFrame:
    """Adjacent-symbol pair frequencies — the inner statistic of one BPE
    merge round (Sennrich et al. 2016), the step a tokenizer trainer
    repeats until the vocab is full.

    Scale shape (the reason BPE training is feasible on a 100 TB corpus):
    the corpus is touched ONCE to build the distinct-word frequency
    table; pair counting then runs over that table — orders of magnitude
    smaller than the corpus — weighting each word's pairs by its count.
    Both steps are codegen'd aggs (explode + substring), no Python.  A
    full trainer iterates: apply the winning merge to the word table
    (a map over distinct words, corpus never re-read) and recount; this
    operator is that recount, the dominant cost per round.

    Returns the top-``top_k`` (pair, pair_count) rows, (count desc, pair)
    ordered so ranks are deterministic across engines.
    """
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_freq"))
    )
    # single-char words carry no pair; the filter also keeps sequence()
    # ascending (sequence(1, 0) would generate a DESCENDING range)
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, F.lit(2)),
                )
            ).alias("pair"),
            "word_freq",
        )
        .groupBy("pair")
        .agg(F.sum("word_freq").alias("pair_count"))
    )
    return pairs.orderBy(F.col("pair_count").desc(), "pair").limit(top_k)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a token vocabulary
    (one `token` column): the coverage check run after building a
    tokenizer table, deciding whether the vocab is big enough for the
    corpus mix.  The vocab is broadcast (tokenizer vocabularies are
    bounded — 32k-256k rows — by construction), so the corpus streams
    through one map-side left join and a per-doc agg; no corpus shuffle
    on the token key.

    Returns (id, n_tokens, n_oov, oov_rate).
    """
    toks = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.length("token") > 0)
    )
    hit = toks.join(
        F.broadcast(vocab.select(F.col("token"), F.lit(True).alias("in_vocab"))),
        "token",
        "left",
    )
    return hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        round_det(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )

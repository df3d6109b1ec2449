"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID, fingerprinting.

All pure column expressions (JVM-side, whole-stage-codegen) — no
Python UDFs in any hot path. Each is embarrassingly parallel: per-row
only, no shuffle at all, so they scale to 100 TB as a single map stage
fused into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..derive import DEC

# naive stopword lists per language for the heuristic language-ID
# (the classic n-gram/stopword-hit approach, cf. McNamee 2005 "Language
# identification: a solved problem"); deterministic and SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "y", "en"],
}

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is"]

_norm = lambda c: F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")  # noqa: E731


def tokens_col(text_col="text"):
    """Whitespace tokenization of normalized text."""
    return F.split(_norm(F.col(text_col)), " ")


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex word tokens
    ([a-z0-9]+ runs) + char length."""
    toks = tokens_col()
    word_toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z0-9]+"), 0)
    return docs.select(
        "doc_id",
        # cast to long: DuckDB LEN/LENGTH are BIGINT and the driver
        # compares schemas, not just values
        F.length("text").cast("long").alias("n_chars_raw"),
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(word_toks).cast("long").alias("n_word_tokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring (Gopher/C4-style rule features):
    mean word length, stopword ratio, alpha ratio, plus a combined
    score. Exact integer-ratio arithmetic (int/int division in double
    — bit-deterministic)."""
    toks = tokens_col()
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    n_chars = F.length("text")
    mean_wl = F.when(n_tok > 0, n_alpha.cast("double") / n_tok)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok)
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars)
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        (F.coalesce(stop_ratio, F.lit(0.0)) * 0.5
         + F.coalesce(alpha_ratio, F.lit(0.0)) * 0.5).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language-ID: count marker-stopword hits per language,
    predict the argmax (ties broken by language code asc), with 'und'
    (undetermined) when nothing matches."""
    toks = tokens_col()

    def _hits(words):
        # NB: a 2-arg lambda would make F.filter bind arg 2 to the
        # element index — keep the closure single-argument.
        return lambda t: t.isin(words)

    scores = [
        F.size(F.filter(toks, _hits(words))).alias(f"score_{lang}")
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select("doc_id", "lang", *scores)
    # argmax via greatest + case chain in asc lang order (deterministic ties)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in sorted(LANG_MARKERS)])
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best), lang).otherwise(pred)
    return scored.select("doc_id", "lang",
                         pred.alias("lang_pred"),
                         best.cast("long").alias("best_score"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (lowercase,
    collapsed whitespace, punctuation stripped) — the canonical-form
    content hash used for exact near-canonical dedup."""
    canon = F.regexp_replace(_norm(F.col("text")), r"[^a-z0-9 ]", "")
    return docs.select("doc_id", F.md5(canon).alias("fingerprint"),
                       F.length(canon).cast("long").alias("canon_len"))


def tfidf_top_terms(docs: DataFrame, k: int = 3,
                    max_doc_id: int = 20) -> DataFrame:
    """Per-document top-k salient terms with their TF / DF sufficient
    statistics.

    Ranking is (tf DESC, df ASC, term ASC) — integer-exact, so any
    engine produces the identical cut. A float tf·idf score would rank
    boundary pairs differently across engines' ln() implementations;
    emitting (tf, df, n_docs) instead lets a client compute any idf
    weighting while the engine-side ranking stays deterministic.
    Document frequency comes from the FULL corpus; the emitted rows
    are bounded to doc_id < max_doc_id.

    Scale shape: one explode→(doc,term) count (map-side combine), one
    (term) DF aggregate, one broadcast-able join of the bounded TF
    side, per-doc top-k via window rank (TakeOrdered per partition).
    """
    from pyspark.sql import Window as W
    from ..functions.partitioning import spread

    toks = (spread(docs, "doc_id")
            .select("doc_id", F.explode(tokens_col()).alias("term")))
    df_ = toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"))
    tf = (toks.filter(F.col("doc_id") < max_doc_id)
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    return (tf.join(df_, "term")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .crossJoin(F.broadcast(n_docs))
            .select("doc_id", "rank", "term",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "n_docs"))


# PII patterns: portable between Java regex (Spark) and RE2 (DuckDB) —
# no lookaround, no backrefs. Scrub order: email → ip → phone (the
# phone pattern is digit-greedy and would otherwise eat IP octets).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction for training corpora: emails, IPv4s, and phone-like
    digit runs replaced with typed placeholder tokens, with per-pattern
    match counts (counted on the raw text) and the md5 of the scrubbed
    text for downstream exact dedup.

    Pure map stage — regex replace/count are JVM codegen'd, zero
    shuffle, linear at any corpus size. The harness documents contain
    no PII (verified: no '@' or digits in any sf), so on harness data
    this is an identity scrub with zero counts; the redaction behavior
    itself is pytest-covered on synthetic rows."""
    scrubbed = F.col("text")
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count("text", F.lit(pat))
                       .cast("long").alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select("doc_id", *counts,
                       F.md5(scrubbed).alias("scrubbed_md5"))


# Gopher-style corpus-pruning thresholds (Rae et al. 2021 §A1.1 shape;
# values adapted to the harness corpus statistics).
GOPHER_MIN_TOKENS = 5
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_STOP_RATIO = 0.02
GOPHER_MIN_MEAN_WL = 2.0
GOPHER_MAX_MEAN_WL = 12.0
GOPHER_MAX_DUP_FRAC = 0.5


def gopher_filter(docs: DataFrame) -> DataFrame:
    """Composite Gopher-style quality filter: token-count bounds,
    stopword-ratio floor, mean-word-length band, duplicate-bigram
    ceiling — each as its own flag plus the conjunctive `keep`.

    All four metrics are computed in ONE projection sharing one token
    array (not a join of quality_score ⋈ repetition_score — that would
    shuffle twice to recombine per-doc rows the scan already had
    together). Pure map stage; ratios are exact int/int IEEE divides,
    so the threshold cuts are engine-independent."""
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    mean_wl = F.when(n_tok > 0, n_alpha.cast("double") / n_tok)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok)
    bigrams = F.when(n_tok >= 2, F.transform(
        F.sequence(F.lit(0), n_tok - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                              F.element_at(toks, i + 2)))
    ).otherwise(F.array().cast("array<string>"))
    nb = F.size(bigrams)
    dup_frac = F.when(nb > 0,
                      F.lit(1.0) - F.size(F.array_distinct(bigrams))
                       .cast("double") / nb).otherwise(F.lit(0.0))
    ok_len = (n_tok >= GOPHER_MIN_TOKENS) & (n_tok <= GOPHER_MAX_TOKENS)
    ok_stop = F.coalesce(stop_ratio >= GOPHER_MIN_STOP_RATIO, F.lit(False))
    ok_wl = F.coalesce((mean_wl >= GOPHER_MIN_MEAN_WL)
                       & (mean_wl <= GOPHER_MAX_MEAN_WL), F.lit(False))
    ok_rep = dup_frac <= GOPHER_MAX_DUP_FRAC
    return (docs.select("doc_id", "text", tokens_col().alias("_toks"))
            .select("doc_id",
                    ok_len.alias("ok_len"), ok_stop.alias("ok_stop"),
                    ok_wl.alias("ok_word_len"), ok_rep.alias("ok_repetition"),
                    (ok_len & ok_stop & ok_wl & ok_rep).alias("keep")))


def contamination_check(docs: DataFrame, n: int = 5,
                        probe_mod: int = 50) -> DataFrame:
    """Benchmark-decontamination check: for every training document,
    count its distinct token n-grams that also appear in a held-out
    probe set (here: docs with doc_id % probe_mod == 0, standing in
    for an eval benchmark). Docs with any overlap are flagged — the
    n-gram-overlap decontamination rule used for LLM training corpora
    (GPT-3 appendix C / PaLM-style 8-gram checks; n is a parameter).

    Plan shape at 100 TB: the probe side is a BENCHMARK (thousands of
    docs, not the corpus), so its distinct n-gram set broadcasts; the
    corpus side is one map stage (n-gram array built row-locally,
    exploded once) + one broadcast-hash semi-join + one groupBy(doc).
    No corpus self-join, no sort. Output covers every non-probe doc
    (zero-overlap docs included, via the final left join)."""
    toks = F.col("_toks")
    ngrams = F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    # one materialization: the n-gram array build (tokenize + n·len
    # string concats per doc) feeds THREE consumers (probe set, train
    # explode, final left join) — without the checkpoint each consumer
    # recomputes it from the scan (measured 8.4 s → ~3 s at sf0.1).
    # iter_checkpoint → durable checkpoint() when the session has a
    # checkpoint dir (cluster), localCheckpoint() otherwise.
    from ..functions.checkpoints import iter_checkpoint
    base = iter_checkpoint(
        docs.select("doc_id", tokens_col().alias("_toks"))
        .select("doc_id", F.array_distinct(ngrams).alias("_ngrams")),
        eager=True)
    probe = (base.filter(F.col("doc_id") % probe_mod == 0)
             .select(F.explode("_ngrams").alias("ngram")).distinct())
    train = base.filter(F.col("doc_id") % probe_mod != 0)
    hits = (train.select("doc_id", F.explode("_ngrams").alias("ngram"))
            .join(F.broadcast(probe), "ngram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits")))
    return (train.select("doc_id",
                         F.size("_ngrams").cast("long").alias("n_ngrams"))
            .join(hits, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                     .alias("n_probe_hits"))
            .withColumn("contaminated", F.col("n_probe_hits") > 0))


def repetition_score(docs: DataFrame) -> DataFrame:
    """Repetition scoring (the Gopher "duplicate n-gram fraction"
    filter): fraction of word bigrams that are repeats within the
    document. High values flag boilerplate/spam for training-data
    filtering. Pure array expressions — per-row map stage, no shuffle;
    the ratio is int/int in one IEEE divide + subtract (portable).

    The token array is materialized in a projection FIRST: expressions
    captured by a transform() lambda are inlined per element, so
    building bigrams directly off tokens_col() re-runs the regex split
    for every element — O(len²) per doc (measured 20 s vs 1.5 s at
    sf0.1)."""
    toks = F.col("_toks")
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                              F.element_at(toks, i + 2)))
    ).otherwise(F.array().cast("array<string>"))
    nb = F.size(bigrams)
    nd = F.size(F.array_distinct(bigrams))
    return docs.select("doc_id", tokens_col().alias("_toks")).select(
        "doc_id",
        nb.cast("long").alias("n_bigrams"),
        nd.cast("long").alias("n_distinct"),
        F.when(nb > 0, F.lit(1.0) - nd.cast("double") / nb)
         .alias("dup_frac"))


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    statistical-quality filter of a pre-training pipeline (docs whose
    token transitions are improbable under the corpus model are
    boilerplate/garble candidates).

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)   [add-one
    smoothing, V = distinct first-token vocabulary]; score = mean
    ln P over the doc's bigrams.

    Two aggregation passes over the exploded bigram stream (count
    model, then score join) — both shuffle on token keys, which is
    how a 100 TB corpus trains a count model (the model is itself too
    big to broadcast; the score join co-shuffles doc bigrams with
    model rows). ln() of integer-count ratios is IEEE-deterministic;
    the per-doc mean goes through the decimal-sum rule.
    """
    bg = (docs.select("doc_id", tokens_col().alias("_toks"))
          .select("doc_id", F.explode(_bigrams_col("_toks")).alias("bg"))
          .select("doc_id", F.col("bg.w1").alias("w1"),
                  F.col("bg.w2").alias("w2")))
    pair_counts = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12"))
    # c(w1,·) and V both derive from the pair counts — one shuffle
    # over the exploded stream builds the whole model, and the vocab
    # count (model state, O(1) result) reads the pre-aggregated side
    head_counts = pair_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1"))
    # V as a broadcast 1-row frame, not a driver-side .count(): keeps
    # the whole query one lazy job (the count forced an extra full
    # pass over the model pipeline before the real one even started).
    vocab = head_counts.agg(F.count(F.lit(1)).alias("_V"))
    model = (pair_counts.join(head_counts, "w1")
             .crossJoin(F.broadcast(vocab))
             .select("w1", "w2",
                     F.log((F.col("c12") + 1).cast("double")
                           / (F.col("c1") + F.col("_V")).cast("double"))
                      .alias("lp")))
    scored = (bg.join(model, ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   (F.sum(F.col("lp").cast(DEC)).cast("double")
                    / F.count(F.lit(1))).alias("avg_logprob")))
    return scored.select("doc_id", "n_bigrams",
                         F.round("avg_logprob", 6).alias("avg_logprob"))


KN_DISCOUNT = 0.75  # 3/4: exact binary fraction — the subtract in
#                     max(c - D, 0) is a single correctly-rounded op


def kn_lm_score(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser–Ney TRIGRAM language-model score per
    document — the standard perplexity-filter upgrade over
    bigram_lm_score (Kneser & Ney 1995; Chen & Goodman 1998's
    interpolated form with a single absolute discount D = 3/4):

      P(w3|w1w2) = max(c(w1w2w3)−D, 0)/c(w1w2·)
                   + D·N1+(w1w2·)/c(w1w2·) · P(w3|w2)
      P(w3|w2)   = max(N1+(·w2w3)−D, 0)/N1+(·w2·)
                   + D·N1+(w2·)/N1+(·w2·) · Pcont(w3)
      Pcont(w3)  = N1+(·w3) / N1+(··)

    where N1+ are CONTINUATION (type) counts. Every statistic —
    trigram counts c123, prefix totals c12, and all four continuation
    counts — derives from ONE trigram-type table (one fact-sized
    shuffle builds it; everything after is model-sized), so bigram
    types here are the distinct (w2,w3) suffixes of seen trigrams.
    Scoring the training corpus itself means every trigram is seen;
    the discount mass still redistributes exactly as KN defines.

    Cross-engine exactness: counts are integers, D is an exact binary
    fraction, and both engines evaluate the IDENTICAL expression tree
    (each level is one divide + one (D·n/denom)·P_lower product,
    summed innermost-first); ln() outputs are DECIMAL(38,10)-cast
    before the per-doc sum (the repo's libm rule), mean in double,
    round 6.

    Scale shape (the bigram_lm_score pattern): token-key shuffles
    build the model — the model never reaches the driver and is never
    broadcast (too big at corpus scale, except the 1-row N1+(··)
    total); the score join co-shuffles the doc trigram stream with
    the model on the trigram key.
    """
    from ..functions.checkpoints import iter_checkpoint
    d = KN_DISCOUNT
    tri = (docs.select("doc_id", tokens_col().alias("_toks"))
           .select("doc_id", F.explode(_trigrams_col("_toks")).alias("tg"))
           .select("doc_id", F.col("tg.w1").alias("w1"),
                   F.col("tg.w2").alias("w2"), F.col("tg.w3").alias("w3")))
    # materialize the trigram-type table ONCE: four branches consume it
    # (pre, cont23, mid, and the model join leg) and Spark does NOT
    # share the subplan across DataFrame branches — the executed plan
    # carried 19 exchanges with ZERO ReusedExchange, i.e. the
    # fact-sized explode+shuffle re-ran per branch, and whether AQE
    # happened to overlap the duplicates is exactly the r7-verdict
    # unattributed 2.7–8.7 s same-code spread (measured 5-run probe).
    # After the checkpoint (+ cont23's below): 12 exchanges, warm runs
    # 2.58–2.95 s — spread 1.14× across 5 quiet runs (attribution +
    # fix in one — VERDICT r7 Next item 3).
    tc = iter_checkpoint(
        tri.groupBy("w1", "w2", "w3").agg(
            F.count(F.lit(1)).alias("c123")),
        eager=True)
    # model-sized statistics, all off the trigram-type table:
    pre = tc.groupBy("w1", "w2").agg(          # c(w1w2·), N1+(w1w2·)
        F.sum("c123").alias("c12"),
        F.count(F.lit(1)).alias("n1p12"))
    cont23 = iter_checkpoint(                  # N1+(·w2w3) — 3 consumers
        tc.groupBy("w2", "w3").agg(            # (uni, nbt, model join)
            F.count(F.lit(1)).alias("ccont")),
        eager=True)
    mid = tc.groupBy("w2").agg(                # N1+(·w2·), N1+(w2·)
        F.count(F.lit(1)).alias("sumcont2"),
        F.countDistinct("w3").alias("n1pmid2"))
    uni = cont23.groupBy("w3").agg(            # N1+(·w3)
        F.count(F.lit(1)).alias("n1pw3"))
    nbt = cont23.agg(F.count(F.lit(1)).alias("n_bt"))  # N1+(··), 1 row
    p1 = F.col("n1pw3").cast("double") / F.col("n_bt").cast("double")
    p2 = (F.greatest(F.col("ccont").cast("double") - F.lit(d), F.lit(0.0))
          / F.col("sumcont2").cast("double")
          + (F.lit(d) * F.col("n1pmid2").cast("double")
             / F.col("sumcont2").cast("double")) * p1)
    model0 = (tc.join(pre, ["w1", "w2"])
              .join(cont23, ["w2", "w3"])
              .join(mid, "w2")
              .join(uni, "w3")
              .crossJoin(F.broadcast(nbt))
              .select("w1", "w2", "w3", "c123", "c12", "n1p12",
                      p2.alias("p2")))
    p3 = (F.greatest(F.col("c123").cast("double") - F.lit(d), F.lit(0.0))
          / F.col("c12").cast("double")
          + (F.lit(d) * F.col("n1p12").cast("double")
             / F.col("c12").cast("double")) * F.col("p2"))
    model = model0.select("w1", "w2", "w3", F.log(p3).alias("lp"))
    return (tri.join(model, ["w1", "w2", "w3"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_trigrams"),
                 F.round(F.sum(F.col("lp").cast(DEC)).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_logprob")))


def _trigrams_col(toks_col: str):
    """array<struct<w1,w2,w3>> of adjacent token triples over an
    already-materialized token-array column (see _bigrams_col for the
    materialize-first rationale; the size<3 guard also keeps the
    descending-sequence phantom away — the shingles() lesson)."""
    toks = F.col(toks_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    return F.when(F.size(toks) < 3, F.array().cast(
        "array<struct<w1:string,w2:string,w3:string>>")).otherwise(
        F.transform(idx, lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
            F.element_at(toks, i + 2).alias("w3"))))


def _bigrams_col(toks_col: str):
    """array<struct<w1,w2>> of adjacent token pairs over an ALREADY
    MATERIALIZED token-array column (row-local; empty for 1-token
    docs). Takes a column name, not the text expression: a transform()
    lambda inlines captured expressions per element, so passing the
    split directly re-runs the regex for every element — O(len²) per
    doc (same trap repetition_score documents; measured 21.7 s → 3.4 s
    for bigram_lm_score at sf0.1)."""
    toks = F.col(toks_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0)))
    return F.when(F.size(toks) < 2, F.array().cast(
        "array<struct<w1:string,w2:string>>")).otherwise(
        F.transform(idx, lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"))))


# ---------------------------------------------------------------------------
# Corpus statistics: the "know your data" reports every pre-training
# run produces before filtering decisions — Zipf/vocabulary coverage,
# length distribution, and per-source distribution shift.

VOCAB_TOP_K = 100


def vocab_coverage(docs: DataFrame, k: int = VOCAB_TOP_K) -> DataFrame:
    """Top-k corpus vocabulary with cumulative token-mass coverage
    (the Zipf curve head: "the 100 most frequent tokens cover X% of
    the stream"). rank ties break on the token string so the cut and
    the cumulative order are total.

    Scale shape: one token-key shuffle builds the frequency table;
    the top-k cut is TakeOrderedAndProject (per-partition heaps —
    never a global sort); the cumulative window then runs over
    EXACTLY k rows (bounded by construction, not by data), and the
    total-token count joins as a broadcast 1-row aggregate.
    """
    from pyspark.sql import Window as W
    toks = docs.select(F.explode(tokens_col()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    top = (freq.orderBy(F.desc("freq"), F.asc("token")).limit(k)
           .crossJoin(F.broadcast(total)))
    w = (W.orderBy(F.desc("freq"), F.asc("token"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (top.select(
        F.row_number().over(
            W.orderBy(F.desc("freq"), F.asc("token"))).alias("rank"),
        "token", "freq",
        F.round(F.sum("freq").over(w).cast("double") / F.col("_total"), 6)
         .alias("cum_frac")))


def doc_length_histogram(docs: DataFrame) -> DataFrame:
    """Log2-bucketed document-length (token-count) histogram — the
    length-distribution report behind truncation/packing decisions.
    Pure map + one bounded-key shuffle (≤ ~40 buckets at any corpus
    size). The bucket is the integer bit-length − 1, computed via the
    binary-string length — floor(log2(n)) in libm could round
    2^k − ε to the wrong side on some engine; string length of the
    base-2 representation is exact everywhere."""
    n = F.size(tokens_col())
    bucket = (F.length(F.conv(n.cast("string"), 10, 2)) - 1).cast("int")
    return (docs.select(bucket.alias("len_bucket"),
                        n.cast("bigint").alias("n_tokens"))
            .groupBy("len_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("n_tokens").alias("min_tokens"),
                 F.max("n_tokens").alias("max_tokens"))
            .orderBy("len_bucket"))


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the domain-shift report (a source whose token distribution
    diverges hard from the pool is over/under-represented or out of
    domain).

    KL(Q_s ‖ P) = Σ_w (c_sw/N_s) · ln( (c_sw·N) / (N_s·c_w) ), summed
    over the source's tokens (Q > 0; P > 0 by containment).

    Determinism: ln() takes ONE exact integer-ratio division
    (c_sw·N and N_s·c_w are exact BIGINT products), the weight is one
    exact division, their product is a single IEEE multiply — all
    bit-identical across engines on identical counts; the final
    per-source sum goes through the decimal rule.

    Scale shape: one (source, token) count aggregation, rolled up to
    the token key (c_w = Σ_s c_sw, exact), one hash join between them
    on the token key, and a final per-source rollup — every stage
    key-partitioned, model never broadcast (vocabulary-sized, like the
    bigram LM). The (source, token) counts are checkpointed: three
    consumers read them, and a cached documents scan is a query stage
    of its own per reference, so AQE would reuse no exchange built
    above it.
    """
    from ..functions.checkpoints import iter_checkpoint
    tok = docs.select("source", F.explode(tokens_col()).alias("token"))
    by_src = iter_checkpoint(tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c_sw")), eager=False)
    by_tok = by_src.groupBy("token").agg(F.sum("c_sw").alias("c_w"))
    totals = by_src.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    grand = by_tok.agg(F.sum("c_w").alias("_n"))
    term = (by_src.join(by_tok, "token")
            .join(totals, "source")
            .crossJoin(F.broadcast(grand))
            .select("source",
                    ((F.col("c_sw").cast("double") / F.col("n_s"))
                     * F.log((F.col("c_sw") * F.col("_n")).cast("double")
                             / (F.col("n_s") * F.col("c_w")).cast("double"))
                     ).alias("_t")))
    return (term.groupBy("source")
            .agg(F.count(F.lit(1)).alias("vocab"),
                 F.round(F.sum(F.col("_t").cast(DEC)), 6).cast("double")
                  .alias("kl_div"))
            .orderBy("source"))


TOP_NGRAM_N = 4
TOP_NGRAM_K = 20


def top_ngrams(docs: DataFrame, n: int = TOP_NGRAM_N,
               k: int = TOP_NGRAM_K) -> DataFrame:
    """Corpus-wide repeated n-gram mining: the k most frequent word
    n-grams with occurrence and document counts — the boilerplate
    detector that seeds template-removal rules (an n-gram appearing
    in thousands of docs is navigation/disclaimer text, not content).

    Scale shape: n-gram arrays built row-locally (materialized token
    array — the transform() inlining rule), ONE explode + one
    (ngram) count aggregate with map-side combine, top-k via
    TakeOrderedAndProject. Document counts use count_distinct inside
    the same aggregate — no second pass."""
    toks = F.col("_toks")
    ngrams = F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    exploded = (docs.select("doc_id", tokens_col().alias("_toks"))
                .select("doc_id", F.explode(ngrams).alias("ngram")))
    return (exploded.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.count_distinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
            .limit(k))


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "stream", "join")
BM25_TOPK = 20


def bm25_search(docs: DataFrame, query: tuple = BM25_QUERY,
                k1: float = BM25_K1, b: float = BM25_B,
                k: int = BM25_TOPK) -> DataFrame:
    """BM25 relevance ranking (Robertson/Spärck Jones) of the corpus
    against a fixed term query — the doc-length-normalized upgrade of
    tfidf_top_terms, i.e. the scorer an actual retrieval / data-mix
    curation stage runs. idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
    (the non-negative variant), tf component
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape — no token explode, no shuffle except two 1-row
    reductions: per-doc dl and per-query-term tf come row-locally
    from the materialized token array (size + filter — the
    transform() inlining rule); N, Σdl, and each term's df reduce in
    ONE global aggregate whose single row is broadcast back; the
    score is then a pure per-row expression and the top-k cut is
    TakeOrderedAndProject. At 100 TB the only data movement is the
    1-row aggregate and the k-row result.

    Determinism: tf/dl/df are integer-exact; the score mixes ln()
    (libm-dependent at the last ulp) so it is emitted ROUNDed to 4dp
    and the ordering key is (rounded score DESC, doc_id ASC) — the
    same boundary-tolerant pattern pagerank uses at 6dp, one digit
    coarser because ln feeds every term."""
    toks = F.col("_toks")
    per = docs.select(
        "doc_id",
        tokens_col().alias("_toks")).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[F.size(F.filter(toks, (lambda qq: lambda t: t == F.lit(qq))(q)))
           .cast("long").alias(f"tf_{q}") for q in query])
    g = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("_tot"),
        *[F.sum(F.when(F.col(f"tf_{q}") > 0, 1).otherwise(0))
           .cast("long").alias(f"df_{q}") for q in query])
    avgdl = F.col("_tot") / F.col("n_docs")
    score = None
    for q in query:
        tf, df = F.col(f"tf_{q}"), F.col(f"df_{q}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        term = idf * (tf * (k1 + 1.0)) \
            / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
        score = term if score is None else score + term
    return (per.crossJoin(F.broadcast(g))
            .select("doc_id", "dl",
                    *[f"tf_{q}" for q in query],
                    F.round(score, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


POSTING_TERMS = ("spark", "stream", "join", "hash")
POSTING_HEAD = 10


def posting_lists(docs: DataFrame, terms: tuple = POSTING_TERMS,
                  head: int = POSTING_HEAD) -> DataFrame:
    """Inverted-index build step: per term, document frequency, total
    term frequency, and the HEAD of the posting list (first `head`
    doc_ids ascending) — the search-index construction kernel
    (postings + skip metadata), bounded the way a real index shard
    writer bounds its in-memory segment.

    Scale shape: explode filtered to the term set (predicate inside
    the map stage — the token stream never materializes for other
    terms), one (term, doc_id) count agg with map-side combine, df /
    tf_total from a second |terms|-sized agg, and the head via a
    per-term window rank BEFORE collect_list — the collect only ever
    sees `head` rows per term, so no posting list is gathered whole
    (collect_list over an unbounded posting would be the driver-OOM
    anti-pattern at 100 TB).

    Output: (term, df, tf_total, postings_head) — the head emitted as
    a comma-joined string (a stable wire format for the skip index;
    also hash-identical across engines regardless of how a client
    stringifies native list types)."""
    from pyspark.sql import Window as W
    toks = (docs.select("doc_id", F.explode(tokens_col()).alias("term"))
            .filter(F.col("term").isin(*terms)))
    per = (toks.groupBy("term", "doc_id")
           .agg(F.count(F.lit(1)).alias("tf")))
    stats = (per.groupBy("term")
             .agg(F.count(F.lit(1)).cast("long").alias("df"),
                  F.sum("tf").cast("long").alias("tf_total")))
    w = W.partitionBy("term").orderBy("doc_id")
    headed = (per.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= head)
              .groupBy("term")
              .agg(F.array_join(
                      F.transform(F.sort_array(F.collect_list("doc_id")),
                                  lambda x: x.cast("string")), ",")
                    .alias("postings_head")))
    return (stats.join(headed, "term")
            .select("term", "df", "tf_total", "postings_head")
            .orderBy("term"))


QUANTILE_KEEP_PCT = 30   # keep the top 30% of each source by quality


def quality_quantile_cut(docs: DataFrame,
                         keep_pct: int = QUANTILE_KEEP_PCT,
                         n_parts: int | None = None) -> DataFrame:
    """Per-source ADAPTIVE quality threshold: keep each source's top
    `keep_pct` percent of documents by quality score — the mixing
    policy real curation uses instead of one global cutoff (a global
    threshold empties low-quality-distribution feeds and keeps
    everything from high ones; a per-source quantile keeps the best
    slice of every feed).

    kept ⇔ rank ≤ ceil(cnt·pct/100), with rank over (quality DESC,
    doc_id) — the tie-break makes the cut deterministic, and the
    keep-count uses pure integer arithmetic ((cnt·pct + 99) div 100),
    so no float quantile estimate is involved: the cut is EXACT.

    Scale shape: ranking within a source is the same skew trap as any
    per-key global order (one giant source → one serializing window
    task), so the rank is a per-source distributed prefix COUNT via
    `packing.ranged_cumsum(group_cols=["source"])` — range exchange,
    bounded-group window, O(parts·sources) broadcast offsets; no
    stage depends on the largest source's size. Per-source totals are
    a separate tiny broadcast aggregate.

    Returns (doc_id, source, quality, rnk, kept) ordered by doc_id.
    """
    from .packing import ranged_cumsum
    q = quality_score(docs).select("doc_id", "quality")
    base = (docs.select("doc_id", "source").join(q, "doc_id")
            .withColumn("_one", F.lit(1).cast("long")))
    cum = ranged_cumsum(base, "_one",
                        [F.desc("quality"), F.asc("doc_id")],
                        group_cols=["source"], n_parts=n_parts)
    cnts = base.groupBy("source").agg(F.count(F.lit(1)).alias("_cnt"))
    rnk = F.col("_cum").cast("long")
    return (cum.join(F.broadcast(cnts), "source")
            .select("doc_id", "source", "quality", rnk.alias("rnk"),
                    (rnk <= F.expr(f"(_cnt * {keep_pct} + 99) div 100"))
                    .alias("kept"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Round-4 additions: information-theoretic quality signals and
# exact-substring decontamination stats (reference has no analogue —
# these extend the LLM-curation tier; cf. Gopher §A2 / C4 §2.3 for the
# filter semantics they implement).

PMI_MIN_COUNT = 5
PMI_TOP_K = 20
DUP_SPAN_N = 8


def word_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the word distribution — the
    classic "garble vs boilerplate" quality axis (low entropy = a few
    words repeated = template/spam; high entropy at short length =
    random noise). Complements repetition_score: entropy sees the
    full distribution, not just adjacent repeats.

    Plan shape: explode → count per (doc, word) [one shuffle keyed by
    doc_id+word, map-side combined] → per-doc fold. 100 TB: the
    shuffle carries one row per DISTINCT word per doc (≤ vocab, far
    below token count) and everything downstream is per-doc local.

    Determinism: counts are exact integers; the entropy sum is a
    LEFT FOLD OVER WORD-SORTED counts (sort_array on struct(word) /
    DuckDB list(... ORDER BY word)) so both engines add the same IEEE
    doubles in the same order — the bpe.py fold rule. One ln() per
    distinct word (1-ulp libm variance absorbed by round-6).
    """
    wc = (docs.select("doc_id", F.explode(tokens_col()).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt")))
    agg = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sort_array(F.collect_list(F.struct("w", "cnt"))).alias("_ps"))
    n = F.col("n_tokens").cast("double")
    ent = -F.aggregate(
        F.transform("_ps", lambda p: p["cnt"].cast("double")),
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log(c / n))
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size("_ps").cast("long").alias("n_distinct"),
        F.round(ent, 6).alias("entropy"))


def pmi_top_pairs(docs: DataFrame, k: int = PMI_TOP_K,
                  min_count: int = PMI_MIN_COUNT) -> DataFrame:
    """Corpus-level pointwise mutual information of ADJACENT word
    pairs — the collocation detector (PMI = ln P(xy)/(P(x)P(y)));
    training pipelines use it to find multi-word units worth
    protecting from tokenizer splits and to spot templated boilerplate
    (very high PMI at high count).

    One shuffle builds the bigram model (groupBy(w1,w2), map-side
    combined); the marginals c(w1,·), c(·,w2) and N all re-aggregate
    the MODEL (vocab²-bounded, not corpus-bounded) — the same
    corpus→model reduction bpe.py documents. Top-k is a
    TakeOrderedAndProject, no global sort.

    Determinism: ordering uses the ratio computed as
    (c12/c1)·(N/c2) — two IEEE divides and one multiply over doubles,
    the SAME op sequence in the DuckDB oracle, so the value (and the
    rank order) is bit-identical across engines WITHOUT forming the
    integer products c12·N / c1·c2, which can exceed 2^63 (silent
    int64 wraparound in non-ANSI Spark) on a genuinely large corpus.
    Ties break on (w1, w2). The reported pmi is round-6 ln(ratio).
    """
    bg = (docs.select("doc_id", tokens_col().alias("_toks"))
          .select(F.explode(_bigrams_col("_toks")).alias("bg"))
          .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = c12.agg(F.sum("c12").alias("_N"))
    ratio = ((F.col("c12").cast("double") / F.col("c1").cast("double"))
             * (F.col("_N").cast("double") / F.col("c2").cast("double")))
    return (c12.filter(F.col("c12") >= min_count)
            .join(c1, "w1").join(c2, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                    ratio.alias("_ratio"))
            .orderBy(F.desc("_ratio"), "w1", "w2").limit(k)
            .select("w1", "w2", "c12",
                    F.round(F.log("_ratio"), 6).alias("pmi")))


def ngram_dup_spans(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """Exact-substring decontamination stats: for every document,
    how much of it is covered by an n-gram (n=8 words) that also
    appears in ANOTHER document — the C4/RefinedWeb "remove any span
    shared across documents" primitive, reported as per-doc coverage
    so a pipeline can drop or trim.

    Plan: positional n-grams (row-local transform — one row per
    position), groupBy(gram) with a two-distinct-docs test, then the
    duplicated positions fan out n span offsets and a per-doc
    count-distinct closes the interval union. The gram shuffle is the
    big one and it carries md5(gram) 16-byte keys, not the raw 8-word
    strings; positions covered re-shuffles only DUPLICATED positions
    (corpus-dup-bounded, the small side after curation).

    All outputs are exact integers except covered_frac (one divide).
    """
    toks = docs.select("doc_id", tokens_col().alias("_toks"))
    sz = F.size("_toks")
    # guard: Spark sequence(1, 0) yields DESCENDING [1,0], not empty —
    # docs shorter than n must produce zero grams explicitly
    pos_grams = F.when(sz >= n, F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("_toks", i, n))).alias("g")))
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    grams = (toks.select("doc_id", F.explode(pos_grams).alias("pg"))
             .select("doc_id", F.col("pg.pos").alias("pos"),
                     F.col("pg.g").alias("g")))
    dup_grams = (grams.groupBy("g")
                 .agg(F.count_distinct("doc_id").alias("_nd"))
                 .filter(F.col("_nd") >= 2).select("g"))
    dup_pos = grams.join(dup_grams, "g")
    per_doc_dup = dup_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"))
    covered = (dup_pos.select(
        "doc_id", F.explode(F.sequence(
            F.col("pos"), F.col("pos") + (n - 1))).alias("j"))
        .groupBy("doc_id").agg(F.count_distinct("j").alias("covered")))
    base = toks.select(
        "doc_id", sz.cast("long").alias("n_words"),
        F.greatest(sz - (n - 1), F.lit(0)).cast("long").alias("n_grams"))
    out = (base.join(per_doc_dup, "doc_id", "left")
           .join(covered, "doc_id", "left")
           .select("doc_id", "n_words", "n_grams",
                   F.coalesce(F.col("n_dup_grams"), F.lit(0))
                    .cast("long").alias("n_dup_grams"),
                   F.coalesce(F.col("covered"), F.lit(0))
                    .cast("long").alias("covered_words")))
    return out.select(
        "*",
        F.round(F.col("covered_words").cast("double")
                / F.col("n_words").cast("double"), 6).alias("covered_frac"))


# --- round-5 operators ------------------------------------------------

WINNOW_K = 3          # words per k-gram
WINNOW_W = 4          # grams per winnowing window
_WINNOW_POS_BASE = 1_000_000_000   # rightmost-tie encoding base


def winnowing_fingerprints(docs: DataFrame, k: int = WINNOW_K,
                           w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS local-fingerprint algorithm): hash every
    k-word gram, slide a w-gram window, and select each window's
    MINIMUM hash (rightmost on ties); the distinct selected (pos,
    hash) set is the fingerprint. Guarantees any shared run of
    w+k-1 words between two documents shares at least one selected
    fingerprint — the recall property plain 1/p MinHash sampling
    lacks.

    Scale shape: the ENTIRE selection is row-local (one transform
    builds gram keys, a second takes windowed minima, array_distinct
    dedupes) — a single fused map stage over the corpus, zero
    shuffle, the ideal 100 TB form. Downstream consumers groupBy the
    fingerprint hash to find cross-doc matches (that join is
    candidate-bounded exactly like minhash_lsh).

    Rightmost-min tie-break without a struct comparator (so the same
    expression runs on both engines): each gram's sort key is
    md5hex || lpad(BASE − pos), i.e. ordering by (hash asc, pos
    desc); string MIN over the window implements the paper's rule,
    and pos decodes back out of the key. Short docs (< k words)
    produce no fingerprint; docs with < w grams produce the global
    minimum (the paper's degenerate-window case).
    """
    d = docs.select("doc_id", tokens_col().alias("_t"))
    ng = F.size("_t") - (k - 1)
    # Spark sequence(1, 0) yields DESCENDING [1, 0] — guard explicitly
    keys = F.when(ng >= 1, F.transform(
        F.sequence(F.lit(1), ng),
        lambda i: F.concat(
            F.md5(F.concat_ws(" ", F.slice("_t", i, k))),
            F.lpad((F.lit(_WINNOW_POS_BASE) - i).cast("string"),
                   10, "0")))
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", keys.alias("_k"))
    nwin = F.greatest(F.lit(1), F.size("_k") - (w - 1))
    sel = F.when(F.size("_k") >= 1, F.array_distinct(F.transform(
        F.sequence(F.lit(1), nwin),
        lambda i: F.array_min(F.slice("_k", i, w))))
    ).otherwise(F.array().cast("array<string>"))
    return (g.select("doc_id", F.explode(sel).alias("_sel"))
            .select("doc_id",
                    (F.lit(_WINNOW_POS_BASE)
                     - F.substring("_sel", 33, 10).cast("int"))
                    .cast("int").alias("pos"),
                    F.substring("_sel", 1, 32).alias("fp")))


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution —
    the cheapest garble detector (binary junk decoded as text scores
    near log2 |alphabet|; repeated-char spam scores near 0); standard
    alongside word_entropy in quality gates because it needs no
    tokenizer and catches non-linguistic bytes word-level stats miss.

    Same plan as word_entropy with characters as the unit: explode →
    count per (doc, char) [shuffle carries ≤ |alphabet| rows per doc
    after map-side combine — effectively free] → per-doc fold over
    CHAR-SORTED counts so both engines add identical IEEE doubles in
    identical order.
    """
    chars = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.substring(F.col("text"), i, F.lit(1)))
    cc = (docs.filter(F.length("text") > 0)
          .select("doc_id", F.explode(chars).alias("ch"))
          .groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt")))
    agg = cc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.sort_array(F.collect_list(F.struct("ch", "cnt"))).alias("_ps"))
    n = F.col("n_chars").cast("double")
    ent = -F.aggregate(
        F.transform("_ps", lambda p: p["cnt"].cast("double")),
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log(c / n))
    return agg.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("_ps").cast("long").alias("n_distinct_chars"),
        F.round(ent, 6).alias("char_entropy"))


def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document, with
    the standard regex syllable proxy (count [aeiouy]+ vowel-group
    runs per word, minimum 1) — the classic curation feature for
    audience-level bucketing of a corpus (e.g. building grade-school
    vs technical mixes). Deterministic: integer counts, two integer
    ratios, one fixed linear form — bit-identical on any engine that
    evaluates the same expression.

    Row-local only (per-doc regex counts + an in-row fold over the
    token array): a single map stage at any scale.
    """
    toks = tokens_col()
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)))
    syl = F.aggregate(
        F.transform(toks, lambda t: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)))),
        F.lit(0), lambda acc, x: acc + x)
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = syl.cast("double") / n_words.cast("double")
    return (docs.filter(F.size(tokens_col()) > 0)
            .select("doc_id",
                    n_words.cast("long").alias("n_words"),
                    n_sent.cast("long").alias("n_sentences"),
                    syl.cast("long").alias("n_syllables"),
                    F.round(F.lit(206.835) - F.lit(1.015) * wps
                            - F.lit(84.6) * spw, 6).alias("flesch"),
                    F.round(F.lit(0.39) * wps + F.lit(11.8) * spw
                            - F.lit(15.59), 6).alias("fk_grade")))


def unigram_perplexity(docs: DataFrame) -> DataFrame:
    """Per-document perplexity under the corpus's own add-one-smoothed
    unigram LM — the CCNet/fastText-style LM filter in its simplest
    deterministic form: documents whose word mix diverges from the
    corpus (junk, foreign-language, templated) score high; the score
    feeds a quantile cut exactly like quality_quantile_cut.

    Plan shape: one corpus→model reduction (vocab counts — the bpe.py
    rule), broadcast of the two model scalars (N, V), one join of the
    per-doc distinct-word counts against the vocab model (model-sized
    build side), one per-doc fold. The join is the only corpus-sized
    shuffle and it carries (doc, distinct-word) rows.

    Determinism: per-(doc,word) nll terms are each computed by the
    identical IEEE expression; the per-doc sum folds over WORD-SORTED
    terms (the word_entropy rule), so accumulation order is fixed.
    """
    wc = (docs.select("doc_id", F.explode(tokens_col()).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("dc")))
    vocab = wc.groupBy("w").agg(F.sum("dc").alias("cw"))
    tot = vocab.agg(F.sum("cw").alias("_N"),
                    F.count(F.lit(1)).alias("_V"))
    per = (wc.join(vocab, "w")
           .crossJoin(F.broadcast(tot))
           .select("doc_id", "dc",
                   F.struct(
                       "w",
                       (F.col("dc").cast("double")
                        * F.log((F.col("cw") + 1).cast("double")
                                / (F.col("_N") + F.col("_V")).cast("double"))
                        ).alias("t")).alias("_wt")))
    ag = per.groupBy("doc_id").agg(
        F.sum("dc").alias("n_tokens"),
        F.sort_array(F.collect_list("_wt")).alias("_ts"))
    ll = F.aggregate(F.transform("_ts", lambda p: p["t"]),
                     F.lit(0.0), lambda acc, x: acc + x)
    return ag.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(-ll / F.col("n_tokens").cast("double"), 6).alias("avg_nll"),
        F.round(F.exp(-ll / F.col("n_tokens").cast("double")), 6)
         .alias("perplexity"))


def normalized_dedup(docs: DataFrame) -> DataFrame:
    """Punctuation/case/whitespace-insensitive exact dedup — the C4
    step between raw exact dedup and MinHash: documents are grouped
    by md5 of the canonical form lower → non-alphanumeric runs → one
    space → trim, so 'Hello, World!' and 'hello world' collide. One
    hash shuffle on the 16-byte canonical fingerprint (same scale
    shape as exact_dedup); keep-lowest-id is the module's canonical
    survivorship rule.

    Returns every doc with its canonical hash, its group size, and
    whether it is the group's keeper.
    """
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")),
                                    "[^a-z0-9]+", " "))
    keyed = docs.select("doc_id", F.md5(canon).alias("canon_hash"))
    groups = keyed.groupBy("canon_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("_keeper"))
    return (keyed.join(groups, "canon_hash")
            .select("doc_id", "canon_hash",
                    F.col("group_size").cast("long").alias("group_size"),
                    (F.col("doc_id") == F.col("_keeper")).alias("keep")))


def hapax_ratio(docs: DataFrame) -> DataFrame:
    """Lexical-diversity profile per source: vocabulary size, hapax
    legomena (words occurring exactly once in the source), type-token
    ratio and hapax share — the corpus-linguistics axis curation uses
    to spot template farms (low TTR, few hapaxes) vs scraped noise
    (absurdly high hapax share = tokenizer-hostile junk).

    Corpus→model reduction per source: one (source, word) count
    shuffle (map-side combined), then a source-sized rollup. All
    ratios are int/int single divides.
    """
    wc = (docs.select("source", F.explode(tokens_col()).alias("w"))
          .groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt")))
    return (wc.groupBy("source").agg(
                F.sum("cnt").alias("n_tokens"),
                F.count(F.lit(1)).alias("vocab"),
                F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select("source",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("vocab").cast("long").alias("vocab"),
                    F.col("n_hapax").cast("long").alias("n_hapax"),
                    F.round(F.col("vocab").cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                     .alias("ttr"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("vocab").cast("double"), 6)
                     .alias("hapax_share"))
            .orderBy("source"))


def balanced_downsample(docs: DataFrame) -> DataFrame:
    """Class-balanced downsampling to the minority stratum: every
    (source, lang) stratum is cut to the size of the SMALLEST
    stratum, membership chosen by deterministic hash rank (md5 over a
    salted doc_id) — the standard class-balancing step before
    training-mix assembly, reproducible across runs and engines by
    construction (cf. stratified_sample's hash-rank rule).

    Plan: one stratum-count aggregation (model-sized), broadcast of
    the single min-count scalar, one rank window per stratum, one
    filter. The window is keyed by (source, lang) — hash-distributed,
    no global sort; at 100 TB the rank can instead use the
    distributed top-m-per-key form (TakeOrdered per stratum), same
    semantics.
    """
    m = (docs.groupBy("source", "lang")
         .agg(F.count(F.lit(1)).alias("_n"))
         .agg(F.min("_n").alias("_m")))
    from pyspark.sql.window import Window as _W
    w = (_W.partitionBy("source", "lang")
         .orderBy(F.md5(F.concat(F.lit("bal#"),
                                 F.col("doc_id").cast("string"))),
                  "doc_id"))
    return (docs.select("doc_id", "source", "lang")
            .withColumn("rank", F.row_number().over(w))
            .crossJoin(F.broadcast(m))
            .filter(F.col("rank") <= F.col("_m"))
            .select("doc_id", "source", "lang",
                    F.col("rank").cast("long").alias("rank")))


def lang_id_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the
    table's labeled `lang` column — the evaluation loop every
    classifier-driven curation stage needs (per-label row counts and
    shares, plus the correct/incorrect flag). At 100 TB this is the
    language_id map stage plus one (lang, pred)-keyed aggregate over
    |langs|² cells — the matrix itself is model-sized.
    """
    pred = language_id(docs)
    c = (pred.groupBy("lang", "lang_pred")
         .agg(F.count(F.lit(1)).alias("n")))
    t = c.groupBy("lang").agg(F.sum("n").alias("_tot"))
    return (c.join(F.broadcast(t), "lang")
            .select("lang", "lang_pred",
                    F.col("n").cast("long").alias("n"),
                    F.round(F.col("n").cast("double")
                            / F.col("_tot").cast("double"), 6)
                     .alias("share"),
                    (F.col("lang") == F.col("lang_pred"))
                    .alias("is_correct"))
            .orderBy("lang", "lang_pred"))


NOVELTY_N = 5  # word n-gram length for the novelty metric


def ngram_novelty(docs: DataFrame, n: int = NOVELTY_N) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a doc's DISTINCT
    word n-grams whose first corpus occurrence (minimum doc_id, the
    corpus-order tiebreak) is this document. The metric RefinedWeb /
    C4-style curation reports per shard: a low-novelty doc is mostly
    assembled from text already seen earlier in the corpus even when
    no single pair crosses a near-dup threshold (the complement of
    ngram_dup_spans, which localizes WHERE the duplication sits).

    Scale shape: one map explodes each doc into md5(n-gram) keys
    (distinct within doc), one hash shuffle groups by gram for the
    MIN(doc_id) first-occurrence model, and the join back is on the
    SAME gram key so AQE reuses the exchange; the final per-doc
    aggregate is the only second shuffle. Nothing is pairwise — the
    gram->first_doc model is the whole cross-doc state, exactly the
    count-then-join factorization the dedup composites use.

    Docs with fewer than `n` tokens emit no row (they have no n-gram
    to score — mirrored in the oracle). Returns (doc_id, n_grams,
    novel_grams, novelty) ordered by doc_id."""
    from ..functions.partitioning import spread
    grams = F.expr(
        f"CASE WHEN size(_t) >= {n} THEN"
        f" transform(sequence(1, size(_t) - {n - 1}),"
        f"           i -> md5(concat_ws(' ', slice(_t, i, {n}))))"
        f" ELSE array() END")
    g = (spread(docs, "doc_id")
         .select("doc_id", tokens_col().alias("_t"))
         .select("doc_id", F.explode(grams).alias("gh"))
         .distinct())
    first = g.groupBy("gh").agg(F.min("doc_id").alias("_first"))
    return (g.join(first, "gh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum((F.col("_first") == F.col("doc_id")).cast("long"))
                  .alias("novel_grams"))
            .select("doc_id",
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("novel_grams").cast("long").alias("novel_grams"),
                    F.round(F.col("novel_grams").cast("double")
                            / F.col("n_grams").cast("double"), 6)
                     .alias("novelty"))
            .orderBy("doc_id"))


WINSOR_LO_PCT = 10
WINSOR_HI_PCT = 90


def winsorized_stats(docs: DataFrame,
                     n_parts: int | None = None) -> DataFrame:
    """Per-source robust length statistics: exact p10/p90 order
    statistics and the winsorized / trimmed means — the outlier-proof
    aggregate a curation dashboard reports when a feed mixes tweets
    with concatenated crawl blobs (the plain mean tracks the blobs).

    Exactness rule: the percentiles are ORDER STATISTICS (the value
    at integer rank ceil(p·n/100), rank over (n_chars ASC, doc_id
    ASC)) — no interpolating quantile estimate, so there is no float
    formula for two engines to disagree on. The winsorized sum is
    computed in CLOSED FORM from one pass: lo_pos·p10 + Σ middle +
    (n − hi_pos)·p90 — pure BIGINT arithmetic, with the only doubles
    being the three final single-division means (round 6).

    Scale shape: the rank is quality_quantile_cut's skew-safe
    per-source distributed prefix count (`packing.ranged_cumsum`) —
    no task serializes the largest source; per-source totals are a
    tiny broadcast; the conditional aggregation is one map-side-
    combined groupBy(source).

    Band convention (ADVICE r5): the middle band is the half-open
    rank interval (lo_pos, hi_pos] — the trimmed/winsorized means
    INCLUDE the p90-rank value and EXCLUDE the p10-rank value (which
    the winsorized sum replaces lo_pos times). This differs from the
    textbook symmetric trim by at most one rank on the low side; it
    is deterministic, oracle-matched, and stated here so the column
    names aren't read as the symmetric-trim statistic.

    Returns (source, n_docs, mean_chars, p10_chars, p90_chars,
    winsorized_mean, trimmed_mean) ordered by source.
    """
    from .packing import ranged_cumsum
    base = docs.select("doc_id", "source",
                       F.col("n_chars").cast("long").alias("v"),
                       F.lit(1).cast("long").alias("_one"))
    cum = ranged_cumsum(base, "_one",
                        [F.asc("v"), F.asc("doc_id")],
                        group_cols=["source"], n_parts=n_parts)
    cnts = base.groupBy("source").agg(F.count(F.lit(1)).alias("_cnt"))
    rn = F.col("_cum").cast("long")
    lo_pos = F.expr(f"(_cnt * {WINSOR_LO_PCT} + 99) div 100")
    hi_pos = F.expr(f"(_cnt * {WINSOR_HI_PCT} + 99) div 100")
    r = (cum.join(F.broadcast(cnts), "source")
         .select("source", "v", F.col("_cnt"),
                 rn.alias("_rn"), lo_pos.alias("_lo"), hi_pos.alias("_hi")))
    mid = F.when((F.col("_rn") > F.col("_lo"))
                 & (F.col("_rn") <= F.col("_hi")), F.col("v")).otherwise(F.lit(0))
    agg = (r.groupBy("source")
           .agg(F.max("_cnt").alias("n_docs"),
                F.sum("v").alias("_sum"),
                F.max(F.when(F.col("_rn") == F.col("_lo"), F.col("v")))
                 .alias("p10_chars"),
                F.max(F.when(F.col("_rn") == F.col("_hi"), F.col("v")))
                 .alias("p90_chars"),
                F.sum(mid).alias("_mid_sum"),
                F.max("_lo").alias("_lop"),
                F.max("_hi").alias("_hip")))
    wsum = (F.col("_lop") * F.col("p10_chars") + F.col("_mid_sum")
            + (F.col("n_docs") - F.col("_hip")) * F.col("p90_chars"))
    n_mid = F.col("_hip") - F.col("_lop")
    return (agg.select(
        "source", "n_docs",
        F.round(F.col("_sum").cast("double") / F.col("n_docs"), 6)
         .alias("mean_chars"),
        "p10_chars", "p90_chars",
        F.round(wsum.cast("double") / F.col("n_docs"), 6)
         .alias("winsorized_mean"),
        F.when(n_mid > 0,
               F.round(F.col("_mid_sum").cast("double") / n_mid, 6))
         .alias("trimmed_mean"))
        .orderBy("source"))


# --- round-6 operators ------------------------------------------------


def source_ols_fit(docs: DataFrame) -> DataFrame:
    """Per-source simple linear regression (chars ~ tokens) in ONE
    distributed pass — the closed-form normal-equation fit every
    corpus-health dashboard runs to compare feeds: slope ≈ mean token
    length + separator overhead per source, r² ≈ how "regular" the
    feed's documents are (boilerplate-heavy feeds fit tighter). This
    is the canonical shape of distributed ML-lite at 100 TB: sufficient
    statistics (n, Σx, Σy, Σx², Σy², Σxy) via one map-side-combined
    groupBy, model algebra on the O(groups) aggregate — no iteration,
    no collect, no second pass (contrast kmeans_train's k-pass loop).

    Exactness: x = whitespace token count, y = char length — both
    integers, so all six moments are EXACT decimal sums; they are cast
    to double once and slope/intercept/r² are computed with the
    identical expression tree on both engines (IEEE ops on identical
    doubles), rounded 6dp on emit. Degenerate sources (var(x) = 0)
    emit null slope/intercept/r² rather than ±inf.

    Returns (source, n_docs, slope, intercept, r2) ordered by source.
    """
    x = F.size(tokens_col()).cast("long")
    y = F.length("text").cast("long")
    base = docs.select("source", x.alias("_x"), y.alias("_y"))
    m = (base.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("_x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("_y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("_x") * F.col("_x")).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(DEC)).cast("double").alias("syy"),
        F.sum((F.col("_x") * F.col("_y")).cast(DEC)).cast("double").alias("sxy")))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / vx
    return (m.select(
        "source", F.col("n").cast("long").alias("n_docs"),
        F.when(vx > 0, F.round(slope, 6)).alias("slope"),
        F.when(vx > 0, F.round((F.col("sy") - slope * F.col("sx"))
                               / F.col("n"), 6)).alias("intercept"),
        F.when((vx > 0) & (vy > 0),
               F.round(cov * cov / (vx * vy), 6)).alias("r2"))
        .orderBy("source"))


LOGIT_ITERS = 3


def logit_quality_fit(docs: DataFrame) -> DataFrame:
    """Distributed logistic regression (Newton/IRLS, LOGIT_ITERS
    unrolled steps from w = 0): P(lang == 'en' | stopword_ratio) —
    the in-engine form of training a data-quality classifier, closing
    the model-training tier (source_ols_fit = linear, kmeans_train =
    clustering, this = classification).

    Scale shape (the kmeans_train pattern): each iteration is ONE
    map + aggregate over the fact producing five sufficient
    statistics (g0, g1 gradient; h00, h01, h11 Hessian); only this
    O(1) model state reaches the driver, which solves the 2x2 Newton
    system and embeds the new weights as literals in the next
    iteration's plan. Nothing pairwise, nothing per-row collected.

    Cross-engine exactness: every per-row term (built from exp(),
    which libm does NOT guarantee correctly rounded) is cast to
    DECIMAL(38,10) BEFORE summing — the cast truncates ulp-level
    libm disagreement below the kept digits and makes the sums
    order-insensitive; the Newton algebra then runs on bit-identical
    doubles (driver Python here, scalar CTE math in the oracle — both
    IEEE). Iteration 1 is exact by construction: w = 0 gives
    mu = 1/(1+exp(0)) = 0.5 and mu(1-mu) = 0.25 in any engine.
    """
    n_tok = F.size(tokens_col())
    n_stop = F.size(F.filter(tokens_col(), lambda t: t.isin(STOPWORDS)))
    x = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    y = (F.col("lang") == "en").cast("double")
    from ..functions.checkpoints import iter_checkpoint
    xy = iter_checkpoint(
        docs.select(x.alias("x"), y.alias("y")), eager=False)

    w0 = w1 = 0.0
    for _ in range(LOGIT_ITERS):
        z = F.lit(w0) + F.lit(w1) * F.col("x")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        s = mu * (F.lit(1.0) - mu)
        r = xy.agg(
            F.sum((F.col("y") - mu).cast(DEC)).alias("g0"),
            F.sum((F.col("x") * (F.col("y") - mu)).cast(DEC)).alias("g1"),
            F.sum(s.cast(DEC)).alias("h00"),
            F.sum((F.col("x") * s).cast(DEC)).alias("h01"),
            F.sum((F.col("x") * F.col("x") * s).cast(DEC)).alias("h11"),
        ).collect()[0]
        if r["g0"] is None:
            # empty corpus: aggregates are NULL — keep w = 0 (the
            # final select still emits one row with n_docs = 0)
            break
        g0, g1 = float(r["g0"]), float(r["g1"])
        h00, h01, h11 = float(r["h00"]), float(r["h01"]), float(r["h11"])
        det = h00 * h11 - h01 * h01
        if det == 0.0:
            # rank-1 Hessian (e.g. constant stopword_ratio): the 2x2
            # Newton system is singular — stop, keep current weights
            # instead of emitting inf/NaN. The oracle's unrolled CTEs
            # would need the same guard if a degenerate corpus ever
            # enters the verified window (harness corpora are not).
            break
        w0 = w0 + (h11 * g0 - h01 * g1) / det
        w1 = w1 + (h00 * g1 - h01 * g0) / det

    z = F.lit(w0) + F.lit(w1) * F.col("x")
    mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    ll_term = -(F.col("y") * F.log(mu)
                + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - mu))
    return (xy.agg(F.sum(ll_term.cast(DEC)).alias("_ll"),
                   F.count(F.lit(1)).alias("n_docs"))
            .select(F.round(F.lit(w0), 6).alias("w0"),
                    F.round(F.lit(w1), 6).alias("w1"),
                    F.round((F.col("_ll").cast("double")
                             / F.col("n_docs").cast("double")), 6)
                     .alias("mean_log_loss"),
                    F.col("n_docs").cast("long").alias("n_docs")))


ZIPF_TOP_K = 1000


def zipf_fit(docs: DataFrame, k: int = ZIPF_TOP_K) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency HEAD: OLS of
    ln(count) on ln(rank) for the top-k words — slope ≈ −s (the Zipf
    exponent, ~−1 for natural language), r² = how Zipfian the feed
    is. Training pipelines track this per snapshot: a slope drifting
    toward 0 means templated/boilerplate injection; r² collapsing
    means synthetic or shuffled text.

    Scale shape: word counts are one map-side-combined shuffle
    (vocab-sized); the fit runs on the TOP-K head only, selected with
    a global top-k (TakeOrderedAndProject — scale-safe), never a
    vocab-wide rank window (a row_number over 10⁸ distinct words
    would SinglePartition the vocabulary; Zipf behavior is a
    head-of-distribution property anyway). Rank is then a window over
    k = 1000 broadcast-sized rows. Moments are the source_ols_fit
    sufficient-statistics shape: exact DECIMAL(38,10) sums of
    roundtripped ln values (each libm output quantized through
    decimal BEFORE any sum/product — the repo's libm rule), model
    algebra on the 1-row aggregate.

    Returns 1 row (n_words, slope, intercept, r2), rounded 6dp.
    """
    from pyspark.sql import Window as W
    wc = (docs.select(F.explode(tokens_col()).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    head = wc.orderBy(F.desc("cnt"), F.asc("w")).limit(k)
    rank = F.row_number().over(
        W.partitionBy(F.lit(1)).orderBy(F.desc("cnt"), F.asc("w")))
    # ln through the decimal roundtrip so both engines sum/multiply
    # the IDENTICAL quantized doubles (libm last-ulp rule)
    lx = (F.log(F.col("rank").cast("double"))
          .cast(DEC).cast("double"))
    ly = (F.log(F.col("cnt").cast("double"))
          .cast(DEC).cast("double"))
    pts = (head.withColumn("rank", rank)
           .select(lx.alias("_x"), ly.alias("_y")))
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("_x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("_y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("_x") * F.col("_x")).cast(DEC)).cast("double")
         .alias("sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(DEC)).cast("double")
         .alias("syy"),
        F.sum((F.col("_x") * F.col("_y")).cast(DEC)).cast("double")
         .alias("sxy"))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / vx
    return m.select(
        F.col("n").cast("long").alias("n_words"),
        F.when(vx > 0, F.round(slope, 6)).alias("slope"),
        F.when(vx > 0, F.round((F.col("sy") - slope * F.col("sx"))
                               / F.col("n"), 6)).alias("intercept"),
        F.when((vx > 0) & (vy > 0),
               F.round(cov * cov / (vx * vy), 6)).alias("r2"))


def source_js_divergence(docs: DataFrame) -> DataFrame:
    """Jensen–Shannon divergence between every pair of per-source
    word distributions — the standard corpus-mixture drift metric
    (symmetric, bounded by ln 2): JSD(P‖Q) = ½Σ P·ln(P/M) +
    ½Σ Q·ln(Q/M), M = (P+Q)/2. Pipelines alert on a feed whose JSD
    vs its historical self (or vs the blend) jumps.

    Exactness: with P = c_a/N_a and Q = c_b/N_b the ln argument for a
    SHARED word reduces to the integer ratio 2·c_a·N_b /
    (c_a·N_b + c_b·N_a) — both engines divide the identical exact
    integers (≤ 10⁹·10⁹ « 2⁶³, no overflow at any realistic per-word
    count), take one libm ln, and roundtrip it through
    DECIMAL(38,10); each term is prob · ln_arg (two exact-input IEEE
    ops) decimal-summed. Words EXCLUSIVE to one source contribute
    prob·ln 2 in closed form — Σ_exclusive c is the integer
    N_a − Σ_shared c_a, so the whole exclusive mass costs one
    subtraction instead of an anti-join.

    Scale shape: word counts per (source, word) = one map-side-
    combined shuffle; the pair join keys on word (vocab-sized rows,
    |sources|² fan-out per word where sources is a handful); totals
    broadcast. No all-pairs doc work — JSD is a distribution-level
    statistic.

    Returns (source_a, source_b, n_shared_words, jsd, jsd_norm)
    ordered, jsd_norm = jsd/ln 2 ∈ [0, 1], rounded 6dp — one row for
    EVERY unordered source pair (r9, ADVICE r8): pairs sharing zero
    words — exactly the maximal-divergence feeds a drift alert cares
    about — are emitted explicitly with n_shared_words = 0 and the
    closed-form disjoint value jsd = ln 2 (jsd_norm = 1.0), via a
    cross join of the (handful-sized) source list left-joined onto
    the shared-word scores.
    """
    from ..functions.checkpoints import iter_checkpoint
    # materialize the (source, word) count table once: it feeds both
    # pair sides AND the totals (4 lineage branches — the kn_lm_score
    # lesson: Spark does not share subplans across DataFrame branches,
    # so the fact-sized explode+shuffle would re-run per branch)
    wc = iter_checkpoint(
        docs.select("source", F.explode(tokens_col()).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).alias("cnt")),
        eager=True)
    tot = wc.groupBy("source").agg(F.sum("cnt").alias("n_tok"))
    a = (wc.join(tot, "source")
         .select(F.col("source").alias("source_a"), "w",
                 F.col("cnt").alias("_ca"), F.col("n_tok").alias("_na")))
    b = (wc.join(tot, "source")
         .select(F.col("source").alias("source_b"), "w",
                 F.col("cnt").alias("_cb"), F.col("n_tok").alias("_nb")))
    ln2 = F.log(F.lit(2.0)).cast(DEC).cast("double")
    arg_a = ((2 * F.col("_ca") * F.col("_nb")).cast("double")
             / (F.col("_ca") * F.col("_nb")
                + F.col("_cb") * F.col("_na")).cast("double"))
    arg_b = ((2 * F.col("_cb") * F.col("_na")).cast("double")
             / (F.col("_ca") * F.col("_nb")
                + F.col("_cb") * F.col("_na")).cast("double"))
    term_a = ((F.col("_ca").cast("double") / F.col("_na").cast("double"))
              * F.log(arg_a).cast(DEC).cast("double"))
    term_b = ((F.col("_cb").cast("double") / F.col("_nb").cast("double"))
              * F.log(arg_b).cast(DEC).cast("double"))
    shared = (a.join(b, "w")
              .filter(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared_words"),
                   F.sum(term_a.cast(DEC)).alias("_sa"),
                   F.sum(term_b.cast(DEC)).alias("_sb"),
                   F.sum("_ca").alias("_ma"),       # shared mass in a
                   F.sum("_cb").alias("_mb"),       # shared mass in b
                   F.first("_na").alias("_ta"),
                   F.first("_nb").alias("_tb")))
    excl_a = ((F.col("_ta") - F.col("_ma")).cast("double")
              / F.col("_ta").cast("double")) * ln2
    excl_b = ((F.col("_tb") - F.col("_mb")).cast("double")
              / F.col("_tb").cast("double")) * ln2
    jsd = 0.5 * (F.col("_sa").cast("double") + excl_a) \
        + 0.5 * (F.col("_sb").cast("double") + excl_b)
    scored = shared.select(
        "source_a", "source_b", "n_shared_words",
        F.round(jsd, 6).alias("jsd"),
        F.round(jsd / ln2, 6).alias("jsd_norm"))
    srcs = tot.select("source")
    allp = (srcs.select(F.col("source").alias("source_a"))
            .crossJoin(F.broadcast(
                srcs.select(F.col("source").alias("source_b"))))
            .filter(F.col("source_a") < F.col("source_b")))
    return (allp.join(scored, ["source_a", "source_b"], "left")
            .select("source_a", "source_b",
                    F.coalesce("n_shared_words",
                               F.lit(0).cast("long"))
                     .alias("n_shared_words"),
                    F.coalesce("jsd", F.round(ln2, 6)).alias("jsd"),
                    F.coalesce("jsd_norm", F.lit(1.0))
                     .alias("jsd_norm"))
            .orderBy("source_a", "source_b"))


def quantile_normalize(docs: DataFrame) -> DataFrame:
    """Cross-source quantile normalization of the quality score — the
    calibration step before a GLOBAL quality threshold: each source's
    scores are mapped onto the corpus-wide score distribution so one
    cut keeps the same per-source fraction regardless of how lenient
    each source's raw scorer runs (the microarray quantile-norm
    recipe applied to corpus curation):

      r   = (rank_s − 1)/(n_s − 1)   within-source percent rank
                                     (RANK ties; 0 for 1-doc sources)
      pos = r · (N − 1);  lo = ⌊pos⌋;  frac = pos − lo
      qn  = v[lo] + frac · (v[lo+1] − v[lo])   linear interpolation
            over the GLOBAL sorted score array v

    Scale shape: NO global or per-source single-task window — both
    the within-source row numbers and the global sorted index come
    from packing.ranged_cumsum (the two-pass distributed prefix sum:
    range-partition, partition-local window, broadcast offsets), so
    every stage is bounded by partition size, not source/corpus size.
    Tie-collapse to RANK is a (source, score)-keyed min aggregate;
    the interpolation is two idx-keyed joins against the global
    index frame. The shared base frame is checkpointed (3 branches).

    Exactness: r is one double divide of exact integers; pos/frac/qn
    are the SAME IEEE op tree on both engines (mul, floor, sub,
    fused as v_lo + frac·(v_hi − v_lo)); the quality score itself is
    the established exact-ratio arithmetic of quality_score. Emitted
    r and qn are round-6 display of unrounded internals.

    Returns (doc_id, source, quality, src_rank_pct, quality_qn)
    ordered by doc_id."""
    from ..functions.checkpoints import iter_checkpoint
    from .packing import ranged_cumsum
    base = iter_checkpoint(
        docs.select("doc_id", "source")
            .join(quality_score(docs).select("doc_id", "quality"),
                  "doc_id")
            .withColumn("_one", F.lit(1)),
        eager=False)
    rn = iter_checkpoint(
        ranged_cumsum(base, "_one", ["quality", "doc_id"],
                      group_cols=["source"]),
        eager=False)
    rank = (rn.groupBy("source", "quality")
            .agg(F.min("_cum").alias("_rk")))
    ns = base.groupBy("source").agg(F.count(F.lit(1)).alias("_ns"))
    glob = (ranged_cumsum(base.select("doc_id", "quality", "_one"),
                          "_one", ["quality", "doc_id"])
            .select(F.col("_cum").alias("_idx"),
                    F.col("quality").alias("_gv")))
    nn = base.agg(F.count(F.lit(1)).alias("_nn"))
    r = F.when(F.col("_ns") > 1,
               (F.col("_rk") - 1).cast("double")
               / (F.col("_ns") - 1).cast("double")).otherwise(0.0)
    scored = (rn.join(rank, ["source", "quality"])
              .join(F.broadcast(ns), "source")
              .crossJoin(F.broadcast(nn))
              .withColumn("_r", r)
              .withColumn("_pos", F.col("_r") * (F.col("_nn") - 1))
              .withColumn("_lo", F.floor("_pos").cast("bigint"))
              .withColumn("_frac", F.col("_pos") - F.floor("_pos")))
    glo = glob.select(F.col("_idx").alias("_ilo"),
                      F.col("_gv").alias("_vlo"))
    ghi = glob.select(F.col("_idx").alias("_ihi"),
                      F.col("_gv").alias("_vhi"))
    return (scored
            .join(glo, scored._lo + 1 == glo._ilo)
            .join(ghi, scored._lo + 2 == ghi._ihi, "left")
            .select("doc_id", "source", "quality",
                    F.round("_r", 6).alias("src_rank_pct"),
                    F.round(F.col("_vlo")
                            + F.col("_frac")
                            * (F.coalesce("_vhi", "_vlo")
                               - F.col("_vlo")), 6)
                     .alias("quality_qn"))
            .orderBy("doc_id"))


DSIR_BUCKETS = 4096    # hashed-feature dimensionality (Xie et al.)
DSIR_TARGET_LANG = "en"


def dsir_tokens(docs: DataFrame, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(doc_id, lang, b): hashed-unigram bucket stream, checkpointed
    — it feeds the model counts AND the scoring pass (the r9
    multi-consumer rule). sha256 buckets are bit-identical
    cross-engine (the minhash convention)."""
    from ..functions.checkpoints import iter_checkpoint
    return iter_checkpoint(
        docs.select("doc_id", "lang",
                    F.explode(tokens_col()).alias("w"))
            .filter(F.col("w") != "")
            .select("doc_id", "lang",
                    (F.conv(F.substring(F.sha2(F.col("w"), 256), 1, 8),
                            16, 10).cast("bigint")
                     % n_buckets).alias("b")),
        eager=True)


def dsir_model(toks: DataFrame, n_buckets: int = DSIR_BUCKETS,
               target_lang: str = DSIR_TARGET_LANG):
    """The DSIR bucket model from a token stream: (b, _lnr) with
    add-one-smoothed ln(p_tgt/p_raw) per occurring bucket, plus the
    1-row totals frame whose closed-form DEFAULT
    ln((N_raw+B)/(N_tgt+B)) scores buckets the model never saw
    (c_t = c_r = 0) — needed when scoring DELTA documents against a
    corpus-built model. Returns (model, totals)."""
    cr = toks.groupBy("b").agg(F.count(F.lit(1)).alias("_cr"))
    ct = (toks.filter(F.col("lang") == target_lang)
          .groupBy("b").agg(F.count(F.lit(1)).alias("_ct")))
    tot = (toks.agg(
        F.count(F.lit(1)).alias("_nr"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0))
         .alias("_nt")))
    model = (cr.join(ct, "b", "left")
             .crossJoin(F.broadcast(tot))
             .select("b", F.log(
                 ((F.coalesce(F.col("_ct"), F.lit(0)) + 1)
                  * (F.col("_nr") + n_buckets)).cast("double")
                 / ((F.col("_cr") + 1)
                    * (F.col("_nt") + n_buckets)).cast("double"))
                 .cast(DEC).alias("_lnr")))
    return model, tot


def dsir_weights(docs: DataFrame, n_buckets: int = DSIR_BUCKETS,
                 target_lang: str = DSIR_TARGET_LANG) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling — Xie et al., NeurIPS 2023): score every raw document
    by how much its hashed-n-gram features look like a TARGET domain
    (here the `target_lang` slice) versus the raw corpus, the
    standard pretraining-data selection signal:

      bucket(w) = sha256(w)[0:32 bits] mod B     (hashed unigrams)
      w(doc)    = Σ_{tokens w} ln( p_tgt(b(w)) / p_raw(b(w)) )

    with add-one smoothing: p(b) = (c(b)+1)/(N+B). A resampler then
    keeps docs ∝ exp(w) — emitted here as the per-doc log-weight.

    Scale shape: the token explode is ONE map-side-combined shuffle
    into (bucket) counts; the bucket model (B rows: ln-ratio per
    bucket) is broadcast back onto the token stream, so the scoring
    pass is shuffle-free per token and aggregates per doc with
    map-side combine. Model state is O(B), never corpus-sized — at
    100 TB the only fact-sized exchanges are the two token
    aggregations. The token frame is checkpointed (4 branches:
    target counts, raw counts, totals, scoring — the r9 lesson).

    Exactness: the ln argument is the exact INTEGER ratio
    (c_t+1)·(N_raw+B) / ((c_r+1)·(N_tgt+B)) (both engines divide the
    identical exact BIGINTs — products ≤ ~10¹⁴ at sf0.1, overflow at
    ~10¹⁸ token-count·corpus products, far beyond any realistic
    corpus's per-bucket counts); one libm ln, DECIMAL(38,10)
    roundtrip, per-doc exact decimal sum, round 6 (the
    source_js_divergence convention). sha256 bucket ids are
    bit-identical cross-engine (the minhash convention).
    """
    toks = dsir_tokens(docs, n_buckets)
    model, _ = dsir_model(toks, n_buckets, target_lang)
    return (toks.join(F.broadcast(model), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum("_lnr").cast("double"), 6)
                  .alias("dsir_logweight"))
            .orderBy("doc_id"))


QLM_MU = 2000          # Dirichlet smoothing mass (Zhai & Lafferty '01)
RRF_K = 60             # reciprocal-rank-fusion constant (Cormack '09)
RRF_TOPK = 10


def qlm_search(docs: DataFrame, query: tuple = BM25_QUERY,
               mu: int = QLM_MU, k: int = BM25_TOPK) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet
    smoothing (Zhai & Lafferty SIGIR'01) — the second classic lexical
    ranker next to bm25_search, and the probabilistic complement a
    fusion stage wants:

      score(d) = Σ_{t∈Q} ln( (c_td + μ·cf_t/N) / (dl + μ) )

    Scale shape (bm25_search's): per-doc dl and per-term tf come
    row-locally from the token array — no explode; cf_t and N reduce
    in ONE global aggregate broadcast back; the score is a per-row
    expression; top-k via TakeOrderedAndProject.

    Determinism: with integer μ the ln argument reduces to the exact
    integer ratio (c_td·N + μ·cf_t) / (N·(dl + μ)) (products ≤ ~10¹⁷
    even at 100 TB-scale token counts — inside int64); each ln is
    roundtripped through DECIMAL(38,10) (libm rule) and the Σ over
    the fixed query tuple is a left-to-right chain of the identical
    doubles on both engines. Rounded 6dp; order (score DESC, doc_id).
    """
    toks = F.col("_toks")
    per = docs.select(
        "doc_id",
        tokens_col().alias("_toks")).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[F.size(F.filter(toks, (lambda qq: lambda t: t == F.lit(qq))(q)))
           .cast("long").alias(f"tf_{q}") for q in query])
    g = per.agg(
        F.sum("dl").cast("long").alias("n_tok"),
        *[F.sum(f"tf_{q}").cast("long").alias(f"cf_{q}") for q in query])
    score = None
    for q in query:
        tf, cf = F.col(f"tf_{q}"), F.col(f"cf_{q}")
        num = (tf * F.col("n_tok") + mu * cf).cast("double")
        den = (F.col("n_tok") * (F.col("dl") + mu)).cast("double")
        term = F.log(num / den).cast(DEC).cast("double")
        score = term if score is None else score + term
    return (per.crossJoin(F.broadcast(g))
            .select("doc_id", "dl",
                    *[f"tf_{q}" for q in query],
                    F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def rrf_fusion(docs: DataFrame, query: tuple = BM25_QUERY,
               rrf_k: int = RRF_K, k: int = RRF_TOPK) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09) of
    the two lexical rankers — BM25 and Dirichlet query-likelihood —
    the standard zero-tuning way to combine retrieval lists a data-
    curation search stage uses:

      rrf(d) = Σ_lists 1/(rrf_k + rank_list(d)),  missing list → 0

    Determinism: both input lists carry ROUNDED scores with
    (score DESC, doc_id ASC) total order, so ranks are identical
    integers across engines; each 1/(60+r) is one exact-input IEEE
    division and the fusion is a fixed two-term add; ties in rrf
    break by doc_id. Ordering uses the UNROUNDED fusion value (bit-
    identical), the emitted value is rounded 6dp.

    Scale shape: both rankers are 1-row-aggregate + top-k plans; the
    fusion ranks two k-row frames (trivial windows), full-outer-joins
    them on doc_id, and cuts the head — model-sized end to end.
    """
    from pyspark.sql import Window as W
    wb = W.partitionBy(F.lit(1)).orderBy(F.desc("score"), F.asc("doc_id"))
    bm = (bm25_search(docs, query=query)
          .select("doc_id", F.row_number().over(wb).alias("_rb")))
    ql = (qlm_search(docs, query=query)
          .select("doc_id", F.row_number().over(wb).alias("_rq")))
    rrf = (F.coalesce(F.lit(1.0) / (rrf_k + F.col("_rb")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (rrf_k + F.col("_rq")), F.lit(0.0)))
    return (bm.join(ql, "doc_id", "full_outer")
            .select("doc_id", "_rb", "_rq", rrf.alias("_rrf"))
            .orderBy(F.desc("_rrf"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id",
                    F.col("_rb").cast("long").alias("bm25_rank"),
                    F.col("_rq").cast("long").alias("qlm_rank"),
                    F.round("_rrf", 6).alias("rrf_score")))

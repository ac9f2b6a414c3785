"""Text-analysis operators: token stats, language ID, quality, fingerprint.

Everything here is built-in string/array expressions (whole-stage codegen);
no Python in the hot path. Inputs: the driver ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from alphalens_spark.scale.dedup import _tokens
from alphalens_spark.session import checkpoint

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is"]


def unigram_bigram_features(text_col: str = "text") -> F.Column:
    """Whitespace unigrams + word-bigram strings as ONE array column —
    the shared feature unit of the hashed quality classifier and DSIR.
    (``sequence(1, 0)`` would DESCEND in Spark, so 1-token docs emit an
    empty bigram array.)"""
    toks = _tokens(text_col)
    n_tok = F.size(toks)
    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character/token/distinct-token counts per document."""
    toks = _tokens(text_col)
    return docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_measured"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def stopword_language_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    threshold: float = 0.10,
) -> DataFrame:
    """Stopword-ratio language heuristic.

    Counts token occurrences that are English stopwords; ratio above
    ``threshold`` → 'en'. (A production n-gram profile model slots in the
    same shape: per-language hit counts → argmax.)
    """
    sw = stopwords or STOPWORDS_EN
    toks = _tokens(text_col)
    sw_arr = F.array(*[F.lit(s) for s in sw])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    n_tok = F.size(toks)
    ratio = n_stop.cast("double") / F.nullif(n_tok.cast("double"), F.lit(0.0))
    return docs.select(
        F.col(id_col),
        F.col("lang"),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        ratio.alias("stopword_ratio"),
        F.when(ratio > threshold, F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    )


def quality_feature_columns(text_col: str = "text") -> dict[str, F.Column]:
    """The quality rubric as raw Columns — single-sourced so composites
    (``pretraining_funnel``'s one-pass flags) compute the IDENTICAL
    score/token-count expressions as :func:`quality_score` without a
    second scan or an id-key join back onto the corpus."""
    toks = _tokens(text_col)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(text_col).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)) / F.nullif(n_tok, F.lit(0.0))
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
        / F.nullif(n_tok, F.lit(0.0))
    )
    non_alnum = (
        F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
        / F.nullif(n_chars, F.lit(0.0))
    )
    mean_tok_len = (n_chars - (n_tok - 1)) / F.nullif(n_tok, F.lit(0.0))
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_tok_len >= 2) & (mean_tok_len <= 12), 0.25).otherwise(0.0)
        + F.when(distinct_ratio >= 0.2, 0.25).otherwise(0.0)
        + F.when(non_alnum <= 0.3, 0.25).otherwise(0.0)
    )
    return {
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": mean_tok_len,
        "distinct_token_ratio": distinct_ratio,
        "stopword_ratio": stop_ratio,
        "non_alnum_ratio": non_alnum,
        "quality_score": score,
    }


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + composite score.

    length, mean token length, distinct-token ratio, stopword ratio,
    non-alphanumeric ratio — the standard cheap pre-filter features of an
    LLM data pipeline (cf. C4/Gopher-style rules), all as one projection.
    """
    c = quality_feature_columns(text_col)
    return docs.select(
        F.col(id_col),
        c["n_tokens"].alias("n_tokens"),
        c["mean_token_len"].alias("mean_token_len"),
        c["distinct_token_ratio"].alias("distinct_token_ratio"),
        c["stopword_ratio"].alias("stopword_ratio"),
        c["non_alnum_ratio"].alias("non_alnum_ratio"),
        c["quality_score"].alias("quality_score"),
    )


def token_count_bpe_ish(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Approximate BPE token count: word pieces + digit/punct splits.

    A GPT-style tokenizer averages ~4 chars/token on English; the standard
    cheap estimator splits on the word/digit/punctuation boundary regex
    and adds a length-based correction for long words.
    """
    # \w+|[^\w\s]: word runs or single punctuation — RE2-compatible (no
    # lookaround), so the DuckDB oracle can evaluate the identical pattern
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0)
    extra = F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, wd: acc + F.floor(F.length(wd) / F.lit(8)).cast("int"),
    )
    return docs.select(
        F.col(id_col),
        (F.size(pieces) + extra).alias("est_bpe_tokens"),
    )


def rolling_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over char windows.

    The minimum of a rolling window hash is a robust content fingerprint
    (same idea as MOSS winnowing with w = chunk size). ``hash_fn="md5"``
    (60-bit md5 reduction) is cross-engine reproducible — the
    DuckDB-oracle path; xxhash64 is the fast JVM default.
    """
    from alphalens_spark.scale.dedup import md5_long

    t = F.lower(F.trim(F.col(text_col)))
    n = F.greatest(F.length(t) - (window - 1), F.lit(1))
    if hash_fn == "md5":
        h = lambda i: md5_long(t.substr(i, F.lit(window)), 15)  # noqa: E731
    elif hash_fn == "xxhash64":
        h = lambda i: F.xxhash64(t.substr(i, F.lit(window)))  # noqa: E731
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashes = F.transform(F.sequence(F.lit(1), n), h)
    return docs.select(F.col(id_col), F.array_min(hashes).alias("fingerprint"))


# RE2-compatible (no lookaround) so the DuckDB oracle evaluates the
# identical patterns; applied email-first so a phone-like digit run inside
# an already-redacted token can't double-match.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub email / phone-shaped spans before training (the standard
    cheap PII pass of an LLM data pipeline). Pure codegen regexp ops —
    counts come from regexp_extract_all on the ORIGINAL text, the
    replacement runs in the same projection.

    Output: (id, clean_text, n_emails, n_phones).
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0))
    cleaned = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(cleaned, F.lit(PII_PHONE), 0))
    cleaned = F.regexp_replace(cleaned, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        cleaned.alias("clean_text"),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mod: int = 1_000_000,
) -> DataFrame:
    """Deterministic quality-first sampling to a token budget — the data-
    mixing primitive of a training pipeline ("take the best ~N tokens").

    Scale design: NO global sort. quality_score is a discrete rubric
    (5 values), so bucket totals are a ≤5-row aggregate; whole buckets
    above the boundary are kept, and the boundary bucket is thinned with
    an integer hash threshold — keep iff
    ``md5(doc_id) % hash_mod < (remaining·hash_mod) DIV bucket_tokens`` —
    which is (a) deterministic, (b) engine-reproducible in exact integer
    arithmetic (no float compare at the boundary), and (c) embarrassingly
    parallel: every executor decides membership from the doc id alone.
    The sampled token mass lands within one hash-granule of the budget
    rather than exactly on it — that is the correct 100 TB trade; an
    exact prefix would force a global ordered scan.

    Output: (id, n_tokens, quality_score) of the kept documents.
    """
    q = quality_score(docs, text_col, id_col).select(
        id_col, "n_tokens", "quality_score"
    )
    return q.where(budget_keep_condition(q, budget_tokens, id_col, hash_mod))


def budget_keep_condition(
    q: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    hash_mod: int = 1_000_000,
) -> F.Column:
    """The quality-first token-budget keep rule of
    :func:`token_budget_sample` as a reusable Column over a
    ``(id, n_tokens, quality_score)`` frame — so composites
    (``pretraining_funnel``) can flag membership in-plan instead of
    semi-joining the sampled frame back. Runs the ≤5-row bucket-total
    aggregate of ``q`` eagerly (driver-side collect, bounded by the
    discrete rubric's value count)."""
    from alphalens_spark.scale.dedup import md5_long

    buckets = sorted(
        (
            (r["quality_score"], r["t"])
            for r in q.groupBy("quality_score")
            .agg(F.sum("n_tokens").alias("t"))
            .collect()
        ),
        key=lambda x: -x[0],
    )
    keep_full: list[float] = []
    boundary: tuple[float, int, int] | None = None  # (score, thresh, bucket_t)
    remaining = int(budget_tokens)
    for score, t in buckets:
        t = int(t)
        if t <= remaining:
            keep_full.append(score)
            remaining -= t
        else:
            if remaining > 0:
                boundary = (score, (remaining * hash_mod) // t, t)
            break
    cond = F.col("quality_score").isin(keep_full) if keep_full else F.lit(False)
    if boundary is not None:
        score, thresh, _ = boundary
        hfrac = F.pmod(md5_long(F.col(id_col).cast("string"), 15), F.lit(hash_mod))
        cond = cond | ((F.col("quality_score") == score) & (hfrac < thresh))
    return cond


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 + TF-IDF relevance of every document for a fixed term set
    (Robertson/Sparck-Jones probabilistic idf with Lucene's +1 floor) —
    the retrieval primitive of a corpus-curation pipeline (keyword
    filtering, topical subset selection).

    Plan shape for 100 TB (round-9 fused form): the per-document tf of
    every query term is computed IN-ROW (|terms| array filters over one
    materialized token array — |terms| is a fixed small list), so no
    (doc, term) relation is ever exploded or shuffled. The corpus stats
    the formula needs — N, avgdl, and df per term — all collapse into
    ONE 1-row aggregate (df_t = count of docs with tf_t > 0), which
    broadcasts back over the same projection via crossJoin; scoring is
    then a pure per-row map. Two corpus scans total (stats + scoring),
    ZERO joins on doc id, zero data-sized exchanges, and no persist —
    the round-8 persist of the (id, dl, terms) projection saved two
    scans but its cache-fill barrier measured ~2x slower at sf0.1
    (driver bench 0.17→0.50 s; VERDICT r08 item 1) and caches a
    corpus-sized frame at 100 TB. Paired same-JVM A/B of the three
    forms (r07 4-scan join, r08 persist, this): fused fastest on every
    pair, output hash-identical.

    Output: (id, n_terms_matched, bm25, tfidf) for every document,
    zeros when no term occurs.
    """
    toks = _tokens(text_col)
    terms_sorted = sorted(set(terms))
    term_arr = F.array(*[F.lit(t) for t in terms_sorted])
    # two-step select: materialize the token array once per row so the
    # per-term tf filters reference it instead of re-running the split
    # |terms| times (CollapseProject keeps multi-referenced non-cheap
    # aliases un-inlined)
    proj = docs.select(F.col(id_col), toks.alias("_tk")).select(
        F.col(id_col),
        F.size("_tk").alias("dl"),
        F.transform(
            term_arr,
            lambda t: F.size(F.filter(F.col("_tk"), lambda w: w == t)),
        ).alias("tfs"),
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.array(
            *[
                F.sum(F.when(F.col("tfs")[i] > 0, 1).otherwise(0))
                for i in range(len(terms_sorted))
            ]
        ).alias("dfs"),
    )
    tf_i = lambda i: F.col("tfs")[i]  # noqa: E731
    df_i = lambda i: F.col("dfs")[i]  # noqa: E731
    # identical formulas to the former per-(doc, term)-row aggregation,
    # summed over the fixed term index instead of grouped rows; terms
    # with tf = 0 are excluded exactly as the explode form excluded them
    idf_i = lambda i: F.log(  # noqa: E731
        (F.col("n_docs") - df_i(i) + 0.5) / (df_i(i) + 0.5) + 1.0
    )
    denom_i = lambda i: tf_i(i) + k1 * (  # noqa: E731
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    idx = F.sequence(F.lit(0), F.lit(len(terms_sorted) - 1))
    matched = F.filter(idx, lambda i: tf_i(i) > 0)
    bm25 = F.aggregate(
        matched,
        F.lit(0.0),
        lambda acc, i: acc + idf_i(i) * tf_i(i) * (k1 + 1.0) / denom_i(i),
    )
    tfidf = F.aggregate(
        matched,
        F.lit(0.0),
        lambda acc, i: acc + tf_i(i) * F.log(F.col("n_docs") / df_i(i)),
    )
    return proj.crossJoin(F.broadcast(stats)).select(
        id_col,
        F.size(matched).cast("long").alias("n_terms_matched"),
        F.round(bm25, 6).alias("bm25"),
        F.round(tfidf, 6).alias("tfidf"),
    )


def unigram_cross_entropy(
    docs: DataFrame,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM — the
    engine-native stand-in for CCNet-style LM-perplexity quality scoring
    (Wenzek et al. 2020 score against KenLM; with no model artifact in a
    pure-SQL pipeline, the corpus unigram distribution with add-k
    smoothing is the deterministic analogue: gibberish and
    rare-token-soup documents score high, templated text scores low).

    One corpus scan: the (doc, token) tf aggregation is materialized
    once (:func:`~alphalens_spark.session.checkpoint`, so calling this
    runs that job and leaves no cache behind) and everything else
    derives from it. Corpus counts
    attach via an unordered count window over the token partition
    (c_w = Σ tf over the token's rows — the tfidf_top_terms df lesson:
    the groupBy + join-back form referenced the exploded-token subtree
    once per consumer, re-scanning the corpus three times), and the
    (total, |V|) scalars are one 1-row broadcast aggregate off the same
    frame. P(w) = (c_w + k) / (total + k*|V|).
    Output: (id, n_tokens, cross_entropy) with cross-entropy in
    nats/token.
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("t"))
    # read by the cw window, totals and scoring
    tf = checkpoint(toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf")))
    totals = tf.agg(
        F.sum("tf").alias("total"), F.count_distinct(F.col("t")).alias("vocab")
    )
    logp = F.log(
        (F.col("cw") + F.lit(smoothing))
        / (F.col("total") + F.lit(smoothing) * F.col("vocab"))
    )
    scored = (
        tf.withColumn("cw", F.sum("tf").over(Window.partitionBy("t")))
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            (-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("ce"),
        )
    )
    return scored.select(
        id_col, "n_tokens", F.round("ce", 6).alias("cross_entropy")
    )


def classifier_weights(n_buckets: int = 64, seed: int = 7) -> list[float]:
    """Seeded weight vector for :func:`hashed_linear_classifier` — exposed
    (like ``minhash_coeffs``) so a SQL oracle can embed identical
    literals. 6-dp decimals so the literal round-trips exactly through
    both engines' double parsers."""
    import random

    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(n_buckets)]


def hashed_linear_classifier(
    docs: DataFrame,
    weights: list[float] | None = None,
    bias: float = 0.05,
    n_buckets: int = 64,
    seed: int = 7,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE over hashed
    word n-gram features (Joulin et al. 2016, the shape of the GPT-3/
    LLaMA-era quality filters): unigrams + word bigrams → hash into
    ``n_buckets`` → mean of bucket weights + bias → sigmoid → keep/drop.

    Scale shape: a pure per-row projection — the weight table is a
    literal (broadcast-equivalent), there is NO shuffle and no join; at
    100 TB this is the embarrassingly-parallel map stage it should be.
    The per-token work is two interpreted-HOF passes (hash + lookup);
    unlike the 64-pass minhash case that forced a numpy escape
    (minhash_signatures docstring) this is one ``element_at`` per
    feature, measured ~0.2 s on sf0.1 documents. Features use the
    cross-engine md5 reduction so the whole score replays in ANSI SQL.

    Weights here are seeded stand-ins; swapping in trained fastText
    weights is a literal-array replacement (or a broadcast join for
    vocab-sized models) with the identical plan.

    Output: (id, n_features, logit, prob, keep).
    """
    from alphalens_spark.scale.dedup import md5_long

    w = weights if weights is not None else classifier_weights(n_buckets, seed)
    if len(w) != n_buckets:
        raise ValueError(f"need {n_buckets} weights, got {len(w)}")
    w_lit = F.array(*[F.lit(float(x)).cast("double") for x in w])

    feats = unigram_bigram_features(text_col)
    buckets = F.transform(feats, lambda t: F.pmod(md5_long(t, 15), F.lit(n_buckets)))
    sum_w = F.aggregate(
        buckets,
        F.lit(0.0).cast("double"),
        lambda acc, b: acc + F.element_at(w_lit, b.cast("int") + 1),
    )
    n_feats = F.size(feats)
    logit = sum_w / n_feats.cast("double") + F.lit(float(bias))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return docs.select(
        F.col(id_col),
        n_feats.alias("n_features"),
        logit.alias("logit"),
        prob.alias("prob"),
        # compare the ROUNDED prob so the boolean can't flake across
        # engines on a sub-6dp float difference
        (F.round(prob, 6) >= F.lit(float(threshold))).alias("keep"),
    )


def perplexity_buckets(
    docs: DataFrame,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020):
    per-SOURCE perplexity terciles over the LM quality score, low
    cross-entropy → 'head' (cleanest third), then 'middle' / 'tail'.
    CCNet buckets per language on KenLM perplexity; with the corpus
    unigram LM standing in (see :func:`unigram_cross_entropy`) the
    partitioning logic is identical.

    Scale shape: the tercile thresholds are a per-source aggregate (a
    handful of rows at any corpus size) broadcast back onto the scored
    documents — the big relation sees the two linear shuffles of the CE
    computation, one id-keyed linear join to re-attach the source column,
    and a broadcast-join projection for the thresholds.
    Threshold compares use 6-dp-rounded values on both sides so bucket
    labels cannot flake across engines on sub-rounding float noise.
    """
    ce = unigram_cross_entropy(docs, smoothing, text_col, id_col)
    # pin the scored frame (doc-sized, 4 narrow columns): both the
    # tercile aggregate and the bucket projection read it — unpinned,
    # the whole CE pipeline + source join re-planned under EACH (the
    # pre-round plan scanned documents 8 times; now 2: tokens + source)
    scored = checkpoint(
        ce.join(docs.select(F.col(id_col), F.col(source_col)), id_col)
    )
    thr = scored.groupBy(source_col).agg(
        F.round(
            F.percentile("cross_entropy", F.lit(1.0) / 3), 6
        ).alias("_t1"),
        F.round(
            F.percentile("cross_entropy", F.lit(2.0) / 3), 6
        ).alias("_t2"),
    )
    j = scored.join(F.broadcast(thr), source_col)
    bucket = (
        F.when(F.col("cross_entropy") <= F.col("_t1"), F.lit("head"))
        .when(F.col("cross_entropy") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return j.select(
        id_col,
        source_col,
        "n_tokens",
        "cross_entropy",
        F.col("_t1").alias("head_max_ce"),
        F.col("_t2").alias("middle_max_ce"),
        bucket.alias("bucket"),
    )


def bigram_cross_entropy(
    docs: DataFrame,
    lam: float = 0.7,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under an interpolated corpus BIGRAM LM —
    one modeling step up from :func:`unigram_cross_entropy` toward the
    KenLM scoring CCNet actually runs (Wenzek et al. 2020): templated /
    repetitive text that a unigram model cannot separate from fluent prose
    scores low here because its transitions are predictable.

    Model: position 1 scores ln P_uni(t1); positions i≥2 score
    ln(λ·P_bi(tᵢ|tᵢ₋₁) + (1−λ)·P_uni(tᵢ)) with MLE bigram probabilities
    (cb/ch — defined for every observed doc bigram since the corpus is the
    same docs) and add-k smoothed unigrams. Jelinek-Mercer interpolation,
    the standard backoff when the bigram table is sparse.

    Scale shape: one bigram explode feeds the checkpointed per-doc tf,
    and the corpus bigram / context-head counts attach to it via
    unordered integer-sum windows over the (prev, cur) and prev
    partitions (no join-back, no re-scan); the unigram table is a
    checkpointed vocabulary-sized relation joined on its key; the
    (total, vocab) scalar row joins broadcast. Both checkpoints run
    when this is called and leave no cache behind.
    """
    from pyspark.sql import Window

    ts = _tokens(text_col)
    base = docs.select(F.col(id_col), ts.alias("ts"))

    # unigram corpus (token → count) + scalar totals. Materialize the
    # vocabulary-sized count table: it feeds THREE consumers
    # (totals, the interpolation join, the first-token join) and each
    # re-planned the full token explode without it (the pre-round plan
    # scanned documents 8 times across this function).
    toks = base.select(id_col, F.explode("ts").alias("t"))
    uni = checkpoint(toks.groupBy("t").agg(F.count(F.lit(1)).alias("cw")))
    totals = uni.agg(F.sum("cw").alias("total"), F.count(F.lit(1)).alias("vocab"))
    k = F.lit(float(smoothing))
    p_uni = (F.col("cw") + k) / (F.col("total") + k * F.col("vocab"))

    # bigram stream → per-doc tf; corpus counts derive from tf (no
    # second explode)
    n_tok = F.size("ts")
    bi_arr = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tok - 1),
            lambda i: F.struct(
                F.element_at(F.col("ts"), i).alias("prev"),
                F.element_at(F.col("ts"), i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bi = base.select(id_col, F.explode(bi_arr).alias("bg")).select(
        id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )
    # materialize the (doc, bigram) tf once; the corpus bigram count and
    # the context-head count attach via unordered sum windows over the
    # (prev, cur) and prev partitions — sums of exact integers, so cb/ch
    # are bit-identical to the groupBy + join-back form they replace,
    # which referenced the tf_bi subtree three times (tfidf df lesson)
    tf_bi = checkpoint(
        bi.groupBy(id_col, "prev", "cur").agg(F.count(F.lit(1)).alias("tfb"))
    )
    lam_c = F.lit(float(lam))
    p_mix = lam_c * F.col("cb") / F.col("ch") + (F.lit(1.0) - lam_c) * p_uni
    part2 = (
        tf_bi.withColumn(
            "cb", F.sum("tfb").over(Window.partitionBy("prev", "cur"))
        )
        .withColumn("ch", F.sum("tfb").over(Window.partitionBy("prev")))
        .join(uni.withColumnRenamed("t", "cur"), "cur")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("tfb") * F.log(p_mix)).alias("_lp2"),
            F.sum("tfb").alias("_n2"),
        )
    )

    # first-token unigram term (split never yields an empty array, so
    # element_at(ts, 1) always exists)
    part1 = (
        base.select(id_col, F.size("ts").alias("n_tokens"), F.element_at("ts", 1).alias("t"))
        .join(uni, "t")
        .crossJoin(F.broadcast(totals))
        .select(id_col, "n_tokens", F.log(p_uni).alias("_lp1"))
    )

    out = part1.join(part2, id_col, "left")
    ce = -(F.col("_lp1") + F.coalesce("_lp2", F.lit(0.0))) / F.col("n_tokens")
    return out.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(ce, 6).alias("cross_entropy"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    n_top: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-n TF-IDF terms — the corpus-wide keyword
    primitive (topical tagging, cluster naming, near-dup explanation);
    the complement of :func:`bm25_scores`, which scores a FIXED term set
    instead of discovering each document's own.

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    strictly positive — the sklearn formulation); score = round(tf·idf,
    6); top n per document by (score desc, term asc).

    Plan shape: (doc, term) tf groupBy → df groupBy joined back on the
    term key → 1-row N broadcast → per-document window (PARTITIONED by
    doc — never a global sort). Every shuffle is keyed linearly; the
    vocabulary-sized df relation joins on its own key, so AQE picks the
    strategy by its real size.

    Output: (id, term, tf, df, tfidf, rnk).
    """
    from pyspark.sql import Window

    tf = (
        docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df(term) = rows of tf carrying that term, so an unordered count
    # window over the term partition attaches it in place. The groupBy +
    # join-back this replaces referenced the tf subtree TWICE — the
    # whole tokenize→explode→tf aggregation ran once per reference —
    # and then shuffled tf by term for the join anyway, which is the
    # same exchange the window needs (guide §2.4: two operations keyed
    # the same way share one exchange; one corpus scan instead of two).
    wdf = Window.partitionBy("term")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.lit(0.0) + F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= n_top)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency-ranked vocabulary with GLOBAL contiguous ids — the
    word2id table a tokenizer/embedding pipeline trains against.

    id = 1-based rank by (term count DESC, term ASC); ``min_df`` drops
    terms seen in fewer than that many documents; ``max_size`` truncates
    to the top ids. Output: (term, term_id, count, df).

    Scale note — global ranking WITHOUT a global window: terms are
    range-repartitioned on the rank key, ranked per partition, and
    shifted by per-partition offsets (the zipWithIndex pattern in pure
    DataFrame ops). The only unpartitioned window runs over ONE ROW PER
    PARTITION (≤ a few thousand rows at any scale), never over terms;
    every term-sized stage stays key-partitioned.
    """
    toks = _tokens(text_col)
    ex = docs.select(F.col(id_col).alias("_id"), F.explode(toks).alias("term"))
    counts = ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("count"),
        F.count_distinct(F.col("_id")).alias("df"),
    )
    if min_df > 1:
        counts = counts.where(F.col("df") >= min_df)

    # checkpoint: the offsets and the ranking must see the same
    # spark_partition_id(), which a re-run range shuffle could change
    ranked = checkpoint(
        counts.repartitionByRange(F.col("count").desc(), F.col("term").asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    # per-partition sizes -> cumulative offsets: bounded by the partition
    # count (the one legal unpartitioned window here)
    offsets = (
        ranked.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_sz"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_sz").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    w_in = Window.partitionBy("_pid").orderBy(F.col("count").desc(), F.col("term").asc())
    out = (
        ranked.withColumn("_rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "_pid")
        .select(
            "term",
            (F.col("_off") + F.col("_rn")).cast("long").alias("term_id"),
            "count",
            "df",
        )
    )
    if max_size is not None:
        out = out.where(F.col("term_id") <= max_size)
    return out


def encode_documents(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> DataFrame:
    """Encode each document as its vocabulary-id sequence (order
    preserved; out-of-vocabulary tokens become ``oov_id``) — the id
    stream a sequence-packing / training-data step consumes.

    posexplode keeps token order through the term-key join (ONE shuffle
    on term, linear in corpus tokens); per-doc reassembly is an
    array_sort over (pos, id) structs — bounded by document length.
    Output: (doc_id, encoded [space-joined ids], n_tokens, n_oov).
    """
    toks = _tokens(text_col)
    ex = docs.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "term")
    )
    joined = ex.join(vocab.select("term", "term_id"), "term", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.coalesce(F.col("term_id"), F.lit(oov_id)).alias(
                                    "tid"
                                ),
                            )
                        )
                    ),
                    lambda x: x["tid"].cast("string"),
                ),
                " ",
            ).alias("encoded"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("term_id").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent word
    pairs (Church & Hanks 1990), the classic signal for multi-word
    expressions — tokenizer-vocab seeding, stop-phrase discovery,
    keyphrase candidates.

    ``pmi = ln(P(ab) / (P(a)·P(b)))`` with P(ab) over the corpus bigram
    stream and P(a) over the unigram stream; ``npmi = pmi / −ln P(ab)``
    normalizes to [−1, 1] (Bouma 2009) so rankings compare across corpus
    sizes. ``min_count`` drops rare pairs (PMI's low-count pathology).

    Scale shape: one bigram explode → pair groupBy (map-side partials),
    one unigram explode → token groupBy, two linear equi-joins of pair
    rows onto the token marginals, totals as a 1-row broadcast. No
    pair appears that did not occur — this is a counting join, never a
    cross of the vocabulary.
    """
    ts = _tokens(text_col)
    # checkpoint: the bigram, unigram and total passes each re-planned
    # the corpus scan + tokenize uncut (guide §5)
    base = checkpoint(docs.select(ts.alias("_ts")))
    grams = F.when(
        F.size("_ts") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_ts") - 1),
            lambda i: F.struct(
                F.element_at("_ts", i).alias("w1"),
                F.element_at("_ts", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    pairs = (
        base.select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    # the w1 join, w2 join and total share the marginals' exchange
    uni = (
        base.select(F.explode("_ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    totals = uni.agg(F.sum("cw").alias("_nu"))
    # bigram total = Σ per-doc (len−1); count it exactly from the pair
    # stream BEFORE the min_count filter
    nb = (
        base.select(
            F.greatest(F.size("_ts") - 1, F.lit(0)).alias("_k")
        ).agg(F.sum("_k").alias("_nb"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("_ca"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("_cb"))
    j = (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nb))
    )
    p_ab = F.col("n_pair") / F.col("_nb")
    p_a = F.col("_ca") / F.col("_nu")
    p_b = F.col("_cb") / F.col("_nu")
    pmi = F.log(p_ab / (p_a * p_b))
    return j.select(
        "w1",
        "w2",
        "n_pair",
        F.round(pmi, 6).alias("pmi"),
        F.round(pmi / -F.log(p_ab), 6).alias("npmi"),
    )


def build_inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable retrieval artifact: ``(postings, stats)``.

    postings = (term, doc_id, tf, dl) — one row per distinct term
    occurrence set, the classic inverted index denormalized with the
    document length so scoring needs no side join. stats = the 1-row
    (n_docs, avgdl) corpus aggregate captured AT BUILD TIME (search must
    not rescan the corpus for it).

    At scale: write postings bucketed (or partitioned) by ``term`` so a
    query's scan prunes to its terms' posting lists;
    :func:`alphalens_spark.storage` has the bucketed-writer machinery.
    One explode + one (term, doc) groupBy — linear, map-side partials.
    """
    toks = _tokens(text_col)
    base = docs.select(F.col(id_col), F.size(toks).alias("dl"), toks.alias("_ts"))
    postings = (
        base.select(id_col, "dl", F.explode("_ts").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return postings, stats


def search_terms(
    postings: DataFrame,
    stats: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    require_all: bool = False,
) -> DataFrame:
    """Top-k BM25 search over a prebuilt inverted index — the query-time
    half of :func:`build_inverted_index`, same scoring model as
    :func:`bm25_scores` (probabilistic idf with Lucene's +1 floor).

    Plan shape: the term filter lands on the postings scan (partition/
    bucket pruning when the index is laid out by term), document
    frequencies are a ≤|terms|-row broadcast, corpus stats the build-time
    1-row broadcast, and the final top-k is orderBy+limit —
    TakeOrderedAndProject (per-partition heaps + driver merge of k·P
    rows), never a global sort or single-partition window.
    ``require_all=True`` keeps only docs matching every query term
    (conjunctive / AND semantics). Ties break on rounded score then id —
    deterministic across engines and partitionings.

    Output: (doc_id, n_terms_matched, bm25), k rows.
    """
    q = sorted(set(terms))
    cand = postings.where(F.col("term").isin(q))
    dfreq = cand.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        cand.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(
                F.sum(idf * F.col("tf") * (k1 + 1.0) / denom), 6
            ).alias("bm25"),
        )
    )
    if require_all:
        scored = scored.where(F.col("n_terms_matched") == len(q))
    return scored.orderBy(
        F.col("bm25").desc(), F.col(id_col)
    ).limit(k)


def _bpe_word_table(
    docs: DataFrame, text_col: str, id_col: str, min_freq: int
) -> DataFrame:
    """(syms, freq) word-frequency table: each distinct corpus token as
    its character-symbol array + '</w>' end marker, weighted by corpus
    occurrence count. BPE training state is VOCABULARY-sized — the one
    corpus-sized stage is this initial token count."""
    w = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        w = w.where(F.col("freq") >= min_freq)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return w.select(
        F.concat(chars, F.array(F.lit("</w>"))).alias("syms"), "freq"
    )


def _bpe_apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Apply one BPE merge (a, b) → ab to a symbol array, greedy
    left-to-right non-overlapping — the Sennrich reference semantics.

    Pure array HOFs: candidate positions (j, j+1), a fold selecting the
    greedy non-overlapping subset (a position is taken iff it doesn't
    touch the previously taken one), then a rebuild that emits the
    merged symbol at taken positions and drops their right halves.
    Everything is per-word (≤ word length) — vocabulary-sized work.
    """
    av, bv = F.lit(a), F.lit(b)
    js = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(syms) - 1, F.lit(1))),
        lambda j: (F.size(syms) >= 2)
        & (F.element_at(syms, j) == av)
        & (F.element_at(syms, F.least(j + 1, F.size(syms))) == bv),
    )
    sel = F.aggregate(
        js,
        F.array(F.lit(-2)),
        lambda acc, j: F.when(
            j > F.element_at(acc, F.size(acc)) + 1, F.concat(acc, F.array(j))
        ).otherwise(acc),
    )
    sel = F.slice(sel, 2, F.greatest(F.size(sel) - 1, F.lit(0)))
    rebuilt = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(syms)),
            lambda i: F.when(
                F.array_contains(sel, i),
                F.concat(
                    F.element_at(syms, i),
                    F.element_at(syms, F.least(i + 1, F.size(syms))),
                ),
            )
            .when(F.array_contains(sel, i - 1), F.lit(None))
            .otherwise(F.element_at(syms, i)),
        ),
        lambda x: x.isNotNull(),
    )
    return rebuilt


def _bpe_driver(vocab: dict, n_merges: int) -> list[tuple]:
    """Driver-local merge rounds over a BOUNDED collected vocabulary
    (callers guard size). Identical recurrence and tie-break as the
    distributed loop."""
    from collections import Counter

    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, int(cnt)))
        new_vocab: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 1,
    small_vocab: int = 200_000,
) -> DataFrame:
    """Distributed BPE-merge training (Sennrich et al. 2016): repeat
    n_merges times — count adjacent symbol pairs weighted by word
    frequency, take the most frequent (ties: lexicographically smallest
    (a, b) — fully deterministic), merge it greedily left-to-right in
    every word.

    Scale shape: the ONLY corpus-sized stage is the initial token
    count; every training round runs on the word-frequency table
    (vocabulary-sized) — one pair-explode groupBy (map-side partials),
    a 1-row argmax collected to the driver (the bounded-scalar
    contract), and a pure array-HOF merge projection, with the state
    checkpointed per round (iterative-algorithm discipline).
    Matches a pure-Python reference implementation symbol-for-symbol
    (tested); replays in SQL via :func:`bpe_sql`.

    Output: (step, a, b, merged, pair_count) — one row per learned
    merge, the tokenizer's merge table.

    Small-vocabulary fast path (``small_vocab`` guard): when the DISTINCT
    word table is bounded, the merge rounds run driver-local on the
    collected frequency dict — the same guarded bounded-state precedent
    as pagerank's small-graph solve and pca_fit's driver eigh; the
    distributed loop pays ~3 scheduled jobs per round for microseconds
    of arithmetic. Both paths are equality-tested against the
    pure-Python reference.
    """
    words = _bpe_word_table(docs, text_col, id_col, min_freq)
    spark = docs.sparkSession
    if small_vocab:
        head = words.limit(small_vocab + 1).collect()
        if len(head) <= small_vocab:
            vocab = {tuple(r["syms"]): r["freq"] for r in head}
            return spark.createDataFrame(
                _bpe_driver(vocab, n_merges),
                "step int, a string, b string, merged string, pair_count long",
            )
    words = checkpoint(words)
    out = []
    for step in range(1, n_merges + 1):
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda j: F.struct(
                                F.element_at("syms", j).alias("a"),
                                F.element_at(
                                    "syms", (j + 1).cast("int")
                                ).alias("b"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["cnt"]
        out.append((step, a, b, a + b, int(cnt)))
        words = words.select(
            _bpe_apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        ).transform(checkpoint)
    return spark.createDataFrame(
        out, "step int, a string, b string, merged string, pair_count long"
    )


def bpe_sql(
    n_merges: int = 6,
    table: str = "documents",
    text_col: str = "text",
    min_freq: int = 1,
) -> str:
    """Unrolled-CTE DuckDB twin of :func:`bpe_train` for value oracles:
    each merge round is a pair-count CTE, a 1-row argmax CTE, and a
    list-lambda merge-apply CTE (list_reduce greedy selection — the
    exact fold :func:`_bpe_apply_merge` runs). Returns the same
    (step, a, b, merged, pair_count) merge table.
    """
    minf = f"HAVING count(*) >= {min_freq}" if min_freq > 1 else ""
    parts = [
        f"""WITH wf AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim({text_col})), '\\s+')) AS word
    FROM {table}
  ) WHERE word <> '' GROUP BY word {minf}
),
w0 AS MATERIALIZED (
  SELECT list_append(
           list_transform(range(1, len(word) + 1), i -> word[i:i]), '</w>'
         ) AS syms, freq
  FROM wf
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT syms[j] AS a, syms[j + 1] AS b, sum(freq) AS cnt
  FROM w{p}, unnest(range(1, len(syms))) AS t(j)
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
),
m{i} AS MATERIALIZED (
  SELECT syms, freq,
         CASE WHEN len(js) = 0 THEN CAST([] AS BIGINT[])
              ELSE list_reduce(
                     list_transform(js, j -> [j]),
                     (acc, x) -> CASE WHEN x[1] > acc[-1] + 1
                                      THEN list_concat(acc, x)
                                      ELSE acc END)
         END AS sel
  FROM (
    SELECT syms, freq,
           CASE WHEN len(syms) < 2 THEN CAST([] AS BIGINT[])
                ELSE list_filter(range(1, len(syms)),
                       j -> syms[j] = best{i}.a
                            AND syms[j + 1] = best{i}.b)
           END AS js
    FROM w{p} CROSS JOIN best{i})
),
w{i} AS MATERIALIZED (
  SELECT list_filter(
           list_transform(range(1, len(syms) + 1),
             i2 -> CASE WHEN list_contains(sel, i2)
                        THEN syms[i2] || syms[i2 + 1]
                        WHEN list_contains(sel, i2 - 1) THEN NULL
                        ELSE syms[i2] END),
           x -> x IS NOT NULL) AS syms, freq
  FROM m{i}
)"""
        )
    body = ",\n".join(parts)
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, a, b, a || b AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return f"{body}\n{selects}"


def bpe_segment_vocab(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 1,
) -> DataFrame:
    """Tokenizer application: segment every vocabulary word with the
    merges :func:`bpe_train` learns — the (word → pieces) table an
    encoder joins onto documents (order-preserving, the vocab_encode
    pattern), so encoding N tokens costs one broadcast join no matter
    how long the merge list is.

    Each learned merge applies as one array-HOF projection over the
    vocabulary table (chained, n_merges deep — vocabulary-sized work).
    Output: (word, pieces, n_pieces, freq), pieces space-joined.
    """
    merges = [
        (r["a"], r["b"])
        for r in bpe_train(
            docs, n_merges, text_col, id_col, min_freq
        ).collect()
    ]
    w = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        w = w.where(F.col("freq") >= min_freq)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    out = w.select(
        "word",
        F.concat(chars, F.array(F.lit("</w>"))).alias("syms"),
        "freq",
    )
    for a, b in merges:
        out = out.select(
            "word", _bpe_apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        )
    return out.select(
        "word",
        F.concat_ws(" ", "syms").alias("pieces"),
        F.size("syms").alias("n_pieces"),
        "freq",
    )


def bpe_segment_sql(
    n_merges: int = 6,
    table: str = "documents",
    text_col: str = "text",
    min_freq: int = 1,
) -> str:
    """SQL twin of :func:`bpe_segment_vocab`: the :func:`bpe_sql` round
    chain with the word key carried through, final select = the
    segmented vocabulary."""
    sql = bpe_sql(n_merges, table, text_col, min_freq)
    # carry the word through every round CTE
    sql = sql.replace(
        "SELECT list_append(\n           list_transform(range(1, len(word) + 1), i -> word[i:i]), '</w>'\n         ) AS syms, freq\n  FROM wf",
        "SELECT word, list_append(\n           list_transform(range(1, len(word) + 1), i -> word[i:i]), '</w>'\n         ) AS syms, freq\n  FROM wf",
    )
    sql = sql.replace("SELECT syms, freq,", "SELECT word, syms, freq,")
    sql = sql.replace(
        "  SELECT list_filter(", "  SELECT word, list_filter("
    )
    # replace the merge-table union tail with the segments select
    tail_start = sql.index("\nSELECT 1 AS step,")
    n = n_merges
    return (
        sql[:tail_start]
        + f"\nSELECT word, array_to_string(syms, ' ') AS pieces, "
        f"len(syms) AS n_pieces, freq FROM w{n}"
    )


def _char_trigrams(text_col: str) -> F.Column:
    """Char-trigram array over the lowercased, whitespace-normalized
    text (Cavnar & Trenkle 1994 feature unit; spaces collapse so
    formatting never shifts the profile)."""
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    n = F.greatest(F.length(t) - 2, F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(t, i, 3)
    )


def ngram_language_id(
    train: DataFrame,
    test: DataFrame,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Char-n-gram language identification (the real n-gram method the
    brief names, upgrading the stopword heuristic): per-language
    char-trigram distributions learned from the LABELED ``train`` docs
    (add-k smoothed — a per-class naive-Bayes/textcat LM, the modern
    restatement of Cavnar-Trenkle 1994 rank profiles), then every
    ``test`` doc takes the language minimizing its per-char
    cross-entropy. Ties break toward the smallest language code
    (min-struct, deterministic).

    Scale shape: profile learning is one (lang, gram) groupBy over the
    train corpus; classification explodes test docs to (doc, gram)
    counts ONCE and left-joins the profile table (vocab-bounded —
    char-trigram vocabulary saturates in the low 10⁴s regardless of
    corpus size, so the profile side broadcasts) replicated per
    language. Unseen grams score at the smoothing floor via the
    left-join + coalesce(0). All-linear; the only corpus-sized
    exchange is the (doc, gram) count.

    Output: (id, lang, lang_pred, ce_pred, correct) — ce in
    nats/gram, 6-dp snapped; ``lang`` is the test doc's true label
    (NULL passes through for unlabeled corpora).
    """
    from alphalens_spark.scale.dedup import spread_for_compute

    tri = _char_trigrams(text_col)
    train_g = spread_for_compute(train).select(
        F.col(lang_col).alias("_l"), F.explode(tri).alias("_g")
    )
    # pin: the profile feeds three consumers (totals, vocab size, the
    # scoring join) — unpinned, the train-corpus explode+hash subtree
    # would run three times (plan audit: 5 documents scans → 2)
    prof = (
        train_g.groupBy("_l", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(checkpoint)
    )
    totals = prof.groupBy("_l").agg(F.sum("_c").alias("_tl"))
    vocab = prof.select("_g").distinct().agg(
        F.count(F.lit(1)).alias("_v")
    )
    langs = totals.join(F.broadcast(vocab))

    test_g = (
        spread_for_compute(test)
        .select(F.col(id_col), F.explode(tri).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    k = F.lit(float(smoothing))
    # replicate each test gram across the language dimension (5-ish rows
    # per gram), left-join the profile so unseen grams hit the floor
    scored = (
        test_g.join(F.broadcast(langs.select("_l", "_tl", "_v")))
        .join(F.broadcast(prof), ["_l", "_g"], "left")
        .select(
            id_col,
            "_l",
            "_n",
            F.log(
                (F.coalesce(F.col("_c"), F.lit(0)) + k)
                / (F.col("_tl") + k * F.col("_v"))
            ).alias("_lp"),
        )
    )
    # snap ce to the 6-dp grid BEFORE the argmin: the per-language sums
    # are summation-order dependent at the last ulp, and an ulp flip at
    # the argmin swaps the predicted LABEL (a whole-row divergence, not
    # a 6th-decimal one) — the same class as the rank-tie fix in
    # performance._avg_rank
    ce = (
        scored.groupBy(id_col, "_l")
        .agg(
            F.round(
                -F.sum(F.col("_n") * F.col("_lp")) / F.sum("_n"), 6
            ).alias("_ce")
        )
    )
    best = ce.groupBy(id_col).agg(
        F.min(F.struct(F.col("_ce"), F.col("_l"))).alias("_s")
    )
    truth = test.select(F.col(id_col), F.col(lang_col).alias("lang"))
    return (
        best.join(truth, id_col)
        .select(
            id_col,
            "lang",
            F.col("_s._l").alias("lang_pred"),
            (F.col("_s._ce") + F.lit(0.0)).alias("ce_pred"),
            (F.col("_s._l") == F.col("lang")).alias("correct"),
        )
    )


def wordpiece_segment_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    piece_col: str = "piece",
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "[UNK]",
    cont_prefix: str = "##",
    max_pieces: int = 32,
    words: DataFrame | None = None,
) -> DataFrame:
    """WordPiece greedy longest-match-first segmentation (the BERT
    tokenizer's inference rule, Devlin et al. 2019 / Wu et al. 2016):
    at each position take the LONGEST vocabulary piece that matches
    (continuation positions try the ``##``-prefixed form); if any
    position has no match the WHOLE word becomes ``unk`` — the spec's
    all-or-nothing rule, not a char fallback. Complements
    :func:`bpe_segment_vocab` (BPE applies learned merges bottom-up;
    WordPiece matches a given vocabulary top-down).

    Scale shape: segmentation runs on the DISTINCT-WORD vocabulary,
    never the corpus (the bpe/vocab_encode pattern — encoders broadcast
    the (word → pieces) table). All (position, length) candidate
    matches resolve in ONE equi-join against the piece vocabulary
    (candidates are word-length × max-piece-length per distinct word,
    bounded); the greedy walk then folds over a per-word best-match map
    as a single JVM array aggregate — no per-round joins, no Python.

    Output: (word, pieces space-joined, n_pieces, freq); unmatched
    words emit (word, unk, 1, freq).
    """
    from alphalens_spark.scale.dedup import spread_for_compute

    if words is not None:
        # caller-built (word, freq) table — lets a caller that ALSO
        # derives its vocabulary from the word table share one pinned
        # frame instead of re-exploding the corpus per consumer
        w = words
    else:
        w = (
            spread_for_compute(docs)
            .select(F.explode(_tokens(text_col)).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
    # longest piece BODY length bounds the candidate lengths (1-row
    # driver action, the cm_estimate scalar contract)
    body_len = F.when(
        F.col(piece_col).startswith(cont_prefix),
        F.length(piece_col) - len(cont_prefix),
    ).otherwise(F.length(piece_col))
    plen = vocab.agg(F.max(body_len)).collect()[0][0]
    if plen is None:
        raise ValueError("empty wordpiece vocabulary")
    m = int(plen)

    # every (pos, len) candidate as ONE exploded relation → equi-join
    cand = w.select(
        "word",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda p: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(F.lit(m), F.length("word") - p + 1),
                        ),
                        lambda l: F.struct(p.alias("pos"), l.alias("ln")),
                    ),
                )
            )
        ).alias("c"),
    ).select(
        "word",
        F.col("c.pos").alias("pos"),
        F.col("c.ln").alias("ln"),
        F.when(
            F.col("c.pos") == 1,
            F.expr("substring(word, c.pos, c.ln)"),
        )
        .otherwise(
            F.concat(F.lit(cont_prefix), F.expr("substring(word, c.pos, c.ln)"))
        )
        .alias("_p"),
    )
    pieces = vocab.select(F.col(piece_col).alias("_p")).distinct()
    best = (
        cand.join(F.broadcast(pieces), "_p")
        .groupBy("word", "pos")
        .agg(F.max("ln").alias("best_ln"))
    )
    bm = best.groupBy("word").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("pos", "best_ln")))
        ).alias("_bm")
    )
    # greedy walk: fold over ≤ max_pieces steps, state = (pos, pieces[],
    # failed). No match at an in-bounds position → spec failure → unk.
    walk = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_pieces)),
        F.struct(
            F.lit(1).alias("pos"),
            F.array().cast("array<string>").alias("ps"),
            F.lit(False).alias("failed"),
        ),
        lambda st, _i: F.when(
            st["failed"] | (st["pos"] > F.length("word")), st
        ).otherwise(
            F.when(
                F.element_at(F.col("_bm"), st["pos"]).isNull(),
                F.struct(
                    st["pos"].alias("pos"),
                    st["ps"].alias("ps"),
                    F.lit(True).alias("failed"),
                ),
            ).otherwise(
                F.struct(
                    (st["pos"] + F.element_at(F.col("_bm"), st["pos"])).alias(
                        "pos"
                    ),
                    F.concat(
                        st["ps"],
                        F.array(
                            F.when(
                                st["pos"] == 1,
                                F.expr(
                                    "substring(word, 1, element_at(_bm, 1))"
                                ),
                            ).otherwise(
                                F.concat(
                                    F.lit(cont_prefix),
                                    F.substring(
                                        F.col("word"),
                                        st["pos"],
                                        F.element_at(F.col("_bm"), st["pos"]),
                                    ),
                                )
                            )
                        ),
                    ).alias("ps"),
                    F.lit(False).alias("failed"),
                )
            )
        ),
    )
    out = (
        w.join(bm, "word", "left")
        .withColumn(
            "_w",
            F.when(F.col("_bm").isNull(), None).otherwise(walk),
        )
        .select(
            "word",
            F.when(
                F.col("_w").isNull()
                | F.col("_w.failed")
                | (F.col("_w.pos") <= F.length("word")),
                F.lit(unk),
            )
            .otherwise(F.array_join("_w.ps", " "))
            .alias("pieces"),
            F.when(
                F.col("_w").isNull()
                | F.col("_w.failed")
                | (F.col("_w.pos") <= F.length("word")),
                F.lit(1),
            )
            .otherwise(F.size("_w.ps"))
            .alias("n_pieces"),
            "freq",
        )
    )
    return out


def _unigram_lm_driver(
    word_rows, seed_size, max_piece_len, n_iter, max_word_len
):
    """Pure-Python twin of the distributed unigram-LM hard-EM — the
    size-guarded fast path AND the semantics reference the equality
    test pins the distributed rounds against."""
    import math
    from collections import Counter

    words = dict(word_rows)
    subs, chars = Counter(), set()
    for wd, fq in words.items():
        for p in range(len(wd)):
            for ln in range(1, min(max_piece_len, len(wd) - p) + 1):
                subs[wd[p:p + ln]] += fq
                if ln == 1:
                    chars.add(wd[p])
    top = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    vocab = {k for k, _ in top} | chars
    counts = {pc: subs[pc] for pc in vocab}

    def costs(cnt):
        import decimal

        tot = sum(cnt.values())
        # HALF-UP rounding via decimal on the double's shortest repr —
        # exactly Spark's round() (BigDecimal.valueOf(x) = shortest
        # string, then HALF_UP) and DuckDB's round(). floor(x + 0.5)
        # would differ within 1 ulp of .5 (the IEEE add rounds up), and
        # Python round() is banker's; the driver fast path must be
        # semantics-invariant with the distributed DP and the SQL oracle
        # on a cost landing exactly on (or within 1 ulp of) .5
        half_up = lambda x: int(  # noqa: E731
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        return {
            pc: half_up(-math.log(c / tot) * 1e6) for pc, c in cnt.items()
        }

    for _ in range(n_iter):
        cost = costs(counts)

        def viterbi(wd):
            inf = float("inf")
            dist = [0] + [inf] * len(wd)
            back = [0] * (len(wd) + 1)
            for j in range(1, len(wd) + 1):
                best = None
                for ln in range(1, min(max_piece_len, j) + 1):
                    pc = wd[j - ln:j]
                    if pc in cost and dist[j - ln] < inf:
                        cand = (dist[j - ln] + cost[pc], ln)
                        if best is None or cand < best:
                            best = cand
                dist[j], back[j] = best
            pieces, j = [], len(wd)
            while j > 0 and len(pieces) <= max_word_len:
                pieces.append(wd[j - back[j]:j])
                j -= back[j]
            return pieces

        usage = Counter()
        for wd, fq in words.items():
            for pc in viterbi(wd):
                usage[pc] += fq
        counts = {}
        for pc in set(usage) | chars:
            c = usage.get(pc, 0) + (1 if len(pc) == 1 else 0)
            if c > 0:
                counts[pc] = c
    fc = costs(counts)
    return [(pc, counts[pc], fc[pc]) for pc in sorted(counts)]


def unigram_lm_train(
    docs: DataFrame,
    seed_size: int = 200,
    max_piece_len: int = 6,
    n_iter: int = 1,
    max_word_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    driver_guard: int = 65536,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018),
    hard-EM variant: seed the piece vocabulary with the corpus's
    highest-mass substrings (plus every character — the coverage
    floor), then alternate (E) Viterbi-segment every distinct word
    under the current piece costs and (M) re-estimate piece
    probabilities from the usage counts of the optimal segmentations.
    The soft-EM/pruning schedule of the paper reduces to this hard
    variant when the temperature → 0; one round already reallocates
    mass from redundant substrings onto the pieces real segmentations
    use. Complements bpe_train (bottom-up merges) and
    wordpiece_segment_vocab (inference) — the third tokenizer-training
    surface.

    Cross-engine determinism by construction: piece costs are INTEGER
    micro-nats (round(-ln(c/Σc)·1e6) AS BIGINT — one ln per piece, the
    single rounding site), so the Viterbi DP is pure integer-min with a
    (cost, last-piece-length) tie-break — no float accumulates across
    DP steps and the oracle replays bit-exactly.

    Scale shape: everything after the one corpus token-explode runs on
    the DISTINCT-WORD table (the bpe/vocab pattern). The substring
    relation is |words|·len·max_piece_len rows; the DP is
    ``max_word_len`` rounds of position-keyed joins and the backtrace
    walks the same table backwards — vocabulary-sized work throughout,
    checkpointed per round.

    Output: (piece, usage, cost_micro) — the trained vocabulary, its
    hard-EM usage mass, and its final integer micro-nat cost.
    """
    from alphalens_spark.scale.dedup import spread_for_compute

    w_obs = Observation()  # vocabulary size and longest word
    w = (
        spread_for_compute(docs)
        .select(F.explode(_tokens(text_col)).alias("word"))
        # words longer than max_word_len are excluded from TRAINING on
        # every path (distributed DP, driver fast path, SQL oracle) —
        # without the shared cap the distributed DP silently dropped
        # them (final position never settles) while the driver path
        # segmented them fully, so the two paths returned different
        # vocabularies (review-confirmed divergence)
        .where(
            (F.col("word") != "") & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .observe(
            w_obs,
            F.count(F.lit(1)).alias("n"),
            F.max(F.length("word")).alias("wl"),
        )
        .transform(checkpoint)
    )
    w_stats = w_obs.get
    # bounded-vocabulary fast path (the driver-BPE / small-graph-PageRank
    # precedent): the EM state is VOCABULARY-sized, and below the guard
    # the ~2·max_word_len per-round job latencies of the distributed DP
    # dwarf the arithmetic a thousandfold — identical output proven by
    # the equality test that runs BOTH paths (driver_guard=0 forces the
    # distributed one)
    if driver_guard and w_stats["n"] <= driver_guard:
        rows = [(r["word"], r["freq"]) for r in w.collect()]
        out = _unigram_lm_driver(
            rows, seed_size, max_piece_len, n_iter, max_word_len
        )
        return docs.sparkSession.createDataFrame(
            out, "piece string, usage bigint, cost_micro bigint"
        )
    # all substrings up to max_piece_len: (word, freq, start, l, piece)
    subs = (
        w.select(
            "word",
            "freq",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda p: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("word") - p + 1,
                                ),
                            ),
                            lambda l: F.struct(p.alias("p"), l.alias("l")),
                        ),
                    )
                )
            ).alias("s"),
        )
        .select(
            "word",
            "freq",
            F.col("s.p").alias("start"),
            F.col("s.l").alias("l"),
            F.expr("substring(word, s.p, s.l)").alias("piece"),
        )
        .transform(checkpoint)
    )
    # DP/backtrace rounds are bounded by the LONGEST WORD actually in
    # the corpus (observed above) — extra rounds would be no-op joins;
    # the oracle unrolls a fixed superset, no-ops for the same reason
    max_word_len = min(max_word_len, int(w_stats["wl"] or 1))

    weights = subs.groupBy("piece").agg(F.sum("freq").alias("c"))
    chars = subs.where(F.col("l") == 1).select("piece").distinct()
    top = (
        weights.orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(seed_size)
        .select("piece")
    )
    vocab = top.unionByName(chars).distinct()
    counts = checkpoint(vocab.join(weights, "piece"))

    def _costs(cnt: DataFrame) -> DataFrame:
        total = cnt.agg(F.sum("c").alias("_t"))
        return cnt.crossJoin(F.broadcast(total)).select(
            "piece",
            F.round(-F.log(F.col("c") / F.col("_t")) * 1e6)
            .cast("long")
            .alias("cost"),
        )

    for _ in range(n_iter):
        cost = _costs(counts)
        matches = (
            subs.join(F.broadcast(cost), "piece")
            .select(
                "word",
                "start",
                "l",
                "cost",
                (F.col("start") + F.col("l") - 1).alias("end"),
            )
            .transform(checkpoint)
        )
        # Viterbi forward: acc holds (word, pos, dist, back_l) for every
        # settled position; round j settles pos == j
        acc = w.select(
            "word",
            F.lit(0).alias("pos"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(0).alias("back_l"),
        )
        for j in range(1, max_word_len + 1):
            cj = (
                matches.where(F.col("end") == j)
                .join(
                    acc.select(
                        "word",
                        (F.col("pos") + 1).alias("start"),
                        F.col("dist").alias("_pd"),
                    ),
                    ["word", "start"],
                )
                .select(
                    "word",
                    (F.col("_pd") + F.col("cost")).alias("nd"),
                    "l",
                )
            )
            # checkpoint only the per-round DELTA: checkpointing the
            # whole acc union re-materializes all settled positions
            # every round (O(rounds²) work); the union of checkpointed
            # deltas has flat lineage for free
            best_j = (
                cj.groupBy("word")
                .agg(F.min(F.struct(F.col("nd"), F.col("l"))).alias("s"))
                .select(
                    "word",
                    F.lit(j).alias("pos"),
                    F.col("s.nd").alias("dist"),
                    F.col("s.l").alias("back_l"),
                )
                .transform(checkpoint)
            )
            acc = acc.unionByName(best_j)
        # backtrace from pos == len(word), collecting the optimal pieces
        seg = w.select("word", "freq", F.length("word").alias("pos"))
        used = None
        for _k in range(max_word_len):
            # checkpoint the JOINED step once — both the piece emission
            # and the next round's positions derive from it
            step = (
                seg.where(F.col("pos") > 0)
                .join(acc, ["word", "pos"])
                .transform(checkpoint)
            )
            got = step.select(
                "word",
                "freq",
                F.expr(
                    "substring(word, pos - back_l + 1, back_l)"
                ).alias("piece"),
            )
            used = got if used is None else used.unionByName(got)
            seg = step.select(
                "word", "freq", (F.col("pos") - F.col("back_l")).alias("pos")
            )
        usage = used.groupBy("piece").agg(F.sum("freq").alias("usage"))
        # M-step counts: pieces keep their usage mass; characters keep a
        # +1 floor (always retained — the coverage guarantee), so an
        # unused char survives with the minimum mass
        counts = (
            chars.join(usage, "piece", "full_outer")
            .select(
                "piece",
                (
                    F.coalesce(F.col("usage"), F.lit(0))
                    + F.when(F.length("piece") == 1, 1).otherwise(0)
                ).alias("c"),
            )
            .where(F.col("c") > 0)
            .transform(checkpoint)
        )
    final_cost = _costs(counts)
    return (
        counts.join(final_cost, "piece")
        .select("piece", F.col("c").alias("usage"), F.col("cost").alias("cost_micro"))
    )


def rare_term_overlap_topk(
    docs: DataFrame,
    queries: DataFrame,
    max_df_per_mille: int = 100,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical retrieval leg for hybrid search: per query document, the
    top-k corpus documents by idf-weighted RARE-term overlap —
    score(q, d) = Σ_{t ∈ q ∩ d, df(t)·1000 ≤ N·max_df_per_mille} idf(t)
    (the cap is exact integer arithmetic so it replays identically in
    SQL — a float ratio would truncate engine-dependently).
    The df cap is the scale guard (the max_df posting-cap lesson):
    boilerplate terms whose posting lists span the corpus never enter
    the candidate join, so the pair stage is |query terms| ⋈ bounded
    posting lists — linear, never all-pairs.

    Integer-exact scoring: each term contributes
    ``idf_e6 = round(ln(N/df)·1e6)`` as a BIGINT, so per-pair scores
    are summation-order-proof integer sums and the ranking (score desc,
    doc_id asc) is deterministic cross-engine.

    ``queries`` carries one column ``query_id`` (ids of documents in
    ``docs``). Self-matches are excluded. Output: (query_id, doc_id,
    n_shared_terms, score_e6, rnk ≤ k).

    NOTE: calling this runs two eager jobs at PLAN-CONSTRUCTION time —
    the distinct (doc, term) table materializes (checkpoint; it is
    read by the df aggregate and both join sides) and ``docs`` is
    counted for the integer df cap — the documented
    budget_keep_condition/brute-force precedent for construction-time
    side effects.
    """
    toks = _tokens(text_col)
    # distinct (doc, term) pairs == per-document token dedup, so
    # array_distinct INSIDE the row does the whole job map-side — the
    # .distinct() this replaces shuffled the full exploded pair set for
    # a dedup whose key never crosses rows (guide §2.4: remove shuffles
    # outright). The checkpointed frame is now a scan-only plan.
    dterms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(toks)).alias("t"),
    ).where(F.col("t") != "")
    dterms = checkpoint(dterms)  # read by df agg + both join sides
    n_docs = docs.count()
    df_cap = n_docs * max_df_per_mille // 1000
    dfreq = (
        dterms.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
        .withColumn(
            "idf_e6",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df").cast("double")) * 1e6)
            .cast("long"),
        )
    )
    qterms = (
        queries.select(F.col("query_id"))
        .join(dterms.withColumnRenamed("doc_id", "query_id"), "query_id")
        .join(dfreq, "t")
    )
    pairs = (
        qterms.join(dterms, "t")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shared_terms"),
            F.sum("idf_e6").alias("score_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("query_id", "doc_id", "n_shared_terms", "score_e6", "rnk")
    )


def rake_keywords(
    docs: DataFrame,
    k: int = 20,
    group_col: str = "source",
    text_col: str = "text",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) per group: candidate
    phrases are maximal stopword-delimited token runs, each word scores
    degree/frequency over the group's phrase table (degree = how many
    other words it co-occurs with across its phrase occurrences), and a
    phrase scores the sum of its member-word scores — the classic
    no-model keyphrase extractor, here as three linear aggregations.

    Integer-exact scoring: word score is ``deg·1e6 DIV freq`` (exact
    integer division — deterministic cross-engine, and phrase sums of
    BIGINTs are summation-order-proof). Ties break on occurrence count
    then phrase text.

    Scale shape: phrase extraction is pure per-row expressions (token →
    delimiter mapping + split — no window, no Python); then one groupBy
    per (group, word) over the vocabulary dimension, one broadcast-able
    word-score join keyed on the vocabulary, one groupBy per (group,
    phrase), and a per-group top-k window over ≤ distinct-phrase rows.
    Output: (group, phrase, n_words, n_occurrences, score_e6, rnk ≤ k).
    """
    sw = stopwords if stopwords is not None else STOPWORDS_EN
    toks = _tokens(text_col)
    swarr = F.array(*[F.lit(s) for s in sw])
    marked = F.transform(
        toks, lambda t: F.when(F.array_contains(swarr, t), F.lit("|")).otherwise(t)
    )
    phrases = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), r"\|"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    ph = docs.select(
        F.col(group_col).alias("g"), F.explode(phrases).alias("phrase")
    )
    ph = checkpoint(ph)  # read by word stats + phrase table
    pw = ph.select(
        "g",
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wscore = (
        pw.groupBy("g", "w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("plen") - 1).alias("deg"),
        )
        .withColumn(
            "score_e6", F.expr("CAST(deg * 1000000 DIV freq AS BIGINT)")
        )
    )
    occ = ph.groupBy("g", "phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    dpw = occ.select(
        "g", "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    scored = (
        dpw.join(wscore.select("g", "w", "score_e6"), ["g", "w"])
        .groupBy("g", "phrase")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_words"),
            F.sum("score_e6").alias("score_e6"),
        )
        .join(occ, ["g", "phrase"])
    )
    w_rank = Window.partitionBy("g").orderBy(
        F.col("score_e6").desc(), F.col("n_occurrences").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rnk") <= k)
        .select(
            F.col("g").alias(group_col),
            "phrase",
            "n_words",
            "n_occurrences",
            "score_e6",
            "rnk",
        )
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic no-model readability pair, from three integer counts:
    words (whitespace tokens), sentences (runs of [.!?], min 1), and
    syllables (runs of [aeiouy] per word, min 1 per word — the standard
    heuristic). The counts are exact integers on both engines
    (regexp_extract_all + a vowel-free-word correction), so the two
    formula evaluations are single deterministic double expressions,
    rounded to 6 dp.

    ease = 206.835 − 1.015·(W/S) − 84.6·(Syl/W);
    grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.

    One scan, no shuffle — a pure projection the optimizer fuses into
    whatever reads it. Output: (id, n_words, n_sentences, n_syllables,
    flesch_ease, fk_grade).
    """
    low = F.lower(F.trim(F.col(text_col)))
    words = F.split(low, r"\s+")
    n_words = F.size(words)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(low, F.lit(r"[.!?]+"), F.lit(0)))
    )
    vowel_runs = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0)))
    no_vowel_words = F.size(
        F.filter(words, lambda t: (t != "") & ~t.rlike("[aeiouy]"))
    )
    n_syll = vowel_runs + no_vowel_words
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        (F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6)
         + F.lit(0.0)).alias("flesch_ease"),
        (F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6)
         + F.lit(0.0)).alias("fk_grade"),
    )

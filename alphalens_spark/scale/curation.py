"""Corpus-curation operators for LLM training-data pipelines.

Gopher-style repetition/quality signals (Rae et al. 2021, Appendix A —
public paper), C4-style corpus-frequency boilerplate removal (Raffel et
al. 2020 §2.2), within-document unit dedup, deterministic sequence
packing, and stratified sampling. Everything is native Spark expressions
plus explode→groupBy aggregations (linear, hash-partitioned by content
or doc id — never all-pairs, never a global sort); no Python on the hot
path. Each operator has a full DuckDB value oracle in
``alphalens_spark.entry_queries``.

All ratio signals here are exact integer ratios (counts / char counts)
divided once at the end — no float accumulation — so they reproduce
bit-identically across engines after 6 dp rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark.scale.dedup import _tokens
from alphalens_spark.session import checkpoint

# The eight Gopher "must contain >= 2" stop words (Rae et al. 2021, A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Gopher A1.1 thresholds for the overall pass flag.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.10,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_alpha_word_frac": 0.80,
    "min_stopwords": 2,
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_top_ngram_char_frac": {2: 0.20, 3: 0.18, 4: 0.16},
    "max_dup_ngram_char_frac": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}


def _nonempty_lines(text_col: str) -> Column:
    """Trimmed, non-empty lines of the raw text."""
    return F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Per-document Gopher repetition + quality signals and pass flag.

    Scalar signals (word count, mean word length, alpha-word fraction,
    symbol-to-word ratio, stop-word presence, bullet/ellipsis line
    fractions) are pure projections. ALL repetition signals — the
    duplicate-line fractions (lines ride the explode as n=0), the
    top-n-gram character coverage for n in ``top_ns`` and the
    duplicated-n-gram character coverage for n in ``dup_ns`` — come from
    a SINGLE explode of (n, unit) pairs and one groupBy(doc, n, unit):
    one wide shuffle keyed by doc id + unit content, not one pass per n
    and not a separate line scan+join. At 100 TB the explode is
    ~``sum(len(doc))·|ns|`` rows but partial aggregation combines map-side
    and every key includes doc_id, so there is no hot key.

    The "top n-gram" tiebreak is (count desc, gram asc) — deterministic
    and engine-reproducible. Character coverage is ``count · len(gram)``
    over the lowercased text, divided by total lowercased char count.
    """
    ns = sorted(set(top_ns) | set(dup_ns))
    words = _tokens(text_col)
    lines = _nonempty_lines(text_col)
    t = F.lower(F.trim(F.col(text_col)))

    n_words = F.size(words)
    n_chars = F.length(t)
    n_lines = F.size(lines)
    # total word chars == non-whitespace chars (words are split on \s+)
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_word_len = word_chars.cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    frac_alpha = alpha_words.cast("double") / F.nullif(n_words.cast("double"), F.lit(0.0))
    n_hash = n_chars - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        (n_chars - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
        + (n_chars - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    )
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / F.nullif(
        n_words.cast("double"), F.lit(0.0)
    )
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), sw))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•‣▪]")))
    ellipsis_l = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    frac_bullet = bullet.cast("double") / F.nullif(n_lines.cast("double"), F.lit(0.0))
    frac_ell = ellipsis_l.cast("double") / F.nullif(n_lines.cast("double"), F.lit(0.0))

    base = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_lines.alias("n_lines"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        n_stop.alias("n_stopwords"),
        F.round(F.coalesce(frac_bullet, F.lit(0.0)), 6).alias("frac_bullet_lines"),
        F.round(F.coalesce(frac_ell, F.lit(0.0)), 6).alias("frac_ellipsis_lines"),
    )

    # ONE exploded (n, unit) relation for every gram size AND the lines
    # (as n=0): the former separate line explode re-scanned the corpus
    # and re-joined per doc; folding lines into the same explode shares
    # the scan, the (doc, n, unit) count exchange, and the per-doc join
    # (guide §2.4 "two operations keyed the same way share one exchange")
    def grams_for(n: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.struct(
                F.lit(n).alias("n"), F.concat_ws(" ", F.slice(words, i, n)).alias("g")
            ),
        )

    line_structs = F.transform(
        F.coalesce(_nonempty_lines(text_col), F.array()),
        lambda l: F.struct(F.lit(0).alias("n"), l.alias("g")),
    )
    gx = docs.select(
        F.col(id_col),
        F.explode(
            F.flatten(F.array(*[grams_for(n) for n in ns], line_structs))
        ).alias("s"),
    ).select(id_col, F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    counts = gx.groupBy(id_col, "n", "g").agg(F.count(F.lit(1)).alias("c"))
    wtop = Window.partitionBy(id_col, "n").orderBy(F.col("c").desc(), F.col("g").asc())
    per_n = (
        counts.withColumn("rn", F.row_number().over(wtop))
        .groupBy(id_col, "n")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("c") * F.length("g"))).alias("topc"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(0)
            ).alias("dupc"),
            F.sum("c").alias("tot"),
            F.count(F.lit(1)).alias("dist"),
            F.sum(F.col("c") * F.length("g")).alias("chars"),
        )
    )
    gagg = per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("topc"))).alias(f"_top{n}")
            for n in top_ns
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("dupc"))).alias(f"_dup{n}")
            for n in dup_ns
        ],
        F.max(F.when(F.col("n") == 0, F.col("tot"))).alias("_lines_total"),
        F.max(F.when(F.col("n") == 0, F.col("dist"))).alias("_lines_distinct"),
        F.max(F.when(F.col("n") == 0, F.col("chars"))).alias("_line_chars"),
        F.max(F.when(F.col("n") == 0, F.col("dupc"))).alias("_dup_line_chars"),
    )

    out = base.join(gagg, id_col, "left")
    nc = F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    dup_line_frac = F.round(
        F.coalesce(
            (F.col("_lines_total") - F.col("_lines_distinct"))
            / F.nullif(F.col("_lines_total").cast("double"), F.lit(0.0)),
            F.lit(0.0),
        ),
        6,
    )
    dup_line_char_frac = F.round(
        F.coalesce(
            F.col("_dup_line_chars")
            / F.nullif(F.col("_line_chars").cast("double"), F.lit(0.0)),
            F.lit(0.0),
        ),
        6,
    )
    th = GOPHER_THRESHOLDS
    top_cols = {n: F.round(F.coalesce(F.col(f"_top{n}") / nc, F.lit(0.0)), 6) for n in top_ns}
    dup_cols = {n: F.round(F.coalesce(F.col(f"_dup{n}") / nc, F.lit(0.0)), 6) for n in dup_ns}
    passes = (
        (F.col("n_words") >= th["min_words"])
        & (F.col("n_words") <= th["max_words"])
        & (F.col("mean_word_len") >= th["min_mean_word_len"])
        & (F.col("mean_word_len") <= th["max_mean_word_len"])
        & (F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"])
        & (F.col("frac_bullet_lines") <= th["max_bullet_line_frac"])
        & (F.col("frac_ellipsis_lines") <= th["max_ellipsis_line_frac"])
        & (F.col("frac_alpha_words") >= th["min_alpha_word_frac"])
        & (F.col("n_stopwords") >= th["min_stopwords"])
        & (dup_line_frac <= th["max_dup_line_frac"])
        & (dup_line_char_frac <= th["max_dup_line_char_frac"])
    )
    for n, c in top_cols.items():
        passes = passes & (c <= th["max_top_ngram_char_frac"][n])
    for n, c in dup_cols.items():
        passes = passes & (c <= th["max_dup_ngram_char_frac"][n])
    return out.select(
        id_col,
        "n_words",
        "n_lines",
        "mean_word_len",
        "frac_alpha_words",
        "symbol_word_ratio",
        "n_stopwords",
        "frac_bullet_lines",
        "frac_ellipsis_lines",
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        *[c.alias(f"top_{n}gram_char_frac") for n, c in top_cols.items()],
        *[c.alias(f"dup_{n}gram_char_frac") for n, c in dup_cols.items()],
        passes.alias("gopher_pass"),
    )


def _unitize(text_col: str, unit: str | int) -> tuple[Column, str]:
    """Array of text units + the separator that rebuilds the document.

    unit="line": trimmed non-empty lines. unit="word": whitespace tokens
    (original case). unit=int w: non-overlapping w-word chunks.
    """
    if unit == "line":
        return _nonempty_lines(text_col), "\n"
    raw_words = F.split(F.trim(F.col(text_col)), r"\s+")
    if unit == "word":
        return raw_words, " "
    if isinstance(unit, int) and unit > 0:
        w = unit
        n_chunks = F.greatest(F.ceil(F.size(raw_words) / F.lit(w)).cast("int"), F.lit(1))
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(raw_words, i * w + 1, w)),
        )
        return chunks, " "
    raise ValueError(f"unit must be 'line', 'word', or a positive int, got {unit!r}")


def dedupe_units_within_doc(
    docs: DataFrame,
    unit: str | int = "line",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove repeated units WITHIN each document, keeping the first
    occurrence (the standard repeated-line / repeated-paragraph scrub of
    a pretraining pipeline — cf. the Gopher repetition filters, applied
    as a transform instead of a drop).

    The key never crosses rows, so the whole transform is row-local:
    ``array_distinct`` keeps the FIRST occurrence in array order —
    exactly the min(pos)-per-(doc, unit) + rebuild-by-pos pipeline it
    replaces, without the explode, the two doc-keyed shuffles, or the
    rebuild join (guide §2.4: the cheapest shuffle is no shuffle). Zero
    exchanges, one scan. Output: (id, clean_text, n_units, n_kept).
    """
    units, sep = _unitize(text_col, unit)
    u = F.coalesce(units, F.array())  # NULL text == no units, as posexplode had it
    kept = F.array_distinct(u)
    return docs.select(
        F.col(id_col),
        F.concat_ws(sep, kept).alias("clean_text"),
        F.size(u).cast("long").alias("n_units"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def remove_boilerplate(
    docs: DataFrame,
    min_docs: int = 3,
    unit: str | int = "line",
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """C4-style corpus-level boilerplate removal: any unit (line by
    default) occurring in >= ``min_docs`` DISTINCT documents is dropped
    from every document (Raffel et al. 2020 removed lines seen 3+ times
    in the corpus).

    Plan: posexplode → distinct-doc count per unit (map-side combinable:
    first dedupe (unit, doc), then count) → the boilerplate set, which is
    tiny relative to the corpus and broadcast by default → anti-filter →
    rebuild. The per-unit count shuffle is keyed by unit content; the
    hottest corpus lines are exactly the boilerplate, but the pre-distinct
    keeps each (unit, doc) pair once so the reduce-side row count per key
    is bounded by |docs|, and only counts (not text) aggregate.

    Output: (id, clean_text, n_units, n_kept).
    """
    units, sep = _unitize(text_col, unit)
    # checkpoint the unitized frame: the docfreq count, the anti-filter
    # and the final join each re-planned the unitize uncut (guide §5).
    # n_units is size(_units) on the row, not another explode+groupBy.
    base = checkpoint(docs.select(F.col(id_col), units.alias("_units")))
    ex = base.select(id_col, F.posexplode("_units").alias("pos", "u"))
    per_unit = (
        ex.select("u", id_col)
        .distinct()
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("docfreq"))
    )
    boiler = per_unit.where(F.col("docfreq") >= min_docs).select("u")
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    kept = ex.join(boiler, "u", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "u"))),
                lambda s: s["u"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        # coalesce: a NULL-text doc has a NULL unit array (no exploded
        # rows before), so its n_units must be 0, not size(NULL)
        base.select(
            id_col,
            # cast: size() is INT, the groupBy count this replaces was LONG
            F.coalesce(F.size("_units"), F.lit(0))
            .cast("long")
            .alias("n_units"),
        )
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_units",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing: assign each document a (shard,
    seq_id, begin_offset) slot in fixed-size training sequences.

    The concat order is (shard, doc_id) where shard = md5(id) % n_shards —
    a document's placement depends only on ids and token counts, never on
    physical partitioning, so the packing is reproducible run-to-run and
    engine-to-engine. Each shard is packed independently (the window
    partitions by shard), so the packing parallelism is ``n_shards`` —
    pick n_shards ≈ cluster cores at scale; there is no global sort and
    no driver state. Documents straddle sequence boundaries (the reader
    splits at ``budget_tokens``), matching the standard "pack then chunk"
    pretraining loader.

    Output: (id, shard, n_tokens, seq_id, begin_offset).
    """
    from alphalens_spark.scale.dedup import md5_long

    n_tok = F.size(_tokens(text_col))
    base = docs.select(
        F.col(id_col),
        F.pmod(md5_long(F.col(id_col).cast("string"), 15), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(start / F.lit(budget_tokens)).cast("long").alias("seq_id"),
        F.pmod(start, F.lit(budget_tokens)).cast("long").alias("begin_offset"),
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    by: str = "source",
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    hash_mod: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-group sampling: keep a document iff
    ``md5(id) % hash_mod < fraction[group] · hash_mod`` — the data-mixing
    primitive for reweighting sources/languages in a training mix.

    Membership is decided per-row from the id alone (no shuffle, no
    state, reproducible across runs and engines); thresholds are exact
    integers so there is no float boundary. Output: (id, group,
    hash_bucket).
    """
    from alphalens_spark.scale.dedup import md5_long

    bucket = F.pmod(md5_long(F.col(id_col).cast("string"), 15), F.lit(hash_mod))
    thresh = F.lit(int(default_fraction * hash_mod))
    for g, frac in sorted(fractions.items()):
        thresh = F.when(F.col(by) == g, F.lit(int(frac * hash_mod))).otherwise(thresh)
    return (
        docs.select(F.col(id_col), F.col(by), bucket.alias("hash_bucket"))
        .where(F.col("hash_bucket") < thresh)
    )


def mixture_weights(
    docs: DataFrame,
    alpha: float = 0.5,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled source mixture: sampling weight p_g ∝ T_g^alpha
    over per-group token counts — the standard alpha-smoothing that
    up-samples small sources in multilingual/multi-source pretraining
    mixes (mC4 / XLM-R style, alpha in [0.3, 0.7]).

    Two tiny aggregations: per-group token totals (one shuffle on the
    group key), then a one-row normalizer broadcast back by crossJoin.
    Output: (group, n_docs, n_tokens, nat_frac, weight, oversample)
    where nat_frac = T_g/ΣT, weight = T_g^alpha / Σ T_h^alpha, and
    oversample = weight/nat_frac (the epochs-over-natural multiplier a
    loader applies per group).
    """
    toks = F.size(_tokens(text_col))
    # checkpoint: the normalizer and the output projection each
    # re-planned the corpus scan + groupBy uncut (guide §5)
    g = checkpoint(
        docs.groupBy(by).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("n_tokens"),
        )
    )
    tot = g.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("_tot_a"),
    )
    nat = F.col("n_tokens") / F.col("_tot")
    wgt = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) / F.col("_tot_a")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            by,
            "n_docs",
            "n_tokens",
            F.round(nat, 6).alias("nat_frac"),
            F.round(wgt, 6).alias("weight"),
            F.round(wgt / nat, 6).alias("oversample"),
        )
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicated-substring spans, n-gram anchored (the
    Spark-shaped form of Lee et al. 2021 "Deduplicating Training Data
    Makes Language Models Better" exact-substring dedup — a suffix array
    is a sequential build; anchoring on word ``k``-grams gives the same
    ≥ k-word duplicated regions with only explode → groupBy → window).

    Every word ``k``-gram occurring ≥ ``min_count`` times in the corpus
    (across OR within documents) marks its occurrence span
    ``[pos, pos+k-1]``; overlapping/adjacent marked spans in a document
    merge into maximal duplicated regions (running-max interval merge:
    a span starts an island iff its start exceeds every previous span's
    end). Docs shorter than ``k`` words emit no grams.

    Cost: the gram explode is |words| rows; the duplicate-gram count
    shuffles on gram content (map-side combinable; uniform unless the
    corpus shares one literal sentence at extreme frequency — cap with
    ``remove_boilerplate`` first); the span merge shuffles on doc id.
    No all-pairs stage anywhere. Output: one row per merged span
    (id, span_start, span_end, span_words).
    """
    words = _tokens(text_col)
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.concat_ws(" ", F.slice(words, i, k)).alias("g")
            ),
        ),
    ).otherwise(F.array())
    gx = docs.select(F.col(id_col), F.explode(grams).alias("s")).select(
        id_col, F.col("s.pos").alias("pos"), F.col("s.g").alias("g")
    )
    # corpus gram count as an unordered count window over the gram
    # partition: the former groupBy + join-back referenced the gram
    # explode TWICE (the plan re-ran the full scan+explode per
    # reference) and shuffled the occurrences a second time for the
    # join; the window attaches c on the explode's one gram-keyed
    # exchange (guide §2.4 — the tfidf df lesson)
    wc = Window.partitionBy("g")
    hits = (
        gx.withColumn("_c", F.count(F.lit(1)).over(wc))
        .where(F.col("_c") >= min_count)
        .select(id_col, F.col("pos").alias("s"), (F.col("pos") + (k - 1)).alias("e"))
    )
    w = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new", F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1).otherwise(0)
    ).withColumn("island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(id_col, "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document roll-up of :func:`duplicate_ngram_spans`: how much of
    each document sits inside corpus-duplicated regions — the score a
    curation pipeline thresholds on before cutting or down-weighting.
    Output: (id, n_words, n_dup_spans, dup_words, dup_word_frac)."""
    spans = duplicate_ngram_spans(docs, k, min_count, text_col, id_col)
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_words").alias("dup_words"),
    )
    n_words = docs.select(F.col(id_col), F.size(_tokens(text_col)).alias("n_words"))
    return (
        n_words.join(agg, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
            F.round(
                F.coalesce("dup_words", F.lit(0))
                / F.nullif(F.col("n_words").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_word_frac"),
        )
    )


def per_group_cap(
    docs: DataFrame,
    cap: int,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per group, chosen by hash order
    (deterministic pseudo-random, not first-k-by-id) — the per-domain cap
    of a crawl pipeline.

    One window keyed by the group column; at scale a pathologically hot
    group serializes through one task, so pair with
    ``scale.skew.with_salt`` for two-stage capping if a single group
    dominates (cap per (group, salt) at cap, then re-rank the survivors —
    the survivor set is ≤ salt·cap rows per group). Output: (id, group,
    sample_rank).
    """
    from alphalens_spark.scale.dedup import md5_long

    h = md5_long(F.col(id_col).cast("string"), 15)
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.select(F.col(id_col), F.col(by), F.row_number().over(w).alias("sample_rank"))
        .where(F.col("sample_rank") <= cap)
    )


def split_dataset(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    hash_mod: int = 1_000_000,
    by: str | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment from the id hash alone —
    the split every training pipeline needs to be reproducible across
    runs, engines, and re-shards (membership must NEVER depend on
    physical partitioning or row order, or a backfill silently leaks
    val into train).

    Contiguous integer hash ranges per split (exact thresholds, no float
    boundaries); rows beyond the summed fractions fall into the last
    split. Zero shuffles — a pure projection.

    ``by`` hashes a GROUP column instead of the row id — the
    leakage-safe split: every document of one source/site/url lands in
    the SAME split, so near-duplicates that cluster within a group can
    never straddle train and test (the contamination mode a row-level
    split invites). Split sizes then hold only in expectation over
    groups. Output: (id, hash_bucket, split)."""
    from alphalens_spark.scale.dedup import md5_long

    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    key = F.col(by if by is not None else id_col).cast("string")
    bucket = F.pmod(md5_long(key, 15), F.lit(hash_mod))
    names = list(fractions)
    bounds = []
    acc = 0
    for n in names:
        acc += int(fractions[n] * hash_mod)
        bounds.append(acc)
    expr = None
    for n, hi in zip(names, bounds):
        cond = bucket < hi
        expr = F.when(cond, F.lit(n)) if expr is None else expr.when(cond, F.lit(n))
    expr = expr.otherwise(F.lit(names[-1]))
    return docs.select(F.col(id_col), bucket.alias("hash_bucket"), expr.alias("split"))


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding token-window chunking — the sequence-preparation step that
    turns variable-length documents into fixed-size overlapping training
    windows (HF ``return_overflowing_tokens`` shape: window ``size``
    tokens, hop ``stride``).

    Coverage contract: chunk starts are the stride grid 0, s, 2s, …
    clamped to n−size, PLUS the final n−size start when the grid misses
    it — every chunk is exactly ``min(size, n)`` tokens (no degenerate
    tail fragments, which would skew downstream length statistics), and
    for ``stride <= size`` every token appears in at least one chunk
    (property-tested). ``stride > size`` deliberately samples the
    document with gaps — the cheap-coverage mode for quality probes.

    Scale shape: pure projection + one bounded explode (≤ ⌈n/stride⌉
    chunks per doc) — no shuffle, no UDF; the token array is materialized
    BELOW the explode so Generate cannot re-tokenize per emitted chunk
    (see the kmeans argmin-under-Generate lesson). Output: (id,
    chunk_idx, start_token, n_tokens, chunk_text).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(F.col("_toks"))
    last = F.greatest(n - size, F.lit(0))
    grid = F.sequence(F.lit(0), last, F.lit(stride))
    starts = F.when(
        (last > 0) & (last % stride != 0),
        F.concat(grid, F.array(last)),
    ).otherwise(grid)
    base = docs.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("_n"), starts.alias("_starts")
    )
    ex = base.select(
        id_col,
        "_toks",
        "_n",
        F.posexplode("_starts").alias("chunk_idx", "start_token"),
    )
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.col("start_token"),
        F.least(F.lit(size), F.col("_n") - F.col("start_token")).alias("n_tokens"),
        F.array_join(
            F.slice("_toks", F.col("start_token") + 1, size), " "
        ).alias("chunk_text"),
    )


def weighted_priority_sample(
    docs: DataFrame,
    weight_col: str,
    k: int = 100,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006
    A-ES): keep the k items with the largest priority u^(1/w), u uniform —
    each item's inclusion probability is proportional to its weight, and
    the scheme needs no global pass over the weight total (unlike
    normalized-probability sampling, which requires the sum before the
    first draw).

    u is the item's 60-bit md5 hash scaled to (0,1] — deterministic, so
    the sample is reproducible across runs/engines and membership never
    depends on partitioning. Priorities compare in log space
    (ln u / w, monotone in u^(1/w)) to avoid pow underflow when weights
    are small. Grouped: one bounded per-group top-k window (a rank
    shuffle on the group key). Ungrouped: two-stage top-k — per-partition
    prune to k survivors first, so only ≤ k·P candidate rows (not the
    table) ever reach the final single-partition rank. Output:
    (group…, id, weight, priority_key).
    """
    from pyspark.sql import Window

    from alphalens_spark.scale.dedup import md5_long

    gcols = list(group_cols or [])
    h_max = float(1 << 60)
    u = (md5_long(F.col(id_col).cast("string"), 15).cast("double") + 1.0) / F.lit(
        h_max
    )
    # larger is better: ln(u)/w is monotone in u^(1/w); round to 6dp so
    # the ordering (and thus membership) is oracle-stable at the compare
    # precision
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    base = docs.select(
        *gcols, F.col(id_col), F.col(weight_col).alias("weight"),
        key.alias("priority_key"),
    )
    order = [F.col("priority_key").desc(), F.col(id_col)]
    if not gcols:
        # stage 1: shuffle-free local prune — top-k inside each input
        # partition bounds the final rank's input to k·P rows
        local = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
        base = (
            base.withColumn("_lrn", F.row_number().over(local))
            .where(F.col("_lrn") <= k)
            .drop("_lrn")
        )
    w = Window.partitionBy(*(gcols or [F.lit(1)])).orderBy(*order)
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def dedupe_units_across_corpus(
    docs: DataFrame,
    unit: str | int = "line",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CORPUS-wide unit deduplication, C4-style (Raffel et al. 2020
    §2.2 dedupes any three-sentence span occurring more than once): a
    unit survives only in its first occurrence — lowest (doc_id, pos) in
    the whole corpus — and every later copy is cut from its document.
    The cross-document complement of :func:`dedupe_units_within_doc`
    (which cannot see a boilerplate footer shared by a million pages).

    Plan: posexplode → global min(doc, pos) per unit (ONE shuffle on the
    unit hash — uniform key, map-side partial min) → keep exploded rows
    matching the winner → rebuild per doc. No self-join: the winner set
    is derived by aggregation, and membership is (id, pos)-exact so a
    unit repeated within the winning document also keeps only its first
    copy. Output: (id, clean_text, n_units, n_kept).
    """
    units, sep = _unitize(text_col, unit)
    # the same checkpointed unitized frame as remove_boilerplate
    base = checkpoint(docs.select(F.col(id_col), units.alias("_units")))
    ex = base.select(id_col, F.posexplode("_units").alias("pos", "u"))
    # lexicographic (doc, pos) min in one agg: min over a struct
    win = ex.groupBy("u").agg(F.min(F.struct(id_col, "pos")).alias("_w"))
    winners = win.select(
        "u", F.col(f"_w.{id_col}").alias(id_col), F.col("_w.pos").alias("pos")
    )
    keep = ex.join(winners, ["u", id_col, "pos"], "left_semi")
    rebuilt = keep.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "u"))),
                lambda s: s["u"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select(
            id_col,
            F.coalesce(F.size("_units"), F.lit(0)).cast("long").alias("n_units"),
        )
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_units",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def curation_report(
    docs: DataFrame,
    steps: list[tuple[str, Column]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-step retention funnel through a cleaning stack: apply the
    named boolean predicates IN ORDER (each step sees only the previous
    step's survivors — the composition every curation pipeline actually
    runs) and report (step, step_idx, n_in, n_kept, n_dropped,
    keep_rate). The report is what gets reviewed before a multi-week
    training run: which stage ate the corpus.

    Scale shape: predicates are column expressions, so the whole funnel
    is ONE pass — each row evaluates the cumulative conjunction and the
    counts come from a single aggregation (sums of step-survival flags),
    not |steps| scans of the corpus.
    """
    if not steps:
        raise ValueError("at least one (name, predicate) step required")
    aggs = [F.count(F.lit(1)).alias("_n0")]
    cum = None
    for i, (name, pred) in enumerate(steps):
        cum = pred if cum is None else (cum & pred)
        aggs.append(
            F.sum(F.when(cum, 1).otherwise(0)).alias(f"_n{i + 1}")
        )
    row = docs.agg(*aggs)
    # reshape the 1-row wide aggregate to one row per step, driver-free
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(name).alias("step"),
                F.col(f"_n{i}").alias("n_in"),
                F.col(f"_n{i + 1}").alias("n_kept"),
            )
            for i, (name, _) in enumerate(steps)
        ]
    )
    ex = row.select(F.explode(pairs).alias("s")).select("s.*")
    return ex.select(
        "step_idx",
        "step",
        "n_in",
        "n_kept",
        (F.col("n_in") - F.col("n_kept")).alias("n_dropped"),
        F.round(
            F.col("n_kept") / F.nullif(F.col("n_in").cast("double"), F.lit(0.0)), 6
        ).alias("keep_rate"),
    )


def diversity_sample(
    emb: DataFrame,
    per_cell: int = 5,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced (diversity) sampling: partition the embedding
    space with the deterministic Lloyd quantizer and take the same
    number of rows from every cell — the standard guard against a
    frequency-skewed corpus collapsing a sample onto its dominant mode
    (uniform row sampling follows the density; per-cell sampling follows
    the SUPPORT).

    Membership inside a cell is the deterministic md5 uniform (rank by
    (hash, id)), so the sample is reproducible across runs, engines and
    shard layouts — same discipline as split_dataset/weighted sampling.
    The per-cell rank window partitions by cell: linear shuffle, no
    global ordering anywhere. Output: (id, cell, sample_rank),
    sample_rank ≤ per_cell.
    """
    from pyspark.sql import Window

    from alphalens_spark.scale.dedup import md5_long
    from alphalens_spark.scale.similarity import _nearest_cell, kmeans_lite_centroids

    cents = kmeans_lite_centroids(emb, n_cells, iters, id_col, vec_col)
    cells = emb.select(
        F.col(id_col), _nearest_cell(F.col(vec_col), cents).alias("cell")
    )
    hv = md5_long(F.col(id_col).cast("string"), 15)
    w = Window.partitionBy("cell").orderBy(hv.asc(), F.col(id_col))
    return (
        cells.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .where(F.col("sample_rank") <= per_cell)
        .select(id_col, F.col("cell").cast("int").alias("cell"), "sample_rank")
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    nfc: bool = False,
) -> DataFrame:
    """Canonical text normalization — the first stage of every corpus
    pipeline: strip C0/C1 control characters (keeping \\t \\n), collapse
    runs of whitespace to single spaces, trim. Pure JVM regex
    projection, zero shuffle.

    ``nfc=True`` additionally applies Unicode NFC composition through an
    Arrow-vectorized pandas UDF (Spark has no built-in normalizer;
    unicodedata.normalize is the same tables DuckDB's nfc_normalize
    uses) — the documented §2.10 escape hatch: vectorized, off by
    default, and the only non-JVM stage in the pipeline when enabled.

    Output: (id, text_norm, n_chars_norm).
    """
    col: F.Column = F.col(text_col)
    if nfc:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _nfc(s):
            import unicodedata

            return s.map(
                lambda x: unicodedata.normalize("NFC", x) if x is not None else None
            )

        col = _nfc(col)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(col, r"[\x00-\x08\x0B-\x1F\x7F-\x9F]", ""),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        F.col(id_col),
        cleaned.alias("text_norm"),
        F.length(cleaned).alias("n_chars_norm"),
    )


def corpus_report(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-aggregation corpus health screen — the numbers a pipeline
    checks before training on a new source: document/source counts,
    token volume, exact-duplicate mass (1 − distinct digests / docs),
    empty-document fraction, mean document length. ONE agg over doc-
    level projections (Catalyst evaluates everything in a single scan;
    the two exact distincts plan via Expand — the only shuffled part).
    Output: a single row.
    """
    toks = _tokens(text_col)
    base = docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_h"),
        F.col("source"),
        F.size(toks).alias("_nt"),
        (F.length(F.trim(F.col(text_col))) == 0).cast("int").alias("_empty"),
    )
    n = F.count(F.lit(1))

    def _micro(numer):
        # Snap ratio floats to the 1e-6 grid through exact-integer
        # numerators: numer*1e6 is exact in a double for any corpus
        # < 9e9 in the numerator unit, the single division and the
        # round-to-integer are then the same IEEE ops in every engine,
        # and BIGINT/1e6 reconstructs a bit-identical double. F.round
        # on a pre-divided double is NOT reproducible across engines
        # (last-ulp inputs round differently — this was a certified
        # driver hash failure).
        return (
            F.round(numer.cast("double") * F.lit(1e6) / n).cast("bigint")
            / F.lit(1e6)
        )

    return base.agg(
        n.alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("_nt").alias("total_tokens"),
        _micro(F.sum("_nt")).alias("mean_tokens"),
        _micro(n - F.countDistinct("_h")).alias("exact_dup_frac"),
        _micro(F.sum("_empty")).alias("empty_frac"),
    )


def _hashed_ngram_features(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int,
    hasher: str = "md5",
) -> DataFrame:
    """One row per (id, hashed unigram/bigram feature bucket) — the DSIR
    feature space (Xie et al. 2023 §2: hashed bag of n-grams). The md5
    reduction keeps buckets engine-reproducible (same expression the
    quality classifier's oracle replays in SQL); ``hasher="xxhash64"``
    is the production fast path (the cm_sketch precedent — ~4× cheaper
    per feature, Spark-only). spread_for_compute guards the CPU-bound
    hash stage against an under-partitioned scan (a single-file corpus
    otherwise serializes the whole explode+hash pipeline onto one core —
    measured 7.4 s vs 0.9 s at sf0.1)."""
    from alphalens_spark.scale.dedup import md5_long, spread_for_compute

    df = spread_for_compute(df)
    if hasher == "md5":
        bucket = lambda c: F.pmod(md5_long(c, 15), F.lit(n_buckets))  # noqa: E731
    elif hasher == "xxhash64":
        bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))  # noqa: E731
    else:
        raise ValueError(f"unknown hasher {hasher!r}")

    from alphalens_spark.scale.text import unigram_bigram_features

    feats = unigram_bigram_features(text_col)
    return df.select(
        F.col(id_col), F.explode(feats).alias("_t")
    ).select(id_col, bucket(F.col("_t")).alias("_b"))


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "md5",
    target_ids: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every raw
    document by how much more likely its hashed-n-gram bag is under the
    TARGET domain's feature distribution than under the raw corpus's own
    — log w(x) = Σ_b c_b(x)·(ln p̂_b − ln q̂_b), with p̂/q̂ the add-k
    smoothed bucket distributions of the target/raw corpora. Selecting
    by these weights (Gumbel top-k, :func:`dsir_select`) importance-
    resamples raw data toward the target domain — the published recipe
    behind domain-targeted pretraining mixes.

    Scale shape: two linear shuffles (per-side bucket counts; per-doc
    bucket counts — the raw corpus is scanned ONCE, its corpus-level
    counts derive from the per-doc table), then a broadcast join of the
    ``n_buckets``-row log-ratio table into the per-doc counts. Nothing
    driver-side, nothing quadratic; at 100 TB the only corpus-sized
    exchanges are the two hash-bucket groupBys.

    Output: (id, n_features, log_weight) — log_weight in nats, rounded
    to the 6-dp cross-engine grid.
    """
    rawdb = (
        _hashed_ngram_features(raw, text_col, id_col, n_buckets, hasher)
        .groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        # pin: rawdb feeds BOTH the corpus-level counts and the final
        # per-doc scoring join — without the checkpoint the lazy subtree
        # duplicates per consumer and the corpus SCANS AND HASHES TWICE
        # (plan audit showed 5 documents scans; at 100 TB that doubles
        # the dominant stage). Same reuse rule as minhash signatures.
        .transform(checkpoint)
    )
    cr = rawdb.groupBy("_b").agg(F.sum("_c").alias("_cr"))
    if target_ids is not None:
        # the target is a SUBSET of raw (the common in-corpus-domain
        # case): its bucket counts are a sum over the already-computed
        # per-doc counts — one id equi-join on the checkpointed rawdb
        # instead of a second full tokenize+hash pass over the target
        # half of the corpus. Identical integer counts by construction.
        ct = (
            rawdb.join(target_ids.select(F.col(id_col)), id_col)
            .groupBy("_b")
            .agg(F.sum("_c").alias("_ct"))
        )
    else:
        ct = dsir_bucket_counts(target, n_buckets, text_col, id_col, hasher)
    return _dsir_score(rawdb, cr, ct, n_buckets, smoothing, id_col)


def dsir_bucket_counts(
    docs: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "md5",
) -> DataFrame:
    """(_b, _ct) hashed-feature bucket counts of a corpus — the DSIR
    distribution artifact. Bounded at ``n_buckets`` rows, and MERGEABLE
    BY ADDITION across corpus shards / micro-batches (it's a plain
    count), which is what the incremental store relies on."""
    return (
        _hashed_ngram_features(docs, text_col, id_col, n_buckets, hasher)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_ct"))
    )


def _dsir_score(
    rawdb: DataFrame,
    cr: DataFrame,
    ct: DataFrame,
    n_buckets: int,
    smoothing: float,
    id_col: str,
) -> DataFrame:
    """Score per-doc bucket counts ``rawdb`` (_b, _c per id) against raw
    bucket counts ``cr`` (_b, _cr) and target bucket counts ``ct``
    (_b, _ct) — the shared core of the one-shot and store-backed DSIR
    paths."""
    counts = (
        cr.join(ct, "_b", "full_outer")
        .select(
            "_b",
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
        )
    )
    totals = counts.agg(
        F.sum("_cr").alias("_tr"), F.sum("_ct").alias("_tt")
    )
    k = F.lit(float(smoothing))
    denom = F.lit(float(smoothing) * n_buckets)
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_ct") + k) / (F.col("_tt") + denom))
            - F.log((F.col("_cr") + k) / (F.col("_tr") + denom))
        ).alias("_lr"),
    )
    out = (
        rawdb.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_features"),
            F.sum(F.col("_c") * F.col("_lr")).alias("_lw"),
        )
    )
    return out.select(
        id_col,
        "n_features",
        (F.round("_lw", 6) + F.lit(0.0)).alias("log_weight"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int = 100,
    n_buckets: int = 256,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gumbel top-k importance RESAMPLING over :func:`dsir_importance_
    weights` (the selection step of DSIR): key = log w + Gumbel noise,
    keep the k largest — samples without replacement with inclusion
    probability ∝ w, in log space so no exp() ever overflows. The
    Gumbel uniforms are the repo's deterministic md5 scheme (same as
    weighted_priority_sample): reproducible across runs and engines,
    membership never flips under repartitioning.

    Two-stage top-k (per-partition prune → global rank) — the same
    no-global-sort shape as the A-ES sampler.
    """
    from alphalens_spark.scale.dedup import md5_long

    w = dsir_importance_weights(
        raw, target, n_buckets, smoothing, text_col, id_col
    )
    # u in (0, 1]: (h + 1) / 2^60 over the 60-bit md5 reduction
    u = (md5_long(F.col(id_col).cast("string"), 15) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(1 << 60))
    keyed = w.withColumn("_key", F.col("log_weight") - F.log(-F.log(u)))
    part = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.desc("_key"), id_col
    )
    pruned = keyed.withColumn("_pr", F.row_number().over(part)).where(
        F.col("_pr") <= k
    )
    glob = Window.orderBy(F.desc("_key"), id_col)
    return (
        pruned.withColumn("_r", F.row_number().over(glob))
        .where(F.col("_r") <= k)
        .select(id_col, "n_features", "log_weight")
    )


def epoch_shuffle(
    docs: DataFrame, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global shuffle order for one training epoch: every
    row gets a contiguous 0-based ``shuffle_pos`` by ranking the keyed
    hash md5(seed ':' id) — a different, reproducible permutation per
    seed, stable under partitioning/retries (no RNG state anywhere).
    Writers `ORDER BY shuffle_pos` (or range-partition on it) to lay
    training shards out in shuffled order; readers stream sequentially.

    Scale shape — global rank WITHOUT a global window (build_vocab's
    zipWithIndex pattern): rows range-repartition on the hash key, rank
    per partition, and shift by per-partition offsets; the only
    unpartitioned window runs over one row per partition. The id joins
    the sort key as a tiebreak so the order is total even on the
    measure-zero chance of a 60-bit hash collision.

    Output: (id, shuffle_pos long).
    """
    from alphalens_spark.scale.dedup import md5_long

    key = md5_long(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string")), 15
    )
    # pin: keyed feeds BOTH the offsets broadcast and the main rank job
    # — unpinned, the scan + md5 + range shuffle execute twice, and the
    # two evaluations of nondeterministic spark_partition_id() are only
    # accidentally consistent (the dsir/langid duplicate-subtree lesson)
    keyed = (
        docs.select(F.col(id_col), key.alias("_k"))
        .repartitionByRange(F.col("_k").asc(), F.col(id_col).asc())
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    offsets = (
        keyed.groupBy("_pid")
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
    w_in = Window.partitionBy("_pid").orderBy(
        F.col("_k").asc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "_pid")
        .select(
            id_col,
            (F.col("_off") + F.col("_rn") - 1).cast("long").alias("shuffle_pos"),
        )
    )


def pretraining_funnel(
    docs: DataFrame,
    min_quality: float = 0.5,
    budget_tokens: int = 20_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end pretraining-corpus funnel — the composition a real
    pipeline runs, with an auditable per-stage report:

    0. raw corpus
    1. quality gate (``scale.text.quality_score`` composite ≥
       ``min_quality``)
    2. exact dedup (md5 keep-first, the ``dedup_exact`` rule)
    3. token-budget sample (``scale.text.token_budget_sample`` —
       quality-first buckets, boundary bucket thinned by the exact
       integer hash threshold)

    Output: one row per stage (stage_idx, stage, n_docs, n_tokens) —
    the funnel numbers a data-governance review asks for. Each stage
    consumes the previous stage's survivors, so the report reflects
    the composition, not four independent filters. Every stage is an
    already-oracled library operator; the whole chain replays as one
    CTE pipeline in SQL.

    Scale shape — stage MEMBERSHIP FLAGS in one lineage, report via
    ONE conditional aggregate (the plan audit caught the naive
    stage-by-stage form re-executing its whole prefix per stage: 15
    corpus scans / 13 shuffles for a 4-row report). One narrow
    projection computes (id, digest, token count, quality score) —
    the shared rubric expressions of ``scale.text.quality_score``, so
    the gate needs no id-key join back; the dedup flag is a min-id
    window over the digest (one key shuffle, first-qualifying-doc
    wins exactly like the ``dedup_exact`` groupBy+semi-join); the
    budget flag reuses ``token_budget_sample``'s keep rule via
    ``budget_keep_condition`` (its bucket table is score-dimension-
    sized — one extra pass over the same narrow lineage, the only
    second corpus scan). Final report: one 1-row conditional
    aggregate, unpivoted to the 4 stage rows. 2 scans / 4 shuffles
    total, no persistence required, plan stays audit-transparent
    (no checkpoint blanking).

    NOT fully lazy: ``budget_keep_condition`` collects its ≤5-row
    bucket-threshold table at PLAN-CONSTRUCTION time, so calling this
    function eagerly runs one scan of the stage-2 survivors before the
    returned DataFrame is ever acted on (the second of the two scans
    above). Callers that need a deferred plan should stage the funnel
    themselves from the same library operators.
    """
    from alphalens_spark.scale.text import (
        budget_keep_condition,
        quality_feature_columns,
    )

    feats = quality_feature_columns(text_col)
    per = docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_h"),
        feats["n_tokens"].alias("_nt"),
        feats["quality_score"].alias("_q"),
    )
    q_ok = F.col("_q") >= min_quality
    # stage-2 keep: the min-id doc among quality-passing clones of one
    # digest (min ignores the NULLs the when() leaves on failing rows)
    first_ok = F.min(F.when(q_ok, F.col(id_col))).over(
        Window.partitionBy("_h")
    )
    flagged = per.select(
        F.col(id_col),
        F.col("_nt"),
        F.col("_q"),
        q_ok.alias("_s1"),
        (q_ok & (F.col(id_col) == first_ok)).alias("_s2"),
    )
    sel_cond = budget_keep_condition(
        flagged.where(F.col("_s2")).select(
            F.col(id_col),
            F.col("_nt").alias("n_tokens"),
            F.col("_q").alias("quality_score"),
        ),
        budget_tokens,
        id_col,
    )
    # the condition references `quality_score` and the id column by name
    final = (
        flagged.select(
            F.col(id_col),
            "_nt",
            F.col("_q").alias("quality_score"),
            "_s1",
            "_s2",
        )
        .withColumn("_s3", F.col("_s2") & sel_cond)
        .select("_nt", "_s1", "_s2", "_s3")
    )

    def cnt(flag: F.Column | None) -> F.Column:
        c = F.lit(1) if flag is None else F.when(flag, 1)
        return F.count(c).cast("bigint")

    def tok(flag: F.Column | None) -> F.Column:
        v = F.col("_nt") if flag is None else F.when(flag, F.col("_nt"))
        return F.coalesce(F.sum(v), F.lit(0)).cast("bigint")

    agg = final.agg(
        cnt(None).alias("n0"), tok(None).alias("t0"),
        cnt(F.col("_s1")).alias("n1"), tok(F.col("_s1")).alias("t1"),
        cnt(F.col("_s2")).alias("n2"), tok(F.col("_s2")).alias("t2"),
        cnt(F.col("_s3")).alias("n3"), tok(F.col("_s3")).alias("t3"),
    )
    names = ["raw", "quality_gate", "exact_dedup", "token_budget"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(names[i]).alias("stage"),
                F.col(f"n{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i in range(4)
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


def k_anonymity_report(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Re-identification risk screen over a quasi-identifier combination
    — the privacy gate a dataset passes before it ships to training or
    release (Sweeney's k-anonymity): every row should be hidden in a
    crowd of at least ``k`` rows sharing its quasi-identifier values.

    One map-side-combinable groupBy on the quasi columns, then one
    1-row aggregate over the (bounded, group-count-sized) histogram —
    nothing row-sized leaves the first shuffle. All-integer output:
    (n_rows, n_groups, min_group_size, n_singleton_groups,
    n_groups_below_k, n_rows_at_risk, k).
    """
    qs = list(quasi_cols)
    sizes = df.groupBy(*qs).agg(F.count(F.lit(1)).alias("_c"))
    return sizes.agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("_c").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singleton_groups"),
        F.sum(F.when(F.col("_c") < k, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_below_k"),
        F.sum(F.when(F.col("_c") < k, F.col("_c")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.lit(k).cast("int").alias("k"),
    )


def enforce_k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Suppression enforcement for :func:`k_anonymity_report`: drop every
    row whose quasi-identifier group has fewer than ``k`` members
    (generalization/bucketing is domain-specific — coarsen the quasi
    columns FIRST, e.g. round a balance to its hundred, then suppress
    the remainder). One group-count + one semi-join on the quasi key;
    the surviving frame is k-anonymous by construction (tested).
    """
    qs = list(quasi_cols)
    keep = (
        df.groupBy(*qs)
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= k)
        .select(*[F.col(q).alias(f"_k_{q}") for q in qs])
    )
    # null-SAFE equality: groupBy treats NULL quasi values as one group
    # (they appear in the report), so the semi-join must match them too —
    # a plain column-list join silently drops every NULL-keyed group
    # regardless of its size (review-confirmed)
    cond = F.lit(True)
    for q in qs:
        cond = cond & F.col(q).eqNullSafe(F.col(f"_k_{q}"))
    return df.join(keep, cond, "left_semi")

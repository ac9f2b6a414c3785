"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale notes: exact dedup is one hash-groupBy (map-side partial agg, one
shuffle on the 128-bit digest — uniformly distributed, no skew). Near-dup
pipelines avoid the quadratic all-pairs join by bucketing (LSH bands /
simhash prefixes) and only comparing within buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from alphalens_spark.session import cache, checkpoint, persisted

# deterministic MinHash parameters: h_i(x) = (a_i * x + b_i) mod P, the
# classic universal-hash family. P = 2^31 − 1 (Mersenne) with inputs
# reduced to 31 bits keeps every a·x + b product < 2^62 — exact in
# uint64, so the vectorized numpy evaluation is overflow-free universal
# hashing (not wrap-around pseudo-hashing).
_MINHASH_PRIME = (1 << 31) - 1


def md5_long(col: F.Column, hexchars: int = 15) -> F.Column:
    """First ``hexchars`` hex digits of md5 as a non-negative long.

    md5 is the one hash both Spark and DuckDB compute identically, so
    operators parameterized on it get a full SQL oracle instead of the
    weaker rows-only check (DuckDB side: ``('0x' || substr(md5(x),1,n))
    ::BIGINT``). 15 hex chars = 60 bits keeps the value signed-positive.
    """
    return F.conv(F.substring(F.md5(col), 1, hexchars), 16, 10).cast("long")


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition up to default parallelism when the source is
    under-partitioned.

    CPU-bound text stages (shingling, hashing, tokenizing) inherit the
    scan's split count; a small/compacted parquet source can arrive as
    ONE partition and serialize the whole stage onto one core (measured
    4.9 s single-threaded vs ~0.2 s spread, sf0.1 documents). At real
    scale the scan has plenty of splits and this is a no-op — the
    repartition only fires when parallelism would otherwise be wasted.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _cap_hot_grams(ex: DataFrame, max_df: int | None, what: str) -> DataFrame:
    """Document-frequency cap on gram postings (the 100 TB guard).

    A stopword-only gram shared by 10⁹ documents makes its posting list a
    single join bucket whose self-join is quadratic IN THAT BUCKET — the
    one way an inverted-index join degenerates to all-pairs. Grams with
    df > ``max_df`` carry no dedup signal (they match everything), so we
    count document frequency, anti-join the hot grams out of the postings,
    and log how many were dropped. ``max_df=None`` disables the cap (the
    oracle-checked default at test SF).

    ``ex`` must be one row per (document, distinct gram) with the gram in
    column ``gram`` — then count(*) per gram IS document frequency.
    """
    if max_df is None:
        return ex
    import logging

    hot = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df)
        .select("gram")
    )
    logging.getLogger(__name__).info(
        "%s: max_df=%d dropping %d hot gram(s) from postings",
        what, max_df, hot.count(),
    )
    return ex.join(hot, "gram", "left_anti")


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups keyed by md5 of the text.

    Output: (text_hash, keep_id = min id, n_dups). One shuffle; at 100 TB
    group by the digest (not the text) so shuffle rows carry 32 bytes, and
    the skew profile is uniform by construction.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, score_col: str, exact_score
) -> DataFrame:
    """Re-expand representative-level near-dup pairs to member level.

    Cross-group: every (rep_a, rep_b, score) pair fans out to all
    (member_a, member_b) combinations — identical text implies identical
    signature, so the representative's score IS each member's score.
    Within-group: members of one exact group are pairwise exact dups, so
    they pair at ``exact_score`` (est_jaccard 1.0 / hamming 0) without
    ever touching the band join. Both expansions are pure equi-joins
    whose output is exactly the contracted pair set — the theoretical
    minimum work for a pair-level contract. (For clone-heavy corpora the
    pair set ITSELF is quadratic in the largest clone group; consume
    :func:`exact_duplicates` + rep-level pairs directly — the star form
    connected_components needs — when that matters.)
    """
    ma = members.select(F.col("_rep").alias("id_a"), F.col("_m_id").alias("_a"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("_m_id").alias("_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            score_col,
        )
    )
    wa = members.select(F.col("_rep").alias("_g"), F.col("_m_id").alias("id_a"))
    wb = members.select(F.col("_rep").alias("_g"), F.col("_m_id").alias("id_b"))
    score = exact_score if isinstance(exact_score, F.Column) else F.lit(exact_score)
    within = (
        wa.join(wb, "_g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias(score_col))
    )
    return cross.unionByName(within)


def _tokens(text_col: str = "text") -> F.Column:
    """The library's one word tokenizer: lower-cased, trimmed text split
    on whitespace runs. Every text, curation and dedup operator tokenizes
    through it (``functions.tokens`` / ``functions.words``)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _shingles(text_col: str, k: int = 3) -> F.Column:
    """Token k-gram shingle array (JVM-side transform, no Python UDF).

    Word shingles keep the shingle set ~|tokens| instead of ~|chars|
    (30× fewer hash evaluations than char shingles on prose) while
    preserving near-dup sensitivity for document-level dedup.
    """
    toks = _tokens(text_col)
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def _gram_set(text_col: str, n: int, hash_grams: bool) -> F.Column:
    """A document's distinct word n-gram set: :func:`_shingles`, with
    each gram hashed to an 8-byte xxhash64 posting key when
    ``hash_grams`` is set (plain strings keep the set oracle-readable)."""
    grams = _shingles(text_col, n)
    if not hash_grams:
        return grams
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document MinHash signature (array of num_hashes longs).

    ``extra_cols`` ride along unchanged next to (id, minhash) — the LSH
    caller threads the exact-dup member lists through so the cached
    signature frame can answer the member re-expansion without a second
    corpus scan.

    Shingle → xxhash64 (JVM, one higher-order-function pass, reduced to
    31 bits) → the ``num_hashes`` universal-hash minima in ONE
    Arrow-batched pandas UDF. The permutation stage deliberately leaves
    the JVM: Spark's higher-order array functions are interpreted per
    element outside whole-stage codegen, so 64 separate
    ``array_min(transform(...))`` passes cost ~2 µs/element (measured
    7 s for 15 M hash evaluations at sf0.1); the numpy form is one
    vectorized (|shingles| × num_hashes) modmul per batch — ~50 ms for
    the same work. This is the SURVEY §2.10 escape-hatch policy applied
    in reverse: built-ins first UNLESS the built-in is an interpreted
    HOF on the hot path. No shuffle until a downstream groupBy.

    ``shingle_hash="md5"`` swaps the Spark-only xxhash64 shingle hash for
    the cross-engine md5 reduction (first 8 hex digits mod P) so the whole
    signature is reproducible in ANSI SQL — the DuckDB-oracle path.
    """
    from pyspark.sql.functions import pandas_udf

    a_li, b_li = minhash_coeffs(num_hashes, seed)
    a_co = np.array(a_li, dtype=np.uint64)
    b_co = np.array(b_li, dtype=np.uint64)
    prime = np.uint64(_MINHASH_PRIME)
    empty_sig = [int(x) for x in ((a_co * 0 + b_co) % prime)]

    @pandas_udf("array<long>")
    def _perm_mins(shash: pd.Series) -> pd.Series:
        out = []
        for arr in shash:
            if arr is None or len(arr) == 0:
                out.append(empty_sig)
                continue
            x = np.asarray(arr, dtype=np.uint64)[:, None]  # (n_shingles, 1)
            mins = ((x * a_co[None, :] + b_co[None, :]) % prime).min(axis=0)
            out.append(mins.astype(np.int64).tolist())
        return pd.Series(out)

    if shingle_hash == "md5":
        reduce31 = lambda s: md5_long(s, 8) % F.lit(_MINHASH_PRIME)  # noqa: E731
    elif shingle_hash == "xxhash64":
        reduce31 = lambda s: F.abs(F.xxhash64(s)) % F.lit(_MINHASH_PRIME)  # noqa: E731
    else:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r}")
    sh = _shingles(text_col, shingle_k)
    extras = [F.col(c) for c in extra_cols]
    base = spread_for_compute(docs).select(
        F.col(id_col),
        F.transform(sh, reduce31).alias("_shash"),
        *extras,
    )
    return base.select(
        id_col, _perm_mins("_shash").alias("minhash"), *extra_cols
    )


def minhash_coeffs(num_hashes: int = 64, seed: int = 42) -> tuple[list[int], list[int]]:
    """The (a_i, b_i) universal-hash coefficients used by
    :func:`minhash_signatures` — exposed so a SQL oracle can embed the
    identical literals."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _MINHASH_PRIME) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MINHASH_PRIME) for _ in range(num_hashes)]
    return a, b


def minhash_lsh_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    shingle_hash: str = "xxhash64",
    collapse_exact: bool = True,
    shuffle_payload: str = "auto",
    ids_payload_min_bytes: int = 1 << 30,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH.

    Signature → split into ``bands`` bands of ``num_hashes/bands`` rows →
    hash each band → explode (doc, band_id, band_hash) → group the
    (id, signature) items by (band_id, band_hash) → expand in-bucket
    pairs and estimate Jaccard as the fraction of agreeing signature
    positions, inline → filter by threshold.

    The band bucketing is a uniform-hash groupBy: ONE linear shuffle of
    the signature frame, never the O(n²) all-pairs comparison. (An
    earlier form expressed the bucketing as a self equi-join plus two
    signature-lookup verification joins — four exchanges over the same
    data for the same pair set; the groupBy form carries the signatures
    into the bucket so verification is a zip_with over the grouped row,
    no join anywhere. Candidate pairs stream out of the bucket via two
    chained explodes, so a pathological hot bucket produces many rows,
    not one giant one — the same output volume the join form would have
    streamed.) Residual hazard: a 100k-copy template document puts 100k
    IDENTICAL items in one (band, hash) bucket and the in-bucket
    expansion goes quadratic (10¹⁰ candidate pairs). Real corpora have
    exactly such clone clusters, so ``collapse_exact`` (default) first
    collapses md5-exact duplicate groups in ONE map-side-combinable
    groupBy that also records each group's member-id list; only the one
    representative per group is signed and banded — a bucket then never
    holds two identical texts — and the pair set re-expands afterwards
    (:func:`_expand_rep_pairs`; output provably identical to the
    uncollapsed run, since exact dups share signatures). The member
    lists ride through the cached signature frame (``extra_cols``),
    so the whole computation scans the corpus text exactly ONCE (the
    earlier form paid a second scan + window shuffle to rebuild the
    membership map). Output: (id_a, id_b, est_jaccard), id_a < id_b,
    distinct.

    ``shuffle_payload`` picks what the banding exchange carries
    (guide §2.3 "shuffle keys and metadata instead of payloads" / §8):

    - ``"signatures"`` — each of the ``bands`` bucket rows carries the
      full ``num_hashes``-long signature, so in-bucket verification is
      a zip_with with no join anywhere. Fastest at bench SF (paired
      same-JVM A/B at sf0.1: 4.67 s vs 5.24 s for "ids") but the one
      shuffle moves ``bands`` copies of every signature — 29.4 MB
      shuffle-write at sf0.1 (measured, REST API).
    - ``"ids"`` — bucket rows carry only the 8-byte doc id; candidate
      pairs are deduped and the two signatures re-attach via equi-joins
      against the already-cached signature frame. 7.3 MB
      shuffle-write for the identical 256-pair output at sf0.1 (4x
      less; the gap scales with num_hashes × bands, so cluster-scale
      corpora are payload-dominated). Costs two extra join stages —
      fixed latency that dominates at bench SF and vanishes at scale.
    - ``"auto"`` (default) — "ids" when the estimated signature-payload
      shuffle (n_reps × bands × (8·num_hashes + 28) bytes, n_reps from
      the signature frame's materialization count) exceeds
      ``ids_payload_min_bytes`` (default 1 GiB), else "signatures".
      Deterministic in the data size, and both arms are
      output-identical (oracle-verified), so the switch never changes
      results.

    The signature frame stays cached for the session, so a repeat call
    on the same docs reads it: freeing it cost ~2.4 → ~3.9 s per repeat call,
    and perfbench ``corpus`` times such repeats (the one exception to
    :mod:`alphalens_spark.session`'s policy).
    """
    if shuffle_payload not in ("auto", "signatures", "ids"):
        raise ValueError(f"unknown shuffle_payload {shuffle_payload!r}")
    rows_per_band = num_hashes // bands
    members = None
    if collapse_exact:
        # one aggregation yields BOTH the min-id representative rows fed
        # to the signature pass and the member-id lists the final pair
        # re-expansion needs. ``first`` over the group text is
        # value-deterministic — md5-exact groups share identical text.
        docs = (
            docs.groupBy(F.md5(F.col(text_col)).alias("_digest"))
            .agg(
                F.min(id_col).alias(id_col),
                F.first(text_col).alias(text_col),
                F.collect_list(id_col).alias("_ids"),
            )
            .drop("_digest")
        )
    # the session memo (see the docstring), filled eagerly: it feeds the
    # banding pass and (collapsed case) the member re-expansion joins,
    # which would race to fill a lazy cache, each recomputing the whole
    # shingle→hash→UDF pipeline; one count() pins it first.
    sigs = cache(minhash_signatures(
        docs,
        text_col,
        id_col,
        num_hashes,
        shingle_k,
        shingle_hash=shingle_hash,
        extra_cols=("_ids",) if collapse_exact else (),
    ))
    n_reps = sigs.count()
    if shuffle_payload == "auto":
        est_payload = n_reps * bands * (8 * num_hashes + 28)
        shuffle_payload = (
            "ids" if est_payload > ids_payload_min_bytes else "signatures"
        )
    if collapse_exact:
        members = sigs.select(
            F.col(id_col).alias("_rep"), F.explode("_ids").alias("_m_id")
        )
    band_hash = F.xxhash64(
        F.slice("minhash", F.col("band_id") * rows_per_band + 1, rows_per_band),
        "band_id",
    )
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
        F.col("minhash"),
    )
    agree_ab = lambda a, b: F.size(  # noqa: E731
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
    )
    if shuffle_payload == "signatures":
        buckets = (
            banded.select(
                "band_id",
                band_hash.alias("band_hash"),
                F.struct(F.col("id"), F.col("minhash")).alias("_item"),
            )
            .groupBy("band_id", "band_hash")
            .agg(F.collect_list("_item").alias("_items"))
            .where(F.size("_items") > 1)
        )
        # two chained explodes stream the in-bucket pair set row by row
        pairs = (
            buckets.select(F.explode("_items").alias("_x"), "_items")
            .select("_x", F.explode("_items").alias("_y"))
            .where(F.col("_x.id") < F.col("_y.id"))
        )
        est = agree_ab("_x.minhash", "_y.minhash").cast("double") / F.lit(
            float(num_hashes)
        )
        out = (
            pairs.select(
                F.col("_x.id").alias("id_a"),
                F.col("_y.id").alias("id_b"),
                est.alias("est_jaccard"),
            )
            .where(F.col("est_jaccard") >= threshold)
            # the same pair qualifies in every band where the two
            # signatures agree; est_jaccard is a pure function of the two
            # signatures, so any surviving duplicate row carries the
            # identical value
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # ids-only banding shuffle; dedup the candidate pair set FIRST,
        # then re-attach the two signatures from the cached frame
        # (each candidate verified once, not once per agreeing band)
        cand = (
            banded.select("band_id", band_hash.alias("band_hash"), "id")
            .groupBy("band_id", "band_hash")
            .agg(F.collect_list("id").alias("_bids"))
            .where(F.size("_bids") > 1)
        )
        pairs = (
            cand.select(F.explode("_bids").alias("_a"), "_bids")
            .select("_a", F.explode("_bids").alias("_b"))
            .where(F.col("_a") < F.col("_b"))
            .dropDuplicates(["_a", "_b"])
        )
        sa = sigs.select(F.col(id_col).alias("_a"), F.col("minhash").alias("_ma"))
        sb = sigs.select(F.col(id_col).alias("_b"), F.col("minhash").alias("_mb"))
        est = agree_ab("_ma", "_mb").cast("double") / F.lit(float(num_hashes))
        out = (
            pairs.join(sa, "_a")
            .join(sb, "_b")
            .select(
                F.col("_a").alias("id_a"),
                F.col("_b").alias("id_b"),
                est.alias("est_jaccard"),
            )
            .where(F.col("est_jaccard") >= threshold)
        )
    if members is not None:
        out = _expand_rep_pairs(out, members, "est_jaccard", 1.0)
    return out


def connected_components(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: (node, comp) where
    comp = the minimum id reachable through the pair graph.

    Pairs alone don't dedup anything — a chain a~b, b~c must collapse to
    ONE keeper. Min-label propagation, the standard distributed
    connected-components scheme: every node starts labeled with itself;
    each round every node takes the min of its own and its neighbors'
    labels (one equi-join + one groupBy-min); stop when a round changes
    nothing. Rounds needed = graph diameter — near-dup graphs are
    near-clique clusters with diameter 2-3, so this converges in a few
    cheap rounds (each linear in |edges|); the change count is observed
    on the round's checkpoint job, with no comparison join.
    :func:`~alphalens_spark.session.checkpoint` cuts the growing lineage
    each round (the iterative-algorithm discipline Spark needs; without
    it round N replays rounds 1..N−1). For adversarial
    long-chain graphs at extreme scale, the alternating large-star/
    small-star algorithm (Kiveris et al., SOCC'14) halves rounds — not
    needed for dedup-shaped graphs.

    Output: (node, comp) for every node that appears in ``pairs``.
    """
    e = pairs.select(F.col(id_col_a).alias("s"), F.col(id_col_b).alias("d"))
    edges = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        # hash-partition the static edge list by the propagation join key
        # (distinct leaves it partitioned by (s, d)): the cached frame
        # keeps this outputPartitioning, so every round's edges⋈labels
        # join shuffles only the |V|-sized label frame, not |E| edge
        # rows — the LPA neighbor-list rule
        .repartition(F.col("s"))
    )
    with persisted(edges):
        # the initial labels are a distinct over the cached s-partitioned
        # edges (no exchange); the first round's checkpoint computes them
        labels = (
            edges.select(F.col("s").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("comp"))
        )
        for _ in range(max_iter):
            # propagated rows carry a NULL own label, so max(own) is the
            # node's previous label and min(comp) < own iff the label fell
            prop = edges.join(labels, edges["s"] == labels["node"]).select(
                F.col("d").alias("node"), "comp", F.lit(None).alias("own")
            )
            obs = Observation()
            labels = checkpoint(
                labels.withColumn("own", F.col("comp"))
                .unionByName(prop)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"), F.max("own").alias("own"))
                .observe(
                    obs,
                    F.count(F.when(F.col("comp") < F.col("own"), 1)).alias("n"),
                )
                .select("node", "comp")
            )
            if obs.get["n"] == 0:
                break
        return labels


def duplicate_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs → connected
    components → (doc_id, canonical_id). Keep rows where
    doc_id == canonical_id, drop the rest — the complete dedup decision,
    not just the candidate pairs."""
    pairs = minhash_lsh_duplicates(
        docs, text_col, id_col, threshold=threshold, shingle_hash=shingle_hash
    )
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias(id_col), F.col("comp").alias("canonical_id")
    )


def simhash_bits(token_hash: str) -> int:
    """Fingerprint width per token-hash family: 63 usable bits of
    xxhash64 (sign bit excluded), 60 bits of the md5 reduction."""
    if token_hash == "xxhash64":
        return 63
    if token_hash == "md5":
        return 60
    raise ValueError(f"unknown token_hash {token_hash!r}")


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
    impl: str = "vectorized",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SimHash over whitespace tokens (63-bit xxhash64 / 60-bit md5).

    ``extra_cols`` ride along unchanged next to (id, simhash) — see
    :func:`minhash_signatures`.

    For each bit position, sum ±1 votes from each token's hash bit; the
    fingerprint sets bit i when the vote is positive.
    ``token_hash="md5"`` makes the fingerprint reproducible in ANSI SQL
    (the DuckDB-oracle path). Output: (id, simhash long).

    Two implementations, bit-identical (equality-tested):
      'vectorized' (default)  token hashing stays a JVM transform; the
          60-63 per-bit votes run as ONE numpy unpackbits+sum per Arrow
          batch. Same rationale as the minhash permutation stage
          (see minhash_signatures): each ``F.aggregate`` higher-order
          pass is interpreted per element outside whole-stage codegen
          (~2 µs/element), and simhash needs n_bits of them per document
          — measured 1.51 s vs 0.19 s at sf0.1 (8×; the gap scales with
          tokens·n_bits, so it widens on longer real-corpus documents).
      'hof'  the pure-JVM aggregate-expression form — no Python worker
          at all; right when the Arrow channel is unavailable, and kept
          as the oracle of the vectorized path.
    """
    n_bits = simhash_bits(token_hash)
    toks = _tokens(text_col)
    th = (
        (lambda t: md5_long(t, 15))
        if token_hash == "md5"
        else (lambda t: F.xxhash64(t))
    )
    hashed = spread_for_compute(docs).select(
        F.col(id_col),
        F.transform(toks, th).alias("_th"),
        *[F.col(c) for c in extra_cols],
    )

    if impl == "vectorized":
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _vote_pack(th_arrays: pd.Series) -> pd.Series:
            out = []
            for arr in th_arrays:
                if arr is None:
                    out.append(None)
                    continue
                # int64 keeps Java's two's-complement bit pattern; the
                # uint8 view feeds unpackbits (little-endian bit order →
                # column i IS bit i of the signed long)
                x = np.asarray(arr, dtype=np.int64)
                bits = np.unpackbits(
                    x.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )
                cnt = bits.sum(axis=0, dtype=np.int64)  # set-bit count per position
                # vote_i = 2·cnt_i − n > 0  ⟺  bit i of the fingerprint
                keep = (2 * cnt > len(x)).astype(np.uint8)
                keep[n_bits:] = 0  # fingerprint width < 64
                sim = np.packbits(keep, bitorder="little").view(np.int64)[0]
                out.append(int(sim))
            return pd.Series(out, dtype="object")

        return hashed.select(
            id_col, _vote_pack("_th").alias("simhash"), *extra_cols
        )

    if impl != "hof":
        raise ValueError(f"unknown impl {impl!r}")

    def _vote(i: int) -> F.Column:
        mask = F.shiftleft(F.lit(1).cast("long"), i)
        return F.aggregate(
            "_th",
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        sim = sim + F.when(_vote(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
    return hashed.select(id_col, sim.alias("simhash"), *extra_cols)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hash_grams: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token n-gram Jaccard for candidate pairs sharing ≥1 n-gram.

    Explode n-grams → self-join on the n-gram hash → count shared per pair
    → |A∩B| / (|A| + |B| − |A∩B|). The join is linear in total n-gram
    postings (inverted-index style), not all-pairs — UNLESS a gram is
    pathologically hot (a stopword-only 3-gram at corpus scale is a
    10⁹-row posting list whose self-join is quadratic in-bucket). Set
    ``max_df`` to drop grams appearing in more than that many documents
    before the join (:func:`_cap_hot_grams`); set sizes |A|, |B| are then
    recomputed over the CAPPED gram sets so the score stays a true
    Jaccard of the represented sets.
    """
    grams = _gram_set(text_col, n, hash_grams)
    g = spread_for_compute(docs).select(F.col(id_col).alias("id"), grams.alias("_g"), F.size(grams).alias("_n"))
    ex = g.select("id", "_n", F.explode("_g").alias("gram"))
    if max_df is not None:
        ex = _cap_hot_grams(ex.drop("_n"), max_df, "ngram_jaccard_pairs")
        ex = ex.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    a = ex.select(F.col("id").alias("id_a"), F.col("_n").alias("n_a"), "gram")
    b = ex.select(F.col("id").alias("id_b"), F.col("_n").alias("n_b"), "gram")
    shared = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: drop every document sharing ANY token
    n-gram with the benchmark corpus (the standard eval-leakage guard of
    a training pipeline; 8-grams ≈ the n-gram overlap rule used for
    GPT-style decontamination).

    Plan: benchmark n-grams → distinct (small side, broadcast-able) →
    explode the corpus grams → LEFT ANTI join → distinct surviving ids.
    Linear in total gram postings; ``hash_grams`` ships 8-byte posting
    keys at scale (plain strings for the SQL-oracle path). ``max_df``
    drops grams present in more than that many CORPUS documents from the
    contamination check (:func:`_cap_hot_grams`) — such grams are
    non-discriminative boilerplate whose posting list would dominate the
    join and whose matches would flag half the corpus as dirty.

    Output: (id,) of the clean documents.
    """
    grams = _gram_set(text_col, n, hash_grams)
    bench_grams = (
        spread_for_compute(benchmark).select(F.explode(grams).alias("gram")).distinct()
    )
    doc_grams = spread_for_compute(docs).select(
        F.col(id_col), F.explode(grams).alias("gram")
    )
    doc_grams = _cap_hot_grams(doc_grams, max_df, "decontaminate")
    dirty = doc_grams.join(bench_grams, "gram").select(id_col).distinct()
    return docs.select(id_col).join(dirty, id_col, "left_anti")


def embedding_near_duplicates(
    emb: DataFrame, threshold: float = 0.9, exact: bool = False, **kwargs
) -> DataFrame:
    """Embedding near-dup pairs — the production entry point.

    Routes to the banded hyperplane-LSH path by default (equi-join on
    bucket keys: linear shuffle, output verified with exact cosine so
    precision is 1.0). ``exact=True`` opts into the all-pairs baseline —
    **quadratic by design**; at 100 TB that is a scale-killer, so it
    exists only to verify the LSH variant (its output is a superset of
    the LSH output at the same threshold) and to serve as the SQL-oracle
    form. Both return (id_a, id_b, cos_sim), id_a < id_b, 6dp.
    """
    if exact:
        return embedding_cosine_duplicates(emb, threshold, **kwargs)
    return embedding_cosine_duplicates_lsh(emb, threshold, **kwargs)


def embedding_cosine_duplicates(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (all-pairs baseline).
    Production callers should use :func:`embedding_near_duplicates`,
    which defaults to the linear-shuffle LSH path.

    Theta self-join (``id_a < id_b``) with the norms hoisted to one pass
    per row, so the per-pair work is a single codegen'd dot product.
    Inherently quadratic — this is the verification baseline and the
    oracle-facing form; at scale use
    :func:`embedding_cosine_duplicates_lsh`, which generates candidates
    with banded hyperplane tables and verifies with this same exact
    cosine.

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim rounded 6dp.
    """
    from alphalens_spark.scale.similarity import _dot, _norm

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
    )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.lit(0.0) + F.round(cos, 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_cosine_duplicates_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    bits: int = 6,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via OR-amplified hyperplane LSH.

    Candidate generation: ``n_tables`` independent random-hyperplane
    tables of ``bits`` bits each (banding = OR-amplification: a pair is a
    candidate if ANY table buckets it together — recall for pairs at
    cosine c is 1 − (1 − p^bits)^n_tables with p = 1 − acos(c)/π, e.g.
    ≈0.9999 at c=0.99 and ≈0.98 at c=0.9 with the defaults). All
    L·bits·dim plane dot products evaluate in ONE codegen projection per
    row; the explode emits L (table, bucket) keys per vector so the
    self-join stays a plain equi-join — linear shuffle on a uniform key,
    never the all-pairs cross join. Verification re-scores every
    candidate with the exact cosine, so precision is 1.0 by construction
    (output ⊆ the exact operator's output at the same threshold).

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim rounded 6dp.
    """
    from alphalens_spark.scale.similarity import (
        _dot,
        _hyperplanes,
        _margins_to_bucket,
        _norm,
        _plane_margins,
    )

    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _margins_to_bucket(
                    _plane_margins(vec_col, _hyperplanes(bits, dim, seed + t)), bits
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    tagged = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        F.explode(keys).alias("_k"),
    ).select("_id", "_v", "_n", F.col("_k.tbl").alias("tbl"), F.col("_k.bucket").alias("bucket"))
    a = tagged.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "tbl", "bucket",
    )
    b = tagged.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "tbl", "bucket",
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        cand.withColumn("cos_sim", F.lit(0.0) + F.round(cos, 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def simhash_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    token_hash: str = "xxhash64",
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via SimHash banding + Hamming verification.

    Pigeonhole banding (Manku et al., WWW'07 simhash dedup): split the
    63-bit fingerprint into ``bands`` contiguous blocks — any pair within
    Hamming distance < ``bands`` must agree exactly on ≥1 block, so
    grouping (id, sig) items by (band_id, block_bits) finds every such
    pair without the all-pairs comparison (require ``max_hamming <
    bands`` for a lossless candidate set). Verification counts differing
    bits via bit_count(xor) inside the bucket — pure JVM bit arithmetic,
    no UDF and no join anywhere. (An earlier form expressed the
    bucketing as a self equi-join of the UNPERSISTED fingerprint frame —
    two fingerprint computations and two exchanges for the same pair
    set; the groupBy form computes fingerprints once, shuffles once, and
    streams in-bucket pairs out through two chained explodes.)

    ``collapse_exact`` (default) guards the clone-cluster hot bucket the
    same way as :func:`minhash_lsh_duplicates`: md5-exact duplicate
    groups collapse to one representative in the same single
    aggregation that records their member-id lists (one corpus scan
    total — identical text ⇒ identical fingerprint ⇒ identical blocks,
    so a 100k-clone group would otherwise put 100k rows in each of its
    4 blocks' buckets), and the pair set re-expands afterwards with
    hamming 0 inside groups — output identical to the uncollapsed run.

    Output: (id_a, id_b, hamming int), id_a < id_b, hamming ≤ max_hamming.

    The signature frame stays cached for the session, so a repeat call
    on the same docs reads it: freeing it cost ~1.25 → ~1.5 s per repeat call,
    and perfbench ``corpus`` times such repeats (the one exception to
    :mod:`alphalens_spark.session`'s policy).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(pigeonhole guarantee); got bands={bands}"
        )
    members = None
    if collapse_exact:
        docs = (
            docs.groupBy(F.md5(F.col(text_col)).alias("_digest"))
            .agg(
                F.min(id_col).alias(id_col),
                F.first(text_col).alias(text_col),
                F.collect_list(id_col).alias("_ids"),
            )
            .drop("_digest")
        )
    # ceil-divide so the blocks cover every fingerprint bit (64-bit family
    # → width 16 over bits 0..63; 60-bit md5 family → width 15 over 0..59)
    n_bits = simhash_bits(token_hash) + (1 if token_hash == "xxhash64" else 0)
    width = -(-n_bits // bands)
    # the session memo (see the docstring), filled eagerly
    sh = cache(simhash(
        docs,
        text_col,
        id_col,
        token_hash=token_hash,
        extra_cols=("_ids",) if collapse_exact else (),
    ).select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sig"),
        *(["_ids"] if collapse_exact else []),
    ))
    sh.count()
    if collapse_exact:
        members = sh.select(
            F.col("id").alias("_rep"), F.explode("_ids").alias("_m_id")
        )
    mask = (1 << width) - 1
    # shift counts must be plan-time literals; bands is small so unroll
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(F.col("sig"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("block"),
            )
            for i in range(bands)
        ]
    )
    buckets = (
        sh.select(F.struct("id", "sig").alias("_item"), F.explode(blocks).alias("bb"))
        .select("bb.band_id", "bb.block", "_item")
        .groupBy("band_id", "block")
        .agg(F.collect_list("_item").alias("_items"))
        .where(F.size("_items") > 1)
    )
    pairs = (
        buckets.select(F.explode("_items").alias("_x"), "_items")
        .select("_x", F.explode("_items").alias("_y"))
        .where(F.col("_x.id") < F.col("_y.id"))
    )
    ham = F.bit_count(F.col("_x.sig").bitwiseXOR(F.col("_y.sig")))
    out = (
        pairs.select(
            F.col("_x.id").alias("id_a"),
            F.col("_y.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        # hamming is a pure function of the two fingerprints — duplicate
        # qualifications from other agreeing blocks carry the same value
        .dropDuplicates(["id_a", "id_b"])
    )
    if members is not None:
        out = _expand_rep_pairs(out, members, "hamming", F.lit(0).cast("int"))
    return out


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space with coarse k-means, then within each
    cluster mark every vector that has a LOWER-ID neighbor at cosine
    similarity >= ``threshold`` as a duplicate of that neighbor (the
    keep-one-representative rule, made deterministic by keeping the
    lowest id).

    The all-pairs comparison is confined to a cell — the whole point of
    the clustering — so the join is an equi-join on the cell id with
    ~(|cell|**2 / 2) candidate pairs per cell instead of |corpus|**2
    overall; at 100 TB raise ``n_cells`` so cells stay executor-sized
    (SemDeDup uses 50k clusters for LAION-scale corpora). The coarse
    quantizer is the same deterministic Lloyd used by
    :func:`alphalens_spark.scale.similarity.ivf_topk` (lowest-id init,
    fixed passes), so the full pipeline replays in the SQL oracle.

    Output: (id, cell, keep, dup_of) — one row per input vector;
    ``dup_of`` is the lowest qualifying lower id (NULL where keep).
    """
    from alphalens_spark.scale.similarity import (
        _dot,
        _nearest_cell,
        _norm,
        kmeans_lite_centroids,
    )

    cents = kmeans_lite_centroids(emb, n_cells, iters, id_col, vec_col)
    # checkpoint: both self-join sides and the keep/dup_of projection
    # each re-planned the scan + nearest-cell assignment uncut
    base = checkpoint(emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        _nearest_cell(F.col(vec_col), cents).alias("cell"),
    ))
    a = base.select(
        F.col("_id").alias("id_hi"), F.col("_v").alias("_va"), F.col("_n").alias("_na"), "cell"
    )
    b = base.select(
        F.col("_id").alias("id_lo"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "cell"
    )
    cos = F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6)
    dup_of = (
        a.join(b, "cell")
        .where((F.col("id_lo") < F.col("id_hi")) & (cos >= threshold))
        .groupBy("id_hi")
        .agg(F.min("id_lo").alias("dup_of"))
    )
    return (
        base.select(F.col("_id").alias(id_col), "cell")
        .join(dup_of, F.col(id_col) == F.col("id_hi"), "left")
        .select(
            id_col,
            F.col("cell").cast("int").alias("cell"),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hash_grams: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT
    |A∩B| / min(|A|, |B|) — the measure that catches a document embedded
    inside a larger one (quote farms, concatenated crawls), which Jaccard
    structurally cannot: a 100-gram doc fully contained in a 10,000-gram
    doc has Jaccard ≈ 0.01 but containment 1.0 (Broder 1997's second
    resemblance measure).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — explode
    distinct grams, equi-join postings, count shared per pair — only the
    final scoring differs; ``max_df`` applies the same hot-gram posting
    cap (sizes recomputed over the capped sets). Output:
    (id_a, id_b, containment).
    """
    grams = _gram_set(text_col, n, hash_grams)
    g = spread_for_compute(docs).select(
        F.col(id_col).alias("id"), grams.alias("_g"), F.size(grams).alias("_n")
    )
    ex = g.select("id", "_n", F.explode("_g").alias("gram"))
    if max_df is not None:
        ex = _cap_hot_grams(ex.drop("_n"), max_df, "ngram_containment_pairs")
        ex = ex.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    a = ex.select(F.col("id").alias("id_a"), F.col("_n").alias("n_a"), "gram")
    b = ex.select(F.col("id").alias("id_b"), F.col("_n").alias("n_b"), "gram")
    shared = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter") / F.least(F.col("n_a"), F.col("n_b")).cast("double")
    return (
        shared.withColumn("containment", F.round(cont, 6))
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def fuzzy_token_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_token_len: int = 20,
) -> DataFrame:
    """Spelling-variant pairs in the corpus VOCABULARY at edit distance
    exactly 1, by deletion-neighborhood join (FastSS, Bocek et al. 2007):
    two tokens are within one substitution/insertion/deletion iff they
    share a member of their 1-deletion neighborhoods (each token
    generates the ≤ len+1 strings {token, token minus one char}), so the
    candidate step is an EQUI-join on those keys — never an all-pairs
    Levenshtein sweep, which is quadratic in vocabulary size. Candidates
    are then verified with the built-in ``levenshtein`` (cheap: only
    colliding pairs).

    The normalization/dedup pipeline use: OCR noise and typo variants of
    the same term ("recieve"/"receive") found corpus-wide in two linear
    shuffles (vocab build + neighborhood join). Output: (tok_a, tok_b,
    count_a, count_b) with tok_a < tok_b, distance exactly 1.
    """
    toks = _tokens(text_col)
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .where((F.length("tok") > 0) & (F.length("tok") <= max_token_len))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    # 1-deletion neighborhood: the token itself + len(token) deletions.
    # Keyed by (variant, deleted-position-class) is unnecessary for d=1 —
    # sharing ANY variant string is the candidate condition.
    dels = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.concat(
            F.substring(F.col("tok"), 1, i.cast("int") - 1),
            F.col("tok").substr(i + 1, F.length("tok")),
        ),
    )
    nbh = vocab.select(
        "tok", "cnt",
        F.explode(F.array_union(F.array(F.col("tok")), dels)).alias("v"),
    )
    a = nbh.select(
        F.col("tok").alias("tok_a"), F.col("cnt").alias("count_a"), "v"
    )
    b = nbh.select(
        F.col("tok").alias("tok_b"), F.col("cnt").alias("count_b"), "v"
    )
    cand = (
        a.join(b, "v")
        .where(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "count_a", "count_b")
        .distinct()
    )
    return cand.where(F.levenshtein("tok_a", "tok_b") == 1)


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """The end-to-end answer a dedup pipeline actually applies: one row
    per document with its cluster's canonical id and the keep/drop
    verdict. Near-dup PAIRS (default: :func:`minhash_lsh_duplicates`;
    pass any (id_a, id_b, …) pair frame to swap the candidate generator)
    resolve through :func:`connected_components` so chains a~b, b~c
    collapse to ONE keeper; documents in no pair keep themselves.

    keep = canonical_id == id (lowest id per cluster wins — the same
    deterministic rule every operator in this module uses). One left
    join of the corpus against the component map; filtering the corpus
    is then ``where(keep)`` — no anti-join needed.

    Output: (id, canonical_id, keep).
    """
    if pairs is None:
        pairs = minhash_lsh_duplicates(
            docs, text_col=text_col, id_col=id_col, **lsh_kwargs
        )
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    return (
        docs.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("keep", F.col("canonical_id") == F.col(id_col))
    )


def dedup_keep_best(
    docs: DataFrame,
    score_col: str,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Quality-aware variant of :func:`dedup_keep_list`: within each
    near-dup cluster keep the HIGHEST-``score_col`` document (ties →
    lowest id), not the lowest id — what production pipelines actually
    do when a quality signal exists (keep the cleanest copy of the
    boilerplate family, not the first-crawled one).

    Same cluster resolution (pairs → connected components); the keeper
    is then ONE min-struct aggregate per cluster ((-score, id) min —
    deterministic total order, no window), broadcast back onto the
    membership map. Unclustered documents keep themselves.

    Output: (id, canonical_id, score, keep) where canonical_id is the
    chosen keeper's id.
    """
    if pairs is None:
        pairs = minhash_lsh_duplicates(
            docs, text_col=text_col, id_col=id_col, **lsh_kwargs
        )
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    scored = (
        docs.select(F.col(id_col), F.col(score_col).alias("score"))
        .join(comp, id_col, "left")
        .select(
            id_col,
            "score",
            F.coalesce("comp", F.col(id_col)).alias("_cluster"),
        )
    )
    # NULL scores sort LAST (a missing quality signal must never beat a
    # real one — struct-min would otherwise put NULL first and keep the
    # unscored copy); ties on score → lowest id
    best = (
        scored.groupBy("_cluster")
        .agg(
            F.min(
                F.struct(
                    F.col("score").isNull().cast("int").alias("nn"),
                    (-F.coalesce(F.col("score"), F.lit(0.0))).alias("ns"),
                    F.col(id_col),
                )
            ).alias("_s")
        )
        .select("_cluster", F.col(f"_s.{id_col}").alias("canonical_id"))
    )
    return (
        scored.join(best, "_cluster")
        .select(
            id_col,
            "canonical_id",
            "score",
            (F.col("canonical_id") == F.col(id_col)).alias("keep"),
        )
    )


def allpairs_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    hash_grams: bool = True,
) -> DataFrame:
    """All-pairs Jaccard via PREFIX FILTERING (Bayardo, Ma, Srikant,
    "Scaling Up All Pairs Similarity Search", WWW'07; the PPJoin family).

    Same answer as :func:`ngram_jaccard_pairs` at the same threshold —
    every pair of documents whose distinct token-``n``-gram sets have
    Jaccard ≥ ``threshold`` — but the candidate join runs over a PREFIX
    of each document's postings, not all of them. Order all grams by one
    global total order (document frequency ascending, gram value as
    tie-break: rarest first); a pair with Jaccard ≥ t MUST share a gram
    inside each side's first ``s − ceil(t·s) + 1`` grams (s = set size),
    so only those prefix postings enter the self-join. Survivors are
    verified with an exact array-intersection Jaccard.

    Why this is the 100 TB path: postings volume drops to about
    ``(1−t)·Σs`` — at t=0.8 an 80% cut — and, decisively, the HOT grams
    (stopword runs, boilerplate) have the highest df, sort LAST in every
    document, and thus almost never appear in any prefix: the hot-posting
    quadratic blowup that ``max_df`` guards against in the inverted-index
    form self-mitigates here WITHOUT changing the answer. All stages are
    linear equi-joins / one window per doc; no all-pairs anywhere.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    grams = _gram_set(text_col, n, hash_grams)
    # checkpoint: the postings explode and both verification join sides
    # each re-ran tokenize→hash uncut
    g = checkpoint(spread_for_compute(docs).select(
        F.col(id_col).alias("id"), grams.alias("_g"), F.size(grams).alias("_n")
    ))
    ex = g.select("id", "_n", F.explode("_g").alias("gram"))

    # global order: df ASC, gram ASC (total order; gram is distinct per doc)
    dfreq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    # df == 1 grams are shared by NO other document: they generate zero
    # join output, so dropping them before the per-doc position window
    # shrinks the window's sort/shuffle to only join-capable postings
    # (most trigram postings are df=1 on real corpora). The pruning
    # stays sound: positions among the surviving grams are <= the true
    # prefix positions, so the _pos <= prefix_len filter keeps a
    # superset of the true prefix and the positional overlap bound only
    # weakens — candidates remain a superset of every qualifying pair,
    # and the exact-Jaccard verification makes the OUTPUT identical.
    ranked = (
        ex.join(dfreq, "gram")
        .where(F.col("_df") >= 2)
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("_df").asc(), F.col("gram").asc()
                )
            ),
        )
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    prefix = ranked.where(F.col("_pos") <= prefix_len).select(
        "id", "gram", "_pos", "_n"
    )

    # PPJoin prunes (Xiao et al., WWW'08) on top of the prefix theorem —
    # pure candidate filters, the verified answer is unchanged:
    #   length: J(A,B) >= t forces t·|A| <= |B| <= |A|/t;
    #   positional: a shared prefix gram at positions (pa, pb) bounds the
    #   overlap by 1 + min(|A|−pa, |B|−pb), which must reach
    #   ceil(t/(1+t)·(|A|+|B|)) — kills pairs whose only shared prefix
    #   grams sit too late to matter (measured 3-100× fewer candidates).
    a = prefix.select(
        F.col("id").alias("id_a"), "gram",
        F.col("_pos").alias("_pa"), F.col("_n").alias("_na"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "gram",
        F.col("_pos").alias("_pb"), F.col("_n").alias("_nb"),
    )
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("_na") + F.col("_nb")))
    overlap_ub = 1 + F.least(F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb"))
    cand = (
        a.join(b, "gram")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_nb") >= F.ceil(F.lit(threshold) * F.col("_na")))
            & (F.col("_na") >= F.ceil(F.lit(threshold) * F.col("_nb")))
            & (overlap_ub >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
    )

    ga = g.select(F.col("id").alias("id_a"), F.col("_g").alias("_ga"), F.col("_n").alias("n_a"))
    gb = g.select(F.col("id").alias("id_b"), F.col("_g").alias("_gb"), F.col("_n").alias("n_b"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_source_dup_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-governance view: how much exact duplication flows BETWEEN
    sources — for every unordered source pair (and each source with
    itself), the number of md5-identical document pairs split across
    them. The matrix that answers "which feeds are mirroring which"
    before a training-mix decision. ``text_col`` can be any unit —
    whole documents, sentences, or n-gram shingles (feed an exploded
    frame for sub-document granularity).

    Per md5 digest, per-source member counts c_s; pair contribution is
    c_a·c_b for a < b and C(c_s, 2) on the diagonal — computed from the
    per-(digest, source) count table, so nothing document-pair-sized
    ever materializes: the join fan-out is (digest × sources present),
    bounded by the source dimension per digest.

    Output: (source_a, source_b, dup_pairs, n_texts) with source_a ≤
    source_b; n_texts = distinct shared digests.
    """
    per = (
        docs.groupBy(
            F.md5(F.col(text_col)).alias("_h"),
            F.col(source_col).alias("src"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = per.select("_h", F.col("src").alias("source_a"), F.col("c").alias("_ca"))
    b = per.select("_h", F.col("src").alias("source_b"), F.col("c").alias("_cb"))
    joined = a.join(b, "_h").where(F.col("source_a") <= F.col("source_b"))
    pair_contrib = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("_ca") * (F.col("_ca") - 1) / 2,
    ).otherwise(F.col("_ca") * F.col("_cb"))
    return (
        joined.groupBy("source_a", "source_b")
        .agg(
            F.sum(pair_contrib).cast("long").alias("dup_pairs"),
            F.count(F.when(pair_contrib > 0, 1)).alias("n_texts"),
        )
        .where(F.col("dup_pairs") > 0)
    )


def content_defined_chunks(
    docs: DataFrame,
    window: int = 16,
    mask_bits: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """Content-defined chunking (the CDC idea behind rsync/LBFS/FastCDC):
    a chunk boundary falls after position ``p`` whenever the hash of
    the ``window``-char context ending at ``p`` has its low
    ``mask_bits`` bits zero — so boundaries are a function of LOCAL
    CONTENT, not offsets, and inserting/deleting a prefix
    re-synchronizes the chunking after one window (shift-resistant,
    where fixed-stride blocks would misalign every block downstream).
    Expected chunk length = 2^mask_bits chars.

    Deliberately the mask-only variant (no min/max clamps): clamped
    variants make each boundary depend on the previous one (sequential
    per doc), while the pure predicate keeps the whole operator a
    per-row projection — boundary detection, splitting and digesting
    all happen inside one map stage, no shuffle until a consumer
    aggregates.

    Two implementations, bit-identical (equality-tested), same
    dispatcher contract as :func:`simhash`:

    - ``impl="arrow"`` (default, production): Arrow-batched
      ``mapInPandas`` — the per-position window md5 runs as a tight
      hashlib loop (~1 µs/position vs ~60 µs/position for the
      interpreted HOF lambda, the measured cost in SURVEY §4.y.5).
      Same boundary rule, same digests.
    - ``impl="hof"``: pure Column-expression form. The md5 window hash
      replays in ANSI SQL, so chunk digests value-oracle end to end —
      this is the oracle twin.

    Output: (id, chunk_idx, chunk_start 1-based, chunk_len,
    chunk_digest md5) — one row per chunk, whole doc = one chunk when
    no position matches the mask; NULL text yields no rows.
    """
    docs = spread_for_compute(docs)  # per-position hashing is CPU-bound
    mask = (1 << mask_bits) - 1
    if impl == "arrow":
        id_type = docs.schema[id_col].dataType.simpleString()
        schema = (
            f"{id_col} {id_type}, chunk_idx int, chunk_start int, "
            "chunk_len int, chunk_digest string"
        )

        def chunk_batches(batches):
            import hashlib

            import pandas as pd

            modulus = mask + 1
            for pdf in batches:
                ids, idxs, starts_, lens_, digs = [], [], [], [], []
                for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                    if txt is None:
                        continue
                    n_ch = len(txt)
                    ends = []
                    # boundary AFTER char p (0-based exclusive) when the
                    # md5 of chars [p-window, p) has low mask_bits zero —
                    # identical rule/window to the HOF form below
                    for p in range(window, n_ch):
                        h = hashlib.md5(
                            txt[p - window:p].encode("utf-8")
                        ).hexdigest()
                        if int(h[:15], 16) % modulus == 0:
                            ends.append(p)
                    ends.append(n_ch)
                    prev = 0
                    for idx, e in enumerate(ends):
                        ln = e - prev
                        if ln > 0:
                            ids.append(doc_id)
                            idxs.append(idx)
                            starts_.append(prev + 1)
                            lens_.append(ln)
                            digs.append(
                                hashlib.md5(
                                    txt[prev:e].encode("utf-8")
                                ).hexdigest()
                            )
                        prev = e
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                        "chunk_idx": pd.Series(idxs, dtype="int32"),
                        "chunk_start": pd.Series(starts_, dtype="int32"),
                        "chunk_len": pd.Series(lens_, dtype="int32"),
                        "chunk_digest": pd.Series(digs, dtype="object"),
                    }
                )

        return docs.select(id_col, text_col).mapInPandas(
            chunk_batches, schema
        )
    if impl != "hof":
        raise ValueError(f"unknown impl {impl!r}")
    t = F.col(text_col)
    n = F.length(t)
    # candidate boundary positions: window..len-1 (a boundary AT len is
    # implicit; starting before `window` would hash short contexts).
    # Window extraction slices a PRE-SPLIT char array — substring(t, p, w)
    # re-scans the string from the start at every position (O(len²) per
    # doc), while array slice indexes directly (O(len·window) total).
    # md5(array_join(slice)) ≡ md5(substring) over the same chars, so
    # the SQL oracle keeps the plain-substr form. Remaining cost is the
    # per-position interpreted-HOF md5 itself (~60 µs/eval — the §2.10
    # escape-hatch candidate: a numpy gear-hash mapInPandas variant is
    # the production upgrade when corpus-hours matter; this md5 form is
    # the one whose digests value-oracle in SQL).
    chars = F.split(t, "")
    positions = F.when(
        n > window, F.sequence(F.lit(window), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.filter(
        positions,
        lambda p: F.pmod(
            md5_long(
                F.array_join(F.slice(chars, p - window + 1, window), ""), 15
            ),
            F.lit(mask + 1),
        )
        == 0,
    )
    # TWO-STEP select: the boundary scan (per-position md5, the expensive
    # part) materializes in its own projection so downstream references
    # see a column, not the expression tree — `ends` is used twice below
    # and inline duplication would run the whole 3M-hash filter twice
    # (the round-2 Generate/CSE lesson)
    base = docs.select(
        F.col(id_col),
        t.alias("_t"),
        F.concat(bounds, F.array(n)).alias("_ends"),
    )
    ends = F.col("_ends")
    # previous-end array map-side (concat([0], ends[:-1])) instead of a
    # lag window — a window would shuffle the FULL TEXT once per chunk
    # row; this keeps the whole operator a per-row projection
    starts = F.concat(
        F.array(F.lit(0)), F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0)))
    )
    spans = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    exploded = base.select(
        F.col(id_col), F.col("_t"), F.posexplode(spans)
    )
    s0 = F.col("col.s") + 1
    ln = F.col("col.e") - F.col("col.s")
    return exploded.select(
        id_col,
        F.col("pos").alias("chunk_idx"),
        s0.alias("chunk_start"),
        ln.alias("chunk_len"),
        F.md5(F.substring(F.col("_t"), s0, ln)).alias("chunk_digest"),
    ).where(F.col("chunk_len") > 0)


def cdc_chunk_duplicates(
    docs: DataFrame,
    window: int = 16,
    mask_bits: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """Cross-document duplicated content at CDC-chunk granularity: which
    content blocks recur in MORE THAN ONE document, robust to shifts
    (a quoted/prepended/boilerplate block keeps its chunk digests even
    when its byte offset moves — the case fixed-stride or k-gram-anchored
    span dedup must realign for). One digest groupBy over the chunk
    projection — 16-byte keys, uniform by construction. ``impl`` is
    forwarded to :func:`content_defined_chunks` (``"arrow"`` production
    route by default; ``"hof"`` expression/oracle twin — bit-identical).

    Output: (chunk_digest, chunk_len, n_docs, n_occurrences) for chunks
    seen in ≥ 2 distinct documents.
    """
    ch = content_defined_chunks(
        docs, window, mask_bits, text_col, id_col, impl=impl
    )
    return (
        ch.groupBy("chunk_digest", "chunk_len")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )

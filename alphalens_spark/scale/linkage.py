"""Record linkage / entity resolution: fuzzy-match structured records.

The entity-resolution counterpart to the document near-dup family in
:mod:`alphalens_spark.scale.dedup`: documents dedupe on content
similarity, records link on NAME similarity under a blocking scheme.
The classic pipeline (Fellegi–Sunter framing, token blocking per
Papadakis et al.'s blocking surveys) is: normalize → generate candidate
pairs that share a blocking key → score candidates with an edit
distance → keep pairs under the threshold. All-pairs comparison is
never materialized; candidates exist only inside shared-key buckets.

Scale posture: blocking is an inverted-index self-join (the exact shape
of ``ngram_jaccard_pairs``), so the only quadratic risk is a hot
blocking key — capped by ``max_df`` exactly like the gram-posting caps
(drop keys shared by more than ``max_df`` records; the drop is
observable via :func:`blocking_stats`). Scoring is JVM-native
``levenshtein`` — no Python stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint


def normalize_record(col: str | Column) -> Column:
    """Canonical record-linkage normalization: lowercase, trim, collapse
    internal whitespace runs. Mirrors ``scale.curation.normalize_text``'s
    whitespace rule so both families agree on token boundaries."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def token_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int | None = None,
) -> DataFrame:
    """Token blocking index: one (block_key, id, norm) row per distinct
    token of the normalized text. Two records become candidates iff they
    share at least one surviving token. ``max_df`` drops tokens shared
    by more than that many records (hot-posting guard — a corpus-wide
    token like a legal suffix would otherwise make one block quadratic).
    """
    norm = normalize_record(text_col)
    ex = df.select(
        F.col(id_col).alias("_id"), norm.alias("_norm")
    ).select(
        "_id", "_norm",
        F.explode(F.array_distinct(F.split("_norm", " "))).alias("block_key"),
    ).where(F.col("block_key") != "")
    if max_df is not None:
        hot = (
            ex.groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("block_key")
        )
        ex = ex.join(hot, "block_key", "left_anti")
    return ex.select("block_key", F.col("_id").alias("id"), F.col("_norm").alias("norm"))


def blocking_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int | None = None,
) -> DataFrame:
    """Per-block candidate-volume diagnostic: (block_key, n_records,
    n_pairs) sorted by pair volume. The skew-report analogue for the
    linkage join — read it before raising ``max_df``."""
    blocks = token_blocks(df, id_col, text_col, max_df=max_df)
    return (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .select(
            "block_key",
            "n_records",
            (F.col("n_records") * (F.col("n_records") - 1) / 2)
            .cast("long")
            .alias("n_pairs"),
        )
    )


def _score_pairs(cands: DataFrame, max_distance: int) -> DataFrame:
    """(…, _na, _nb) candidates → rows within ``max_distance``, scored.

    Thresholded levenshtein (Spark ≥3.5): banded O(threshold·n) per
    pair instead of the full O(n²) DP table; returns −1 above the
    threshold and the exact distance at or below it.
    """
    return cands.withColumn(
        "distance",
        F.levenshtein(F.col("_na"), F.col("_nb"), max_distance),
    ).where(F.col("distance") >= 0)


def record_linkage_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    max_df: int | None = None,
    block_expr: Column | None = None,
    expand: bool = True,
) -> DataFrame:
    """Blocked fuzzy record matching: candidate pairs share a blocking
    key (default: any normalized token; or a caller-supplied
    ``block_expr`` such as a sort-key prefix), scored by Levenshtein
    distance over the FULL normalized text, kept iff distance ≤
    ``max_distance``.

    Output with ``expand=True``: (id_a, id_b, distance), id_a < id_b,
    one row per matched RECORD pair — identical-text pairs included at
    distance 0. With ``expand=False``: (norm_a, norm_b, distance,
    n_a, n_b) — one row per matched DISTINCT-TEXT pair with group
    sizes, the scale-sane output when duplicate-heavy data makes the
    record-pair set quadratic in group size (n·(n−1)/2 rows for an
    n-record identical-name group; prefer this + a keep-list join at
    corpus scale).

    Scale shape (the minhash collapse_exact lesson, applied at birth):
    blocking, candidate generation, and Levenshtein all run over
    DISTINCT normalized texts — duplicate-heavy corpora collapse to
    their name vocabulary before any quadratic stage, so a million
    copies of one name cost ONE blocking row, not a 10¹²-pair block.
    Record pairs re-expand through the exact-text groups afterwards
    (join fan-out sized by the answer itself). Candidate generation is
    an inverted-index equi-join (``max_df``-capped against hot tokens,
    length-difference prune inside the join), never all-pairs.

    A caller-supplied ``block_expr`` is evaluated against the full
    record (it may key on other columns), so that path blocks records
    directly without the distinct-text collapse.
    """
    norm = normalize_record(text_col)
    base = df.select(F.col(id_col).alias("id"), norm.alias("norm"))

    if block_expr is not None:
        blocks = df.select(
            block_expr.alias("block_key"),
            F.col(id_col).alias("id"),
            norm.alias("norm"),
        )
        if max_df is not None:
            hot = (
                blocks.groupBy("block_key")
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") > max_df)
                .select("block_key")
            )
            blocks = blocks.join(hot, "block_key", "left_anti")
        a = blocks.select(
            "block_key", F.col("id").alias("id_a"), F.col("norm").alias("_na")
        )
        b = blocks.select(
            "block_key", F.col("id").alias("id_b"), F.col("norm").alias("_nb")
        )
        cands = (
            a.join(b, "block_key")
            .where(
                (F.col("id_a") < F.col("id_b"))
                & (
                    F.abs(F.length("_na") - F.length("_nb"))
                    <= F.lit(max_distance)
                )
            )
            .select("id_a", "id_b", "_na", "_nb")
            .distinct()
        )
        return _score_pairs(cands, max_distance).select(
            "id_a", "id_b", "distance"
        )

    # --- distinct-text collapse path (default) ---
    names = base.groupBy("norm").agg(F.count(F.lit(1)).alias("_g"))
    names = checkpoint(names)
    nb = names.select(
        "norm", "_g",
        F.explode(F.array_distinct(F.split("norm", " "))).alias("block_key"),
    ).where(F.col("block_key") != "")
    if max_df is not None:
        hot = (
            nb.groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("block_key")
        )
        nb = nb.join(hot, "block_key", "left_anti")
    a = nb.select("block_key", F.col("norm").alias("_na"), F.col("_g").alias("n_a"))
    b = nb.select("block_key", F.col("norm").alias("_nb"), F.col("_g").alias("n_b"))
    cands = (
        a.join(b, "block_key")
        .where(
            (F.col("_na") < F.col("_nb"))
            & (
                F.abs(F.length("_na") - F.length("_nb"))
                <= F.lit(max_distance)
            )
        )
        .select("_na", "_nb", "n_a", "n_b")
        .distinct()
    )
    cross = _score_pairs(cands, max_distance)
    if not expand:
        return cross.select(
            F.col("_na").alias("norm_a"),
            F.col("_nb").alias("norm_b"),
            "distance",
            "n_a",
            "n_b",
        )
    # within-group pairs (identical normalized text, distance 0)
    ga = base.select(F.col("norm"), F.col("id").alias("id_a"))
    gb = base.select(F.col("norm"), F.col("id").alias("id_b"))
    within = (
        ga.join(gb, "norm")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("distance"))
    )
    # cross-group expansion: every member of group a × every member of
    # group b — join fan-out sized by the answer
    ma = base.select(F.col("norm").alias("_na"), F.col("id").alias("_ia"))
    mb = base.select(F.col("norm").alias("_nb"), F.col("id").alias("_ib"))
    expanded = (
        cross.join(ma, "_na")
        .join(mb, "_nb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            F.col("distance").cast("int").alias("distance"),
        )
    )
    return within.unionByName(expanded)

"""Market-basket affinity analytics: co-occurrence and association rules.

The classic support/confidence/lift frequent-pair mining (Agrawal &
Srikant's Apriori framing, restricted to the pair level that powers
"bought together" features and co-occurrence embeddings). Baskets are
any grouping key — an order, a session, a user-day — and items any
categorical column.

Scale posture: the only super-linear stage is within-basket pair
GENERATION, which is quadratic in BASKET SIZE, not corpus size —
bounded for real baskets and explicitly guarded by ``max_basket``.
Baskets collapse to one sorted item-array row each (collect_set — the
distinct reduction runs map-side inside the same aggregation), pairs
explode from the array JVM-side, so the whole pipeline is: one basket
groupBy, a map-side combination explode, one pair groupBy — two linear
shuffles, no self-join, and the oversize guard is a free ``size()``
filter on the aggregated row instead of a count+anti-join pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint


def _basket_arrays(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int | None,
) -> DataFrame:
    """One row per basket: (basket, _items sorted-distinct array),
    oversized baskets dropped by a size filter on the aggregate."""
    g = df.groupBy(F.col(basket_col).alias("basket")).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("_items")
    )
    if max_basket is not None:
        g = g.where(F.size("_items") <= max_basket)
    return g


def _pair_structs(arr: Column) -> Column:
    """All unordered (item_a < item_b) pairs of a sorted array as an
    array<struct> — combination generation via nested ``transform`` over
    the array, evaluated JVM-side inside whole-stage codegen (``slice``
    clamps at the array end, so the last element contributes no pairs).
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )


def _basket_pairs(g: DataFrame) -> DataFrame:
    """(basket, item_a, item_b) rows from a :func:`_basket_arrays`
    frame; item_a < item_b by construction (sorted array)."""
    return g.select(
        "basket", F.explode(_pair_structs(F.col("_items"))).alias("_p")
    ).select("basket", "_p.item_a", "_p.item_b")


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Item-pair co-occurrence counts: one row per unordered item pair
    with the number of distinct baskets containing both.

    Output: (item_a, item_b, n_baskets) with item_a < item_b.

    Scale shape: baskets aggregate to sorted item arrays (map-side
    distinct, ``max_basket`` size filter), pairs explode from the array
    JVM-side, then one pair groupBy — two shuffles total, one fewer
    than the distinct→self-join form this replaces, and a multi-line
    basket (several lineitems of the same part) still counts once.
    """
    g = _basket_arrays(df, basket_col, item_col, max_basket)
    pairs = (
        _basket_pairs(g)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    if min_count > 1:
        pairs = pairs.where(F.col("n_baskets") >= min_count)
    return pairs


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.0,
    min_confidence: float = 0.0,
    min_pair_count: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Pair-level association rules with support / confidence / lift.

    For each directed rule a→b over co-occurring items:
    ``support = P(a,b)``, ``confidence = P(a,b)/P(a)``,
    ``lift = confidence / P(b)`` — probabilities over distinct baskets.
    Both directions of every unordered pair are emitted (their
    confidences differ), filtered by the three thresholds.

    Output: (antecedent, consequent, pair_baskets, support, confidence,
    lift), rounded to 6 dp.

    Scale shape: the :func:`cooccurrence_pairs` array-explode for the
    joint counts, one item-level groupBy for the marginals (item-
    dimension sized, joined back on the item key), and the total basket
    count as a 1-row broadcast — the same bounded-scalar contract as
    cm_estimate. The per-basket array frame is checkpointed once and
    feeds all three derivations.
    """
    g = _basket_arrays(df, basket_col, item_col, max_basket)
    g = checkpoint(g)
    pairs = (
        _basket_pairs(g)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_baskets"))
        .where(F.col("pair_baskets") >= min_pair_count)
    )
    bi = g.select("basket", F.explode("_items").alias("item"))
    marg = bi.groupBy("item").agg(F.count(F.lit(1)).alias("item_baskets"))
    # g holds exactly one row per basket, so the total is a plain count
    total = g.agg(F.count(F.lit(1)).alias("_n"))
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_baskets",
    ).union(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_baskets",
        )
    )
    ma = marg.select(
        F.col("item").alias("antecedent"), F.col("item_baskets").alias("_na")
    )
    mc = marg.select(
        F.col("item").alias("consequent"), F.col("item_baskets").alias("_nc")
    )
    out = (
        directed.join(ma, "antecedent")
        .join(mc, "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "pair_baskets",
            "_n",
            F.round(F.col("pair_baskets") / F.col("_n"), 6).alias("support"),
            F.round(F.col("pair_baskets") / F.col("_na"), 6).alias("confidence"),
            F.round(
                (F.col("pair_baskets") / F.col("_na"))
                / (F.col("_nc") / F.col("_n")),
                6,
            ).alias("lift"),
        )
    )
    if min_support > 0.0:
        out = out.where(F.col("pair_baskets") / F.col("_n") >= min_support)
    if min_confidence > 0.0:
        out = out.where(F.col("confidence") >= min_confidence)
    return out.drop("_n")


def item_similarity(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Symmetric item-item similarity from basket co-occurrence — the
    counting form of collaborative filtering's item-item step and the
    edge weighting for co-occurrence embeddings:

    - ``cosine = c_ab / sqrt(c_a·c_b)`` (Ochiai over basket sets),
    - ``jaccard = c_ab / (c_a + c_b − c_ab)``,
    - ``pmi = ln(c_ab·N / (c_a·c_b))`` over distinct baskets.

    One unordered row per co-occurring pair (item_a < item_b; all three
    measures are symmetric). Scale shape is association_rules' exactly:
    per-basket array pair explode (``max_basket``-guarded), item-key
    marginal joins, 1-row total broadcast.
    """
    g = _basket_arrays(df, basket_col, item_col, max_basket)
    g = checkpoint(g)
    pairs = (
        _basket_pairs(g)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_baskets"))
        .where(F.col("pair_baskets") >= min_pair_count)
    )
    bi = g.select("basket", F.explode("_items").alias("item"))
    marg = bi.groupBy("item").agg(F.count(F.lit(1)).alias("item_baskets"))
    total = g.agg(F.count(F.lit(1)).alias("_n"))
    ma = marg.select(F.col("item").alias("item_a"), F.col("item_baskets").alias("_ca"))
    mb = marg.select(F.col("item").alias("item_b"), F.col("item_baskets").alias("_cb"))
    j = pairs.join(ma, "item_a").join(mb, "item_b").crossJoin(F.broadcast(total))
    c = F.col("pair_baskets")
    return j.select(
        "item_a",
        "item_b",
        "pair_baskets",
        F.round(c / F.sqrt(F.col("_ca") * F.col("_cb")), 6).alias("cosine"),
        F.round(c / (F.col("_ca") + F.col("_cb") - c), 6).alias("jaccard"),
        F.round(
            F.log(c * F.col("_n") / (F.col("_ca") * F.col("_cb"))), 6
        ).alias("pmi"),
    )

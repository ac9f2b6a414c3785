"""Tabular feature engineering for training-data pipelines.

Encodings that turn raw categorical/behavioral columns into model
features at corpus scale — each a linear-shuffle aggregation with the
tiny statistics broadcast back onto the rows, never a per-row Python
stage. Leakage safety is the design axis: the encodings a model trains
on must not let a row see its own label.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint


def target_encode(
    df: DataFrame,
    key_cols: list[str],
    label_col: str,
    smoothing: float = 10.0,
    loo: bool = True,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical key, leakage-safe.

    enc = (category label sum − own label if ``loo`` + m·prior) /
    (category count − 1 if ``loo`` + m): the classic empirical-Bayes
    shrinkage toward the global prior (m = ``smoothing`` pseudo-counts),
    with the leave-one-out correction so a row NEVER contributes to its
    own feature — the leakage that makes naive target encoding
    overfit-by-construction. Categories with a single row fall back to
    the prior under LOO (denominator m alone).

    One groupBy on the key (map-side partials), the per-key stats joined
    back on their own key, the 1-row global prior broadcast — all
    linear. Output: input columns + ``target_enc``.
    """
    keys = list(key_cols)
    lab = F.col(label_col).cast("double")
    # checkpoint: the |keys|-row stats feed the global prior (a sum over
    # the per-key partials, not another fact scan) and the encode join
    stats = checkpoint(
        df.groupBy(*keys).agg(F.sum(lab).alias("_ksum"), F.count(lab).alias("_kn"))
    )
    prior = stats.agg(
        (F.sum("_ksum") / F.sum("_kn")).alias("_prior")
    )
    j = df.join(stats, keys).crossJoin(F.broadcast(prior))
    if loo:
        num = F.col("_ksum") - lab + F.lit(smoothing) * F.col("_prior")
        den = F.col("_kn") - 1 + F.lit(smoothing)
    else:
        num = F.col("_ksum") + F.lit(smoothing) * F.col("_prior")
        den = F.col("_kn") + F.lit(smoothing)
    return j.withColumn(
        "target_enc", F.lit(0.0) + F.round(num / den, 6)
    ).drop("_ksum", "_kn", "_prior")


def rfm_scores(
    orders: DataFrame,
    customer_col: str,
    date_col: str,
    amount_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic behavioral feature triple, binned 1..``n_bins`` by exact
    quantile thresholds.

    Per customer: ``recency_days`` (days from their last order to the
    corpus max date), ``frequency`` (order count), ``monetary`` (amount
    sum). Scores: threshold t_k = exact linear-interpolated quantile
    k/n_bins of the metric across customers; score = 1 + #{t_k ≤ x}
    for frequency/monetary (higher is better) and the REVERSED
    ``n_bins+1 − score`` for recency (smaller gap is better). The
    combined ``rfm_segment`` concatenates r·100 + f·10 + m (for
    n_bins ≤ 9).

    Scale shape: one groupBy on the customer key, then a SINGLE 1-row
    aggregate computing all three threshold arrays (exact
    ``percentile`` — swap for approx_percentile at extreme cardinality)
    broadcast back via crossJoin; scoring is a pure projection. No
    global window, no per-row Python.
    """
    agg = orders.groupBy(F.col(customer_col).alias("customer")).agg(
        F.max(F.col(date_col)).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col(amount_col)), 6).alias("monetary"),
    )
    anchor = orders.agg(F.max(F.col(date_col)).alias("_anchor"))
    # base feeds the thresholds and the scoring; the plan reuses the
    # groupBy's and the anchor's exchanges, so nothing is materialized
    base = (
        agg.crossJoin(F.broadcast(anchor))
        .select(
            "customer",
            F.datediff(F.col("_anchor"), F.col("_last")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    qs = [k / n_bins for k in range(1, n_bins)]
    qarr = "array(" + ", ".join(f"{q}D" for q in qs) + ")"
    # Thresholds round to 6 dp: the metrics are integers / 6dp-rounded
    # doubles, so snapping the interpolated quantiles to the same grid
    # makes the >= boundary comparisons reproducible across engines
    # (different-but-equivalent interpolation arithmetic can differ by
    # 1 ulp, which would flip a score exactly on a threshold).
    thresholds = base.agg(
        F.expr(
            f"transform(percentile(recency_days, {qarr}), x -> round(x, 6))"
        ).alias("_tr"),
        F.expr(
            f"transform(percentile(frequency, {qarr}), x -> round(x, 6))"
        ).alias("_tf"),
        F.expr(
            f"transform(percentile(monetary, {qarr}), x -> round(x, 6))"
        ).alias("_tm"),
    )

    def score(col: str, tcol: str) -> Column:
        s = F.lit(1)
        for i in range(len(qs)):
            s = s + F.when(
                F.col(col) >= F.col(tcol)[i], F.lit(1)
            ).otherwise(F.lit(0))
        return s

    scored = base.crossJoin(F.broadcast(thresholds)).select(
        "customer",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(n_bins + 1) - score("recency_days", "_tr")).alias("r_score"),
        score("frequency", "_tf").alias("f_score"),
        score("monetary", "_tm").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int"),
    )


def purged_time_splits(
    df: DataFrame,
    date_col: str = "date",
    n_folds: int = 5,
    purge: int = 0,
    embargo: int = 0,
) -> DataFrame:
    """Purged K-fold time splits with embargo — the leakage-safe
    cross-validation scheme for overlapping-label panels (López de
    Prado, *Advances in Financial Machine Learning* 2018, ch. 7,
    simplified to contiguous folds): a factor whose forward return spans
    h days leaks into any test block whose start lies within h days
    after a training date, so those trailing training dates are PURGED;
    ``embargo`` additionally drops the dates right after the test block
    (serial-correlation bleed-back).

    Folds are contiguous date blocks: fold(d) = floor(idx·K/N) over the
    ranked distinct-date axis — explicit integer-exact arithmetic, not
    ntile, so any engine reproduces the assignment. Output is the
    date-dimension-sized fold map (fold, date, role) with role ∈
    {'test', 'purged', 'embargo', 'train'}; broadcast-join it back to
    the panel to materialize per-fold training sets.

    Scale shape: one collect_set over dates (dimension-sized, the same
    calendar pattern every date-axis op here uses), an explode by K, and
    a broadcast of the K-row bounds table. Nothing row-count-sized.
    """
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    # dd and folded are each read twice; the plan reuses the
    # collect_set's exchange, so the fact table is scanned once
    dd = (
        df.agg(F.array_sort(F.collect_set(date_col)).alias("_ds"))
        .select(F.posexplode("_ds").alias("idx", "date"))
    )
    n = dd.agg(F.count(F.lit(1)).alias("_n"))
    folded = dd.crossJoin(F.broadcast(n)).select(
        "idx",
        "date",
        F.least(
            F.floor(F.col("idx") * n_folds / F.col("_n")), F.lit(n_folds - 1)
        ).cast("int").alias("_fold_of"),
    )
    bounds = folded.groupBy("_fold_of").agg(
        F.min("idx").alias("_lo"), F.max("idx").alias("_hi")
    ).withColumnRenamed("_fold_of", "fold")
    exploded = folded.withColumn(
        "fold", F.explode(F.sequence(F.lit(0), F.lit(n_folds - 1)))
    ).withColumn("fold", F.col("fold").cast("int"))
    j = exploded.join(F.broadcast(bounds), "fold")
    role = (
        F.when(F.col("idx").between(F.col("_lo"), F.col("_hi")), "test")
        .when(
            (F.col("idx") >= F.col("_lo") - purge) & (F.col("idx") < F.col("_lo")),
            "purged",
        )
        .when(
            (F.col("idx") > F.col("_hi")) & (F.col("idx") <= F.col("_hi") + embargo),
            "embargo",
        )
        .otherwise("train")
    )
    return j.select("fold", "date", role.alias("role"))


def rank_normalize(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Percentile-rank normalization: map a numeric column to (0, 1) by
    its within-group average rank, ``(avg_rank − 0.5) / n`` — the
    distribution-free feature transform (ties share their average rank,
    so the output is symmetric under permutation; follow with a probit
    for gauss-rank encoding).

    Window partitioned by ``by`` (REQUIRED for row-count-sized inputs:
    an unpartitioned rank over a fact table is the move-everything-to-
    one-partition shape the plan gate rejects; pass by=None only for
    dimension-sized frames). Appends ``out_col``; rows with NULL value
    get NULL rank.
    """
    keys = list(by) if by else []
    w = Window.partitionBy(*keys)
    # rank over the 6-dp grid (performance._avg_rank's rule): float-SUM
    # inputs tie non-deterministically at the ulp level across engines/
    # summation orders, splitting tie groups and shifting average ranks
    # by 0.5 — rounding the RANK KEY makes ties exact on both engines
    key = F.round(F.col(value_col), 6)
    # NULLS LAST so missing values never shift the ranks of real ones
    # (ascending rank puts NULLs first by default)
    wo = w.orderBy(key.asc_nulls_last())
    n = F.count(F.col(value_col)).over(w)
    # average rank under ties = rank + (tie_count - 1)/2
    tie_n = F.count(F.lit(1)).over(Window.partitionBy(*keys, key))
    avg_rank = F.rank().over(wo) + (tie_n - 1) / 2.0
    out = F.when(
        F.col(value_col).isNotNull(),
        F.round((avg_rank - 0.5) / n, 6) + F.lit(0.0),
    )
    return df.withColumn(out_col, out)


def groupwise_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Per-group simple linear regression y = a + b·x by the closed
    form — thousands of independent regressions in ONE aggregation
    (slope = cov/var from the five sufficient sums; the same
    closed-form-OLS move as performance.factor_alpha_beta, grouped).

    Output: (by…, n, slope, intercept, r2); groups with zero x-variance
    emit NULL slope/intercept/r2 (try_divide semantics), n counts rows
    where both x and y are present.

    Scale shape: one groupBy with map-side partial sums — no window, no
    per-group iteration, no driver loop. The sufficient-statistics
    trick is what makes \"fit a model per key\" a linear-shuffle
    aggregation instead of an applyInPandas escape hatch.
    """
    keys = list(by) if by else []
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    xx = F.when(both, x)
    yy = F.when(both, y)
    agg = df.groupBy(*keys).agg(
        F.count(xx).alias("n"),
        F.sum(xx).alias("_sx"),
        F.sum(yy).alias("_sy"),
        F.sum(xx * yy).alias("_sxy"),
        F.sum(xx * xx).alias("_sxx"),
        F.sum(yy * yy).alias("_syy"),
    )
    n = F.col("n").cast("double")
    ssx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    ssy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    slope = F.try_divide(sxy, ssx)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.try_divide(sxy * sxy, ssx * ssy)
    return agg.select(
        *keys,
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )

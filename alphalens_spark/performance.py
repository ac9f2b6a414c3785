"""Metric operators over the canonical ``factor_data`` DataFrame.

Re-expresses alphalens/performance.py on Spark. Every operator here is a
pure DataFrame transformation (lazy logical plan) built from native Column
expressions — no Python UDFs in the hot path, no driver-side loops; the
reference's groupby().apply closures (SURVEY §2.10) become window
expressions and grouped aggregates that Catalyst fuses into whole-stage
codegen. ``date`` is the universal partition key (every cross-sectional
op); per-date groups are small cross-sections, so exact percentile / rank
work is cheap within a shuffle partition and AQE coalesces the small
shuffle outputs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark.calendar_ import DAY_IDX, at_offset, trading_calendar
from alphalens_spark.utils import (
    demean_forward_returns,
    timedelta_strings_to_integers,
)

ANNUALIZATION_PERIODS = 252  # trading periods per year for a daily calendar


def _corr_safe(x: Column | str, y: Column | str) -> Column:
    """Pearson correlation as an ANSI-safe aggregate.

    ``F.corr`` divides by the rank variances internally and RAISES
    DIVIDE_BY_ZERO under ``spark.sql.ansi.enabled=true`` whenever a
    partition is degenerate (n=1, or all-tied values — e.g. a group with
    one asset on a date). Same moments, explicit division:
    ``covar_samp / (stddev_samp·stddev_samp)`` (the 1/(n−1) factors
    cancel), with ``try_divide`` → NULL on zero variance and ``nanvl`` →
    NULL on any NaN leak. NULL (never NaN, never an error) matches both
    the pandas reference (scipy emits NaN, dropped by the downstream
    ``.mean()``) and SQL engines' ``corr`` (verified vs DuckDB), so
    downstream averages skip degenerate partitions identically under ANSI
    and non-ANSI sessions.
    """
    raw = F.try_divide(F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y))
    return F.nanvl(raw, F.lit(None).cast("double"))


def _avg_rank(value: str, part: Sequence[str]) -> Column:
    """Average-tie rank (pandas ``rank(method='average')``) as windows.

    Spark's ``rank()`` is a min-rank; pandas/scipy Spearman uses average
    ranks (SURVEY §2.5). avg_rank = min_rank + (tie_count - 1)/2 using a
    second window keyed by (partition, value).

    Ranks run over the 6-dp grid (float-parity playbook): the ranked
    columns are aggregation outputs (factor = a SUM of discounted
    quantities), and two MATHEMATICALLY equal sums can differ by one ulp
    between engines/summation orders — splitting a tie group in one
    engine but not the other shifts average ranks by 0.5 and moves the
    IC at the 1e-3 level (caught by the strict sf0.1 sweep: nine
    rank-family queries diverged; sf0.01 had too few collisions to
    show it). Rounding both engines' rank keys to 6 dp makes tie groups
    exact and deterministic; sub-1e-6 TRUE differences collapsing into a
    tie moves a 1000-asset cross-section's IC by ~1e-6 — below the
    output grid.
    """
    key = F.round(F.col(value), 6)
    w_order = Window.partitionBy(*part).orderBy(key)
    w_ties = Window.partitionBy(*part, key)
    return F.rank().over(w_order) + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0


def factor_information_coefficient(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    group_adjust: bool = False,
    by_group: bool = False,
) -> DataFrame:
    """Per-date Spearman rank IC between factor and each forward return.

    Reference performance.py:28-75 (scipy ``stats.spearmanr`` per date
    group). Spearman(x, y) == Pearson(avg_rank(x), avg_rank(y)), so this
    is rank windows + ``corr`` per date — one shuffle, JVM-side, no scipy.

    group_adjust (ref performance.py:65-67): demean returns by
    (date, group) first. by_group (ref performance.py:68-70): compute IC
    per (date, group).
    """
    df = factor_data
    if group_adjust:
        df = demean_forward_returns(df, period_cols, ("date", "group"))
    keys = ["date"] + (["group"] if by_group else [])
    rf = _avg_rank("factor", keys)
    ranked = df.select(
        *keys,
        rf.alias("_rf"),
        *[_avg_rank(c, keys).alias(f"_rr_{c}") for c in period_cols],
    )
    aggs = [_corr_safe("_rf", f"_rr_{c}").alias(f"ic_{c}") for c in period_cols]
    return ranked.groupBy(*keys).agg(*aggs)


def mean_information_coefficient(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    group_adjust: bool = False,
    by_group: bool = False,
    by_time: str | None = None,
    ic: DataFrame | None = None,
) -> DataFrame:
    """Mean IC, optionally bucketed by calendar period and/or group.

    Reference performance.py:77-126 (pd.Grouper(freq=by_time)). by_time is
    a ``date_trunc`` unit: 'month', 'week', 'year', ... Pass a
    precomputed ``ic`` (factor_information_coefficient's output, same
    group_adjust/by_group flags) to reuse one cached per-date IC frame
    across the summary/monthly/by-group views — the tear-sheet batch
    otherwise re-ranks the full panel once per view.
    """
    if ic is None:
        ic = factor_information_coefficient(
            factor_data, period_cols, group_adjust, by_group
        )
    keys = []
    if by_time is not None:
        ic = ic.withColumn("time_bucket", F.date_trunc(by_time, "date"))
        keys.append("time_bucket")
    if by_group:
        keys.append("group")
    aggs = [F.avg(f"ic_{c}").alias(f"ic_{c}") for c in period_cols]
    if not keys:
        return ic.agg(*aggs)
    return ic.groupBy(*keys).agg(*aggs)


def _tie_pairs(df: DataFrame, key: str) -> DataFrame:
    """Σ C(t, 2) over the tie groups of ``key`` per date — exact integers."""
    return (
        df.groupBy("date", key)
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("date")
        .agg(
            F.sum(F.expr("(_c * (_c - 1)) div 2"))
            .cast("long")
            .alias(f"tie_{key}")
        )
    )


def kendall_tau_ic(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    impl: str = "sorted",
) -> DataFrame:
    """Per-date Kendall tau-b IC between factor and each forward return —
    the robust alternative to Spearman when the cross-section carries
    heavy ties or outliers (extension; the reference computes Spearman
    only, `alphalens/performance.py:28-75`).

    tau_b = S / (sqrt(n0 − T_x) · sqrt(n0 − T_y)) with
    S = Σ_{i<j} sign(Δx)·sign(Δy), n0 = C(n,2), T = Σ C(t,2) over tie
    groups. Both variables snap to the 6-dp grid first (the `_avg_rank`
    tie-determinism contract), so every count is an exact cross-engine
    integer; tau exports as a 1e-6 micro-unit BIGINT computed with one
    correctly-rounded op sequence (sqrt/​mul/​div/​mul are each IEEE
    exact-rounded on identical integer inputs, so the double is
    bit-identical on every engine).

    impl='pairs': pure-expression per-date pair join (O(a²) in the
    cross-section width a — never data-sized, but quadratic in a). The
    DuckDB oracle twin.

    impl='sorted' (default): per-date Arrow ``applyInPandas`` running
    Knight's O(a·log²a) merge-sort discordance count
    (S = n0 − T_x − T_y + T_xy − 2·dis, dis = strict y-inversions in
    (x, y)-lexsorted order). Python-on-executor is justified here the
    same way as the minhash permutations: the algorithm is a sequential
    merge recursion no Spark expression can state, the groups are
    cross-section-bounded, and the transfer is one Arrow batch per
    date. Equality vs 'pairs' is tested; identical output contract.

    Output: (date, n, xtie, then per period c: s_<c>, ytie_<c>,
    tau_<c>_e6) — every column an exact integer.
    """
    cols = list(period_cols)
    # NULL/NaN contract: rows with a null OR NaN factor or ANY null/NaN
    # period value are excluded up front. Without this the two impls
    # silently diverge on dirty input (the pairs form groups nulls/NaNs
    # into a tie group via groupBy NaN-normalization and drops null sign
    # products, while NaN in the sorted form is both self-unequal for
    # ties and sorts largest for discordances — review-confirmed
    # numerically; isNotNull alone passes NaN, advice-confirmed).
    # factor_data from get_clean_factor is already null/NaN-free, so
    # certified paths are unaffected.
    notnull = F.col("factor").isNotNull() & ~F.isnan("factor")
    for c in cols:
        notnull = notnull & F.col(c).isNotNull() & ~F.isnan(c)
    base = factor_data.where(notnull).select(
        "date",
        "asset",
        F.round("factor", 6).alias("_x"),
        *[F.round(c, 6).alias(f"_y_{c}") for c in cols],
    )
    date_type = factor_data.schema["date"].dataType.simpleString()

    if impl == "pairs":
        n_df = base.groupBy("date").agg(F.count(F.lit(1)).alias("n"))
        xt = _tie_pairs(base, "_x").withColumnRenamed("tie__x", "xtie")
        a, b = base.alias("a"), base.alias("b")
        pair_aggs = [
            F.coalesce(
                F.sum(
                    (
                        F.signum(F.col("a._x") - F.col("b._x"))
                        * F.signum(F.col(f"a._y_{c}") - F.col(f"b._y_{c}"))
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"s_{c}")
            for c in cols
        ]
        s_df = (
            a.join(
                b,
                (F.col("a.date") == F.col("b.date"))
                & (F.col("a.asset") < F.col("b.asset")),
            )
            .groupBy(F.col("a.date").alias("date"))
            .agg(*pair_aggs)
        )
        out = n_df.join(xt, "date").join(s_df, "date", "left")
        for c in cols:
            yt = _tie_pairs(base, f"_y_{c}").withColumnRenamed(
                f"tie__y_{c}", f"ytie_{c}"
            )
            out = out.join(yt, "date")
        n0 = F.expr("(n * (n - 1)) div 2")
        sel = ["date", "n", "xtie"]
        for c in cols:
            s = F.coalesce(F.col(f"s_{c}"), F.lit(0)).cast("long")
            dx = n0 - F.col("xtie")
            dy = n0 - F.col(f"ytie_{c}")
            tau = F.when(
                (dx > 0) & (dy > 0),
                F.round(s / (F.sqrt(dx) * F.sqrt(dy)) * 1e6).cast("long"),
            )
            sel += [
                s.alias(f"s_{c}"),
                F.col(f"ytie_{c}"),
                tau.alias(f"tau_{c}_e6"),
            ]
        return out.select(*sel)

    if impl != "sorted":
        raise ValueError(f"impl must be 'pairs' or 'sorted', got {impl!r}")

    fields = ", ".join(
        [f"date {date_type}", "n long", "xtie long"]
        + [f"s_{c} long, ytie_{c} long, tau_{c}_e6 long" for c in cols]
    )

    def _tau_group(pdf):
        import decimal

        import numpy as np
        import pandas as pd

        def half_up(v):
            # Spark round(double) goes through BigDecimal.valueOf ==
            # shortest-repr + HALF_UP; Python round() is half-even and
            # floor(v+0.5) breaks within 1 ulp of .5 (the unigram-driver
            # lesson) — Decimal on repr() is the proven exact twin.
            return int(
                decimal.Decimal(repr(float(v))).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            )

        def run_pairs(new_group):
            # Σ C(run, 2) from a boolean new-group marker over sorted data
            idx = np.flatnonzero(np.concatenate(([True], new_group)))
            runs = np.diff(np.concatenate((idx, [len(new_group) + 1])))
            return int((runs * (runs - 1) // 2).sum())

        def tie_pairs(sorted_v):
            return run_pairs(sorted_v[1:] != sorted_v[:-1])

        def strict_inversions(y):
            # bottom-up merge count of STRICT inversions (y_i > y_j, i<j)
            arr = y.copy()
            n, inv, width = len(arr), 0, 1
            while width < n:
                for lo in range(0, n, 2 * width):
                    mid, hi = lo + width, min(lo + 2 * width, n)
                    if mid >= hi:
                        continue
                    left, right = arr[lo:mid], arr[mid:hi]
                    inv += int(
                        (len(left) - np.searchsorted(left, right, "right")).sum()
                    )
                    arr[lo:hi] = np.sort(arr[lo:hi], kind="stable")
                width *= 2
            return inv

        x = pdf["_x"].to_numpy(dtype=np.float64)
        n = len(x)
        n0 = n * (n - 1) // 2
        xtie = tie_pairs(np.sort(x, kind="stable"))
        row = {"date": pdf["date"].iloc[0], "n": n, "xtie": xtie}
        for c in cols:
            y = pdf[f"_y_{c}"].to_numpy(dtype=np.float64)
            order = np.lexsort((y, x))
            xs, ys = x[order], y[order]
            dis = strict_inversions(ys)
            ytie = tie_pairs(np.sort(y, kind="stable"))
            xytie = run_pairs((xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1]))
            s = n0 - xtie - ytie + xytie - 2 * dis
            dx, dy = n0 - xtie, n0 - ytie
            tau = (
                half_up(s / (np.sqrt(float(dx)) * np.sqrt(float(dy))) * 1e6)
                if dx > 0 and dy > 0
                else None
            )
            row[f"s_{c}"] = s
            row[f"ytie_{c}"] = ytie
            row[f"tau_{c}_e6"] = tau
        return pd.DataFrame([row])

    return base.groupBy("date").applyInPandas(_tau_group, fields)


def ic_bootstrap_ci(
    ic: DataFrame,
    col: str,
    n_boot: int = 200,
    block: int = 20,
    seed: int = 42,
    alpha: float = 0.05,
) -> DataFrame:
    """Circular block bootstrap CI for the MEAN of a per-date series
    (typically an IC column from
    :func:`factor_information_coefficient`) — the standard way to get a
    significance band on mean IC without the i.i.d. assumption the
    t-stat in :func:`ic_summary` makes (daily ICs are autocorrelated;
    block resampling preserves that structure; Künsch 1989 / Politis).

    Deterministic end to end: block start offsets come from
    ``md5(seed_b_k)`` (the engine-wide reproducible-uniform
    convention), each date's value snaps to 1e-6 micro-units through
    the proven ``round(round(x, 6)·1e6)`` double-round (``round(x, 6)``
    is the corpus-proven cross-engine-equal form; a single-round of
    ``x·1e6`` would inherit ulp differences in the upstream corr), and
    the CI bounds are ORDER STATISTICS of the exact integer resample
    sums — no percentile interpolation, no float output at all.

    Scale shape: the series is date-dimension bounded, so everything
    here is bounded: the value index is one collect_set-style aggregate
    (no global window), the resample grid is ``n_boot × n`` generated
    rows joined against the BROADCAST value dim, sums are one groupBy,
    and the order statistics come from one bounded collect (``n_boot``
    structs) — the 1-row ``n`` broadcast rides the documented
    scalar-broadcast contract.

    Output (one row, all integers): (n_dates, n_boot, block_len,
    obs_sum_e6, lo_sum_e6, hi_sum_e6) — divide the sums by n_dates for
    means; lo/hi are the ceil(α/2·B) and ceil((1−α/2)·B) smallest
    resample sums (ties broken by resample id).
    """
    import math

    spark = ic.sparkSession
    v_e6 = F.round(F.round(F.col(col), 6) * 1e6).cast("long")
    arr = ic.where(F.col(col).isNotNull()).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("date").alias("d"), v_e6.alias("v")))
        ).alias("_a")
    )
    vals = arr.select(
        F.posexplode(F.transform("_a", lambda x: x["v"])).alias("i", "v")
    )
    nrow = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("obs_sum_e6"),
    )

    b_frame = spark.range(n_boot).select(F.col("id").cast("int").alias("b"))
    with_n = b_frame.crossJoin(F.broadcast(nrow))
    blocks = with_n.select(
        "b",
        "n",
        "obs_sum_e6",
        F.explode(
            F.sequence(
                F.lit(0), ((F.col("n") + block - 1) / block).cast("int") - 1
            )
        ).alias("k"),
    )
    # two-step select: pin the md5 offset before the position explode
    offs = blocks.select(
        "b",
        "n",
        "obs_sum_e6",
        "k",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{seed}_"),
                            F.col("b").cast("string"),
                            F.lit("_"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
        ).alias("o"),
    )
    picks = offs.select(
        "b",
        "n",
        "obs_sum_e6",
        "k",
        "o",
        F.explode(F.sequence(F.lit(0), F.lit(block - 1))).alias("j"),
    ).where(F.col("k") * block + F.col("j") < F.col("n"))
    joined = picks.join(
        F.broadcast(vals),
        ((F.col("o") + F.col("j")) % F.col("n")).cast("int") == F.col("i"),
    )
    sums = joined.groupBy("b", "n", "obs_sum_e6").agg(
        F.sum("v").cast("long").alias("sum_e6")
    )
    lo_k = max(1, math.ceil(alpha / 2 * n_boot))
    hi_k = math.ceil((1 - alpha / 2) * n_boot)
    ss = F.array_sort(
        F.collect_list(F.struct(F.col("sum_e6").alias("s"), F.col("b")))
    )
    return sums.groupBy("n", "obs_sum_e6").agg(ss.alias("_ss")).select(
        F.col("n").alias("n_dates"),
        F.lit(n_boot).cast("int").alias("n_boot"),
        F.lit(block).cast("int").alias("block_len"),
        "obs_sum_e6",
        F.element_at("_ss", lo_k)["s"].alias("lo_sum_e6"),
        F.element_at("_ss", hi_k)["s"].alias("hi_sum_e6"),
    )


def ic_summary(ic: DataFrame, period_cols: Sequence[str]) -> DataFrame:
    """IC summary table: mean, std, IR, t-stat, skew, kurtosis, n.

    Reference plotting.py:166-179 (scipy ttest_1samp / skew / kurtosis).
    All are native Spark aggregates; t = mean/(std/sqrt(n)). p-values (a
    scipy Student-t survival function over a scalar) belong to the display
    layer, computed driver-side on this tiny output.
    """
    aggs = []
    for c in period_cols:
        col = f"ic_{c}"
        aggs += [
            F.avg(col).alias(f"mean_{c}"),
            F.stddev_samp(col).alias(f"std_{c}"),
            F.try_divide(F.avg(col), F.stddev_samp(col)).alias(f"ir_{c}"),
            F.try_divide(
                F.avg(col), F.stddev_samp(col) / F.sqrt(F.count(col))
            ).alias(f"tstat_{c}"),
            F.skewness(col).alias(f"skew_{c}"),
            F.kurtosis(col).alias(f"kurtosis_{c}"),
            F.count(col).alias(f"n_{c}"),
        ]
    return ic.agg(*aggs)


def quantile_statistics(factor_data: DataFrame) -> DataFrame:
    """Per-quantile factor statistics (ref plotting.py:182-189): min, max,
    mean, std, count and count % of all rows.

    Output: (factor_quantile, min_factor, max_factor, mean_factor,
    std_factor, count_factor, count_pct).
    """
    out = factor_data.groupBy("factor_quantile").agg(
        F.min("factor").alias("min_factor"),
        F.max("factor").alias("max_factor"),
        F.avg("factor").alias("mean_factor"),
        F.stddev_samp("factor").alias("std_factor"),
        F.count("factor").alias("count_factor"),
    )
    # pct-of-total via broadcast 1-row agg join (a global window would
    # move the Q-row frame to one partition and warn)
    tot = out.agg(F.sum("count_factor").alias("_tot"))
    return out.crossJoin(F.broadcast(tot)).withColumn(
        "count_pct", F.col("count_factor") / F.col("_tot") * 100.0
    ).drop("_tot")


def student_t_sf(t: float, df: float) -> float:
    """Student-t survival function P(T > t), driver-side scalar math.

    The reference's IC table p-value is scipy ``ttest_1samp``
    (plotting.py:172); scipy isn't a dependency here, and the input is a
    single t-stat per horizon, so evaluate the classic closed form
    sf(t) = I_x(df/2, 1/2)/2 with x = df/(df+t²) via the regularized
    incomplete beta (continued fraction, modified Lentz; standard public
    algorithm, e.g. DLMF 8.17.22). Two-sided p-value = 2·sf(|t|).
    Agrees with scipy.stats.t.sf to ~1e-14 (unit-tested on literals).
    """
    import math

    if math.isnan(t) or df <= 0:
        return float("nan")
    if t < 0:
        return 1.0 - student_t_sf(-t, df)

    def betacf(a: float, b: float, x: float) -> float:
        tiny = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        if abs(d) < tiny:
            d = tiny
        d = 1.0 / d
        h = d
        for m in range(1, 300):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 1e-15:
                break
        return h

    def betainc_reg(a: float, b: float, x: float) -> float:
        if x <= 0.0:
            return 0.0
        if x >= 1.0:
            return 1.0
        ln_front = (
            math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
            + a * math.log(x) + b * math.log1p(-x)
        )
        front = math.exp(ln_front)
        if x < (a + 1.0) / (a + b + 2.0):
            return front * betacf(a, b, x) / a
        return 1.0 - front * betacf(b, a, 1.0 - x) / b

    x = df / (df + t * t)
    return 0.5 * betainc_reg(df / 2.0, 0.5, x)


def factor_weights(
    factor_data: DataFrame,
    demeaned: bool = True,
    group_adjust: bool = False,
    equal_weight: bool = False,
    weight_col: str = "weights",
) -> DataFrame:
    """Per-date factor-proportional (or equal) long/short weights.

    Reference to_weights (performance.py:129-205):
      demeaned       subtract the per-date mean so longs/shorts balance
      equal_weight   ±1 by sign about the per-date MEDIAN (exact
                     percentile 0.5 — pandas median is exact,
                     performance.py:174; never approx here)
      group_adjust   weights renormalized within (date, group), then
                     scaled by 1/#groups per date (performance.py:202-204)
    Final normalization divides by the per-date sum of |w| so gross
    exposure is 1 (performance.py:193).
    """
    grouper = ["date"] + (["group"] if group_adjust else [])
    w = Window.partitionBy(*grouper)
    f = F.col("factor")
    if equal_weight:
        center = F.percentile(f, F.lit(0.5)).over(w) if demeaned else F.lit(0.0)
        raw = F.when(f > center, F.lit(1.0)).when(f < center, F.lit(-1.0)).otherwise(F.lit(0.0))
        if demeaned:
            # ref performance.py:185-190: positive dollars must equal
            # negative dollars, so each side is divided by its own COUNT
            # before the gross normalization — the two differ whenever
            # median ties skew the split (e.g. [1,2,2,2,2,4,5])
            n_pos = F.sum(F.when(raw > 0, 1).otherwise(0)).over(w)
            n_neg = F.sum(F.when(raw < 0, 1).otherwise(0)).over(w)
            raw = (
                F.when(raw > 0, raw / n_pos)
                .when(raw < 0, raw / n_neg)
                .otherwise(F.lit(0.0))
            )
    else:
        raw = f - F.avg(f).over(w) if demeaned else f
    out = factor_data.withColumn("_raw_w", raw)
    norm = F.sum(F.abs(F.col("_raw_w"))).over(w)
    # try_divide: a partition whose weights all degenerate to 0 (single
    # asset demeaned) has norm 0 — NULL weight (pandas emits NaN), never
    # an ANSI DIVIDE_BY_ZERO error
    out = out.withColumn(weight_col, F.try_divide(F.col("_raw_w"), norm)).drop("_raw_w")
    if group_adjust:
        # ref performance.py:202-204: a SECOND to_weights pass at date
        # level = renormalize by the per-date sum of |w|. NOT a divide by
        # group count: a group whose weights degenerate to NaN (single
        # asset demeaned) or 0 contributes nothing to the sum, so the
        # remaining groups still split the whole book (golden case 4/8 of
        # reference tests/test_performance.py:437-554)
        wd = Window.partitionBy("date")
        out = out.withColumn(
            weight_col,
            F.try_divide(F.col(weight_col), F.sum(F.abs(F.col(weight_col))).over(wd)),
        )
    return out


def factor_returns(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    demeaned: bool = True,
    group_adjust: bool = False,
    equal_weight: bool = False,
    by_asset: bool = False,
) -> DataFrame:
    """Per-date return of the factor-weighted portfolio, per horizon.

    Reference performance.py:208-255: weights ⊙ forward returns, summed
    per date. One window pass for weights + one groupBy(date) — two
    shuffles on the same key (Catalyst reuses the exchange).
    """
    weighted = factor_weights(factor_data, demeaned, group_adjust, equal_weight)
    prods = [
        (F.col(c) * F.col("weights")).alias(f"_p_{c}") for c in period_cols
    ]
    weighted = weighted.select("date", "asset", *prods)
    if by_asset:
        return weighted.select(
            "date", "asset", *[F.col(f"_p_{c}").alias(f"ret_{c}") for c in period_cols]
        )
    return weighted.groupBy("date").agg(
        *[F.sum(f"_p_{c}").alias(f"ret_{c}") for c in period_cols]
    )


def factor_alpha_beta(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    periods: Sequence[int] | None = None,
    demeaned: bool = True,
    group_adjust: bool = False,
    equal_weight: bool = False,
    returns: DataFrame | None = None,
    annualize: bool = True,
) -> DataFrame:
    """Closed-form univariate OLS of factor returns on the universe mean.

    Reference performance.py:258-330 runs statsmodels OLS per horizon:
    y = factor return, x = per-date universe mean forward return. The OLS
    is univariate, so it collapses to aggregates (SURVEY §2.4):
        beta  = covar_samp(x, y) / var_samp(x)
        alpha = avg(y) - beta * avg(x), annualized
        (1 + alpha)^(252/k) - 1          (performance.py:324-327)
    Single-row output; one aggregation over the per-date joined series.
    """
    if returns is None:
        returns = factor_returns(factor_data, period_cols, demeaned, group_adjust, equal_weight)
    universe = factor_data.groupBy("date").agg(
        *[F.avg(c).alias(f"u_{c}") for c in period_cols]
    )
    joined = returns.join(universe, "date")
    if periods is None:
        periods = timedelta_strings_to_integers(period_cols)
    aggs = []
    for c, k in zip(period_cols, periods):
        x, y = F.col(f"u_{c}"), F.col(f"ret_{c}")
        beta = F.try_divide(F.covar_samp(x, y), F.var_samp(x))
        alpha = F.avg(y) - beta * F.avg(x)
        if annualize:
            alpha = F.pow(alpha + F.lit(1.0), F.lit(ANNUALIZATION_PERIODS / k)) - F.lit(1.0)
        aggs += [alpha.alias(f"alpha_{c}"), beta.alias(f"beta_{c}")]
    return joined.agg(*aggs)


def mean_return_by_quantile(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    by_date: bool = False,
    by_group: bool = False,
    demeaned: bool = True,
    group_adjust: bool = False,
) -> DataFrame:
    """Mean/std-error of forward returns per factor quantile.

    Reference performance.py:453-517. Demeaning first (universe- or
    group-relative). When not by_date, the reference aggregates per
    (quantile, date) then averages over dates (two-level agg = partial +
    final); we reproduce that exactly — map-side combine makes the first
    level cheap.
    Output columns per horizon: ``mean_<c>``, ``std_<c>``, ``count_<c>``,
    ``stderr_<c>`` (std error = std / sqrt(count), performance.py:514-515).
    """
    df = factor_data
    if group_adjust:
        df = demean_forward_returns(df, period_cols, ("date", "group"))
    elif demeaned:
        df = demean_forward_returns(df, period_cols, ("date",))

    keys = ["factor_quantile"] + (["group"] if by_group else [])
    level1 = df.groupBy(*keys, "date").agg(
        *[F.avg(c).alias(f"mean_{c}") for c in period_cols],
        *[F.stddev_samp(c).alias(f"std_{c}") for c in period_cols],
        *[F.count(c).alias(f"count_{c}") for c in period_cols],
    )
    if by_date:
        out = level1.select(
            *keys,
            "date",
            *[
                col
                for c in period_cols
                for col in (
                    F.col(f"mean_{c}"),
                    F.col(f"std_{c}"),
                    F.col(f"count_{c}"),
                    (F.col(f"std_{c}") / F.sqrt(F.col(f"count_{c}"))).alias(f"stderr_{c}"),
                )
            ],
        )
        return out
    return aggregate_mean_returns_over_dates(level1, period_cols, keys)


def aggregate_mean_returns_over_dates(
    by_date: DataFrame, period_cols: Sequence[str], keys: Sequence[str]
) -> DataFrame:
    """Collapse a per-(keys, date) mean-returns frame to the reference's
    date-averaged table (mean of by-date means, std/count/stderr across
    dates). Shared by :func:`mean_return_by_quantile` (by_date=False) and
    callers holding a cached by-date frame (the tear-sheet batch derives
    both the aggregate table and the spread from ONE cached by-date
    frame instead of re-demeaning the panel per view). Only the
    ``mean_<c>`` columns are referenced, so the by_date=True output
    (which carries std/stderr columns too) is a valid input."""
    final = by_date.groupBy(*keys).agg(
        *[F.avg(f"mean_{c}").alias(f"mean_{c}") for c in period_cols],
        *[F.stddev_samp(f"mean_{c}").alias(f"std_{c}") for c in period_cols],
        *[F.count(f"mean_{c}").alias(f"count_{c}") for c in period_cols],
    )
    return final.select(
        *keys,
        *[
            col
            for c in period_cols
            for col in (
                F.col(f"mean_{c}"),
                F.col(f"std_{c}"),
                F.col(f"count_{c}"),
                (F.col(f"std_{c}") / F.sqrt(F.col(f"count_{c}"))).alias(f"stderr_{c}"),
            )
        ],
    )


def compute_mean_returns_spread(
    mean_returns_by_date: DataFrame,
    upper_quant: int,
    lower_quant: int,
    period_cols: Sequence[str],
) -> DataFrame:
    """Top-minus-bottom quantile return spread per date.

    Reference performance.py:520-565: ``xs(upper) - xs(lower)`` aligned by
    date = filter + self equi-join on date; joint std err =
    sqrt(s1² + s2²) (performance.py:563).
    """
    up = mean_returns_by_date.where(F.col("factor_quantile") == upper_quant).select(
        "date",
        *[F.col(f"mean_{c}").alias(f"_u_m_{c}") for c in period_cols],
        *[F.col(f"stderr_{c}").alias(f"_u_s_{c}") for c in period_cols],
    )
    lo = mean_returns_by_date.where(F.col("factor_quantile") == lower_quant).select(
        "date",
        *[F.col(f"mean_{c}").alias(f"_l_m_{c}") for c in period_cols],
        *[F.col(f"stderr_{c}").alias(f"_l_s_{c}") for c in period_cols],
    )
    joined = up.join(lo, "date")
    return joined.select(
        "date",
        *[
            col
            for c in period_cols
            for col in (
                (F.col(f"_u_m_{c}") - F.col(f"_l_m_{c}")).alias(f"spread_{c}"),
                F.sqrt(
                    F.col(f"_u_s_{c}") * F.col(f"_u_s_{c}")
                    + F.col(f"_l_s_{c}") * F.col(f"_l_s_{c}")
                ).alias(f"spread_stderr_{c}"),
            )
        ],
    )


def quantile_turnover(
    factor_data: DataFrame,
    periods: Sequence[int] = (1,),
    quantile: int | None = None,
) -> DataFrame:
    """Fraction of names new to each quantile vs ``p`` factor dates ago.

    Reference performance.py:568-598 computes one (quantile, period) pair
    per call, looped O(Q·P) times by tears.py:443-452. Here ALL pairs come
    out of one grouped query: each row reads its asset's quantile ``p``
    factor dates back with :func:`calendar_.at_offset` (one asset-keyed
    window for every period), and a row is "new" when that lookup is
    NULL or a different quantile.

    Output: (factor_quantile, period, date, turnover).
    """
    didx = trading_calendar(factor_data)
    mem = (
        factor_data.select("date", "asset", "factor_quantile")
        .join(F.broadcast(didx), "date")
    )
    if quantile is not None:
        mem = mem.where(F.col("factor_quantile") == quantile)
    # The asset's quantile p factor dates ago is one at_offset lookup
    # (NULL when the asset is absent — the "new name" case); one
    # asset-keyed exchange serves EVERY period. A row is new to its
    # quantile when the lagged quantile is NULL or different.
    lagged = F.array(
        *[
            F.struct(
                F.lit(int(p)).alias("period"),
                at_offset("factor_quantile", -int(p)).alias("_pq"),
            )
            for p in periods
        ]
    )
    cur = (
        mem.select("factor_quantile", "date", DAY_IDX, lagged.alias("_lags"))
        .select("factor_quantile", "date", DAY_IDX, F.inline("_lags"))
        .where(F.col(DAY_IDX) > F.col("period"))
    )
    is_new = F.col("_pq").isNull() | (F.col("_pq") != F.col("factor_quantile"))
    return (
        cur.groupBy("factor_quantile", "period", "date")
        .agg(
            (F.sum(F.when(is_new, 1).otherwise(0)) / F.count(F.lit(1)))
            .alias("turnover")
        )
        .select("factor_quantile", "period", "date", "turnover")
    )


def turnover_summary(quantile_turnover: DataFrame) -> DataFrame:
    """Mean turnover per (factor_quantile, period) over the dates of a
    :func:`quantile_turnover` frame (ref plotting.py:150-163).

    Output: (factor_quantile, period, mean_turnover).
    """
    return quantile_turnover.groupBy("factor_quantile", "period").agg(
        F.avg("turnover").alias("mean_turnover")
    )


def _rank_autocorr_by_date(
    factor_data: DataFrame, lags: Sequence[int]
) -> DataFrame:
    """Per-date Pearson corr of the factor ranks with the same assets'
    ranks ``p`` factor dates earlier, for every ``p`` in ``lags``:
    (period, date, autocorr).

    The avg-rank window runs once per date; each ranked row then reads
    its rank at every lag with :func:`calendar_.at_offset` (one
    asset-keyed window for all lags) and explodes to one row per lag. A
    rank is never NULL, so a NULL lookup means the asset had no row
    ``p`` dates back, and dropping it keeps exactly the pairs of an
    (asset, date - p) inner self-join."""
    ranked = factor_data.select(
        "date", "asset", _avg_rank("factor", ["date"]).alias("_rank")
    ).join(F.broadcast(trading_calendar(factor_data)), "date")
    lagged = F.array(
        *[
            F.struct(
                F.lit(int(p)).alias("period"),
                at_offset("_rank", -int(p)).alias("_prev_rank"),
            )
            for p in lags
        ]
    )
    return (
        ranked.select("date", "_rank", lagged.alias("_lags"))
        .select("date", "_rank", F.inline("_lags"))
        .where(F.col("_prev_rank").isNotNull())
        .groupBy("period", "date")
        .agg(_corr_safe("_rank", "_prev_rank").alias("autocorr"))
    )


def factor_rank_autocorrelation(
    factor_data: DataFrame, period: int = 1
) -> DataFrame:
    """Autocorrelation of per-date factor ranks across a ``period`` lag.

    Reference performance.py:601-639: pivot wide, ``corrwith(shift(p))``.
    Spark: :func:`_rank_autocorr_by_date` for the one lag — no pivot, no
    self-join. Output: (date, autocorr, period).
    """
    return _rank_autocorr_by_date(factor_data, [period]).select(
        "date", "autocorr", "period"
    )


def _ordered_series(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    value_type: str = "double",
) -> DataFrame:
    """The collect half of the ordered-series scaffold shared by
    :func:`ewma`, :func:`holt_linear` and the events module's
    ``cusum_changepoints`` / ``mann_kendall_trend``: NULL values
    dropped, then ONE groupBy per key gathers ``xs`` =
    array_sort(collect_list(struct(o, v))) — the whole series ordered by
    ``order_col``, ready for a map-side array fold. The series per key
    is bounded by the ORDER dimension (dates), so no window and no
    per-step shuffle is needed."""
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(order_col).alias("o"),
                        F.col(value_col).cast(value_type).alias("v"),
                    )
                )
            ).alias("xs")
        )
    )


def _explode_series(
    arr: DataFrame,
    keys: Sequence[str],
    ys: Column,
    order_col: str,
    value_col: str,
    outputs: dict[str, str],
) -> DataFrame:
    """The explode half of the scaffold: zip each key's ``xs`` with the
    folded series ``ys`` and emit one row per observation — ``keys`` +
    (order_col, value_col) + one column per ``outputs`` entry (output
    name → path under ``col.ys``, ``""`` for ys itself). Two-step
    select: the fold materializes once before the explode (Generate
    re-evaluates projected expressions per exploded row — the round-2
    lesson)."""
    staged = arr.select(*keys, "xs", ys.alias("ys"))
    return staged.select(*keys, F.posexplode(F.arrays_zip("xs", "ys"))).select(
        *keys,
        F.col("col.xs.o").alias(order_col),
        F.col("col.xs.v").alias(value_col),
        *[F.col(f"col.ys{path}").alias(name) for name, path in outputs.items()],
    )


def ewma(
    df: DataFrame,
    value_col: str,
    order_col: str = "date",
    by: Sequence[str] | str = "asset",
    span: float = 10.0,
) -> DataFrame:
    """Per-group exponentially weighted moving average — pandas
    ``ewm(span=..., adjust=False).mean()``: ``y_0 = x_0``,
    ``y_t = (1−α)·y_{t−1} + α·x_t`` with ``α = 2/(span+1)`` — the
    smoothing primitive next to the simple rolling means the plot layer
    uses.

    A sequential recurrence has no shuffle-native form, but the series
    per key is bounded by the ORDER dimension (dates), the same bounded
    contract as cumulative_returns: ONE groupBy collects the ordered
    (order, value) array per key and a single array fold computes the
    whole smoothed series map-side — no window, no per-step shuffle.
    The fold multiplies in a fixed order (``y·(1−α) + x·α``), so the
    recurrence is bit-exact across engines and the SQL oracle replays
    it as a recursive CTE. NULL values are excluded before smoothing.

    Output: ``by`` + (order_col, value_col, ewma) — one row per input
    (non-null) observation.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    alpha = 2.0 / (span + 1.0)
    oma = 1.0 - alpha
    arr = _ordered_series(df, by_cols, order_col, value_col)
    ys = F.aggregate(
        F.col("xs"),
        F.array().cast("array<double>"),
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x["v"])).otherwise(
            F.concat(
                acc,
                F.array(
                    F.element_at(acc, -1) * F.lit(oma) + x["v"] * F.lit(alpha)
                ),
            )
        ),
    )
    return _explode_series(arr, by_cols, ys, order_col, value_col, {"ewma": ""})


def _holt_step(alpha: float, beta: float):
    """The Holt level+trend fold step over (o, v) elements, shared by
    :func:`holt_linear` and the streaming store
    ``streaming.ops.holt_store_update`` (whose seeded continuation must
    execute the identical operation sequence). The accumulator is an
    array<struct<l, b>>; an empty accumulator starts the series at
    (l, b) = (x₀, 0)."""
    oma = 1.0 - alpha
    omb = 1.0 - beta

    def step(acc, x):
        prev = F.element_at(acc, -1)
        new_l = x["v"] * F.lit(alpha) + (prev["l"] + prev["b"]) * F.lit(oma)
        # the trend update re-states new_l's expression tree verbatim —
        # both engines then evaluate the identical double arithmetic
        new_b = (
            x["v"] * F.lit(alpha) + (prev["l"] + prev["b"]) * F.lit(oma)
            - prev["l"]
        ) * F.lit(beta) + prev["b"] * F.lit(omb)
        return F.when(
            F.size(acc) == 0,
            F.array(F.struct(x["v"].alias("l"), F.lit(0.0).alias("b"))),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(new_l.alias("l"), new_b.alias("b")))
            )
        )

    return step


def holt_linear(
    df: DataFrame,
    value_col: str,
    order_col: str = "date",
    by: Sequence[str] | str = "asset",
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Per-group Holt double exponential smoothing (level + linear
    trend) — the trend-aware sibling of :func:`ewma`:

    ``l_0 = x_0, b_0 = 0``;
    ``l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})``;
    ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}``.

    Same execution contract as ewma: the series per key is bounded by
    the order dimension, so ONE groupBy collects the ordered array and
    a single map-side fold computes both recurrences — no window, no
    per-step shuffle. The multiply-add order is fixed (value term
    first, carry term second; the trend update inlines the new level
    expression), so the series is bit-exact against a recursive-CTE
    replay on any engine. NULL values are excluded before smoothing.

    Output: ``by`` + (order_col, value_col, level, trend) — one row per
    non-null input observation; ``level + trend`` is the one-step-ahead
    forecast.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    arr = _ordered_series(df, by_cols, order_col, value_col)
    ys = F.aggregate(
        F.col("xs"),
        F.array().cast("array<struct<l:double,b:double>>"),
        _holt_step(alpha, beta),
    )
    return _explode_series(
        arr, by_cols, ys, order_col, value_col, {"level": ".l", "trend": ".b"}
    )


def rank_autocorr_profile(
    factor_data: DataFrame, lags: Sequence[int] = (1, 2, 3, 5, 10)
) -> DataFrame:
    """Signal-decay profile: mean rank autocorrelation at several lags in
    one pass — the curve that prices a factor's turnover/half-life
    trade-off (a lag-10 autocorr near lag-1's means a slow signal you
    can trade cheaply; a fast drop-off means the alpha must be captured
    immediately, cf. net_factor_returns).

    Every lag comes out of one :func:`_rank_autocorr_by_date` pass (one
    rank window, one asset-keyed lag window, one (lag, date) corr
    aggregation), then one per-lag mean. A literal lag spine of NULL
    autocorrs rides into that mean, so a lag with no matching date
    still emits its row (n_dates 0).
    Output: (period, mean_autocorr, n_dates).
    """
    spine = factor_data.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(int(p)) for p in lags])).alias("period"),
        F.lit(None).cast("double").alias("autocorr"),
    )
    return (
        _rank_autocorr_by_date(factor_data, lags)
        .select("period", "autocorr")
        .unionByName(spine)
        .groupBy("period")
        .agg(
            F.round(F.avg("autocorr"), 6).alias("mean_autocorr"),
            F.count("autocorr").alias("n_dates"),
        )
    )


def cumulative_returns(
    returns: DataFrame, ret_col: str, keys: Sequence[str] = (),
    starting_value: float = 1.0,
) -> DataFrame:
    """Running compounded level ``starting_value · cumprod(1 + r)`` per key.

    Reference performance.py:333-352 = empyrical cum_returns with
    starting_value=1, i.e. the 1-BASED level — its golden
    (tests/test_performance.py:615-692) maps returns [1,.5,1,.5,.5] to
    [2,3,6,9,13.5]. Spark has no product aggregate → decompose the
    cumprod into magnitude and sign (SURVEY §2.5):

        |Π(1+r)| = exp(Σ log|1+r|)   over the nonzero factors
        sign     = (−1)^#{1+r < 0}
        any 1+r == 0 pins the level (and everything after) to exactly 0

    which reproduces empyrical's plain ``(1+r).cumprod()`` for EVERY real
    r, including r < −1 (negative levels — a −250%% return flips the
    sign, exactly what pandas computes) and r == −1 (hard zero), not just
    the r > −1 domain a bare ``exp(sum(log1p))`` covers. All three pieces
    are expanding-window aggregates fused in one pass; the log of the
    zero factor is guarded by a CASE so no ±inf (or ANSI error) leaks.
    """
    w = Window.partitionBy(*keys).orderBy("date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    factor = F.lit(1.0) + F.col(ret_col)
    # log1p on the positive-factor domain (full float precision near r=0,
    # the common case); plain log|f| only for the exotic f < 0 terms
    log_mag = F.sum(
        F.when(factor > 0, F.log1p(F.col(ret_col)))
        .when(factor < 0, F.log(F.abs(factor)))
        .otherwise(F.lit(0.0))
    ).over(w)
    n_neg = F.sum(F.when(factor < 0, 1).otherwise(0)).over(w)
    any_zero = F.max(F.when(factor == 0, 1).otherwise(0)).over(w)
    cum = F.when(any_zero == 1, F.lit(0.0)).otherwise(
        F.exp(log_mag) * F.when(n_neg % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    ) * F.lit(starting_value)
    return returns.withColumn(f"cum_{ret_col}", cum)


def common_start_returns(
    events: DataFrame,
    prices: DataFrame,
    periods_before: int,
    periods_after: int,
    calendar: DataFrame | None = None,
    mean_by_date: bool = False,
    demean_by: DataFrame | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Per-event return windows aligned to a common offset axis.

    Reference common_start_returns (performance.py:642-727): for each
    (date, asset) event, the cumulative return path over
    ``[-before, +after]`` trading periods. With ``normalize=True`` (the
    default) each path is re-based to the event date (p_t/p_0 − 1) — the
    building block of :func:`average_cumulative_return_by_quantile`.
    ``normalize=False`` reproduces the reference's standalone convention
    exactly: the raw cumulative-series slice (performance.py:713-715
    slices ``returns`` without re-basing; its golden matrix
    tests/test_performance.py:775-870 asserts raw levels). Same
    explode→equi-join plan either way (SURVEY §4.2 — never a nested
    loop join); the raw form skips the offset-0 join entirely. This is
    a join on ``(asset, day_idx + offset)``, not a
    :func:`calendar_.at_offset` lookup, because an event need not sit
    on a price row of its asset (with ``normalize=False`` nothing
    requires one), and a lookup only reads from rows that exist.

    mean_by_date (ref performance.py:722-723): collapse each event date's
    window paths to their cross-asset mean. demean_by (ref
    performance.py:708-720): a (date, asset) universe whose per-(event
    date, offset) mean path is subtracted — the long-short event-study
    adjustment.

    Output: (asset, event_date, offset, cum_ret), or
    (event_date, offset, cum_ret) when mean_by_date.
    """
    from alphalens_spark.calendar_ import with_day_idx

    cal = calendar if calendar is not None else trading_calendar(prices)
    px = with_day_idx(prices, cal)

    def window_paths(ev_df: DataFrame) -> DataFrame:
        ev = with_day_idx(ev_df.select("date", "asset"), cal).select(
            "asset", F.col("date").alias("event_date"), F.col(DAY_IDX).alias("_eidx")
        )
        base = px.select(
            F.col("asset"), F.col(DAY_IDX).alias("_eidx"), F.col("price").alias("_p0")
        )
        at_off = px.select(
            F.col("asset"), F.col(DAY_IDX).alias("_oidx"), F.col("price").alias("_pt")
        )
        if normalize:
            # join the offset-0 price BEFORE exploding: _p0 is offset-
            # independent, so the first join probes |events| rows, not
            # |events|·|offsets|
            ev = ev.join(base, ["asset", "_eidx"])
            val = F.col("_pt") / F.col("_p0") - 1
        else:
            # raw cumulative level at each offset; offsets whose price row
            # is missing (window clamped at the axis boundary) drop out of
            # the inner join, matching the reference's index clamp at
            # performance.py:702-704
            val = F.col("_pt")
        return (
            ev.select(
                "*",
                F.explode(
                    F.sequence(F.lit(-periods_before), F.lit(periods_after))
                ).alias("offset"),
            )
            .withColumn("_oidx", F.col("_eidx") + F.col("offset"))
            .join(at_off, ["asset", "_oidx"])
            .select("asset", "event_date", "offset", val.alias("cum_ret"))
        )

    out = window_paths(events)
    if demean_by is not None:
        univ_mean = (
            window_paths(demean_by)
            .groupBy("event_date", "offset")
            .agg(F.avg("cum_ret").alias("_univ_mean"))
        )
        out = out.join(univ_mean, ["event_date", "offset"]).select(
            "asset", "event_date", "offset",
            (F.col("cum_ret") - F.col("_univ_mean")).alias("cum_ret"),
        )
    if mean_by_date:
        out = out.groupBy("event_date", "offset").agg(
            F.avg("cum_ret").alias("cum_ret")
        )
    return out


def average_cumulative_return_by_quantile(
    factor_data: DataFrame,
    prices: DataFrame,
    periods_before: int = 10,
    periods_after: int = 15,
    demeaned: bool = True,
    calendar: DataFrame | None = None,
    by_date_mean: bool = False,
) -> DataFrame:
    """Event-study: average cumulative return path around factor dates.

    Reference performance.py:642-863 (common_start_returns +
    average_cumulative_return_by_quantile): for every (date, asset) row
    grab the return window [-before, +after] in trading periods, compound,
    then average per (quantile, offset).

    Semantics note (documented delta): the reference snapshot's goldens
    for this operator are internally inconsistent — its
    tests/test_performance.py:872-935 case (1,2,False,4) expects RAW
    slices of the passed cumulative series (performance.py:688-727 with
    cumulative=True never renormalizes), while case (3,0,False,4) of the
    same parameterized test expects event-date-normalized ratios
    (p[o]/p[0] − 1), the semantics of the pre-v0.4 prices-based API. The
    two cannot both pass against one implementation. We implement the
    normalized form (the economically meaningful event-study definition,
    matching case 3) and verify it against the DuckDB oracle
    (event_study_car).

    by_date_mean=True reproduces the reference's two-stage aggregation
    (mean_by_date=True at performance.py:725: average across assets
    within each event date first, then mean/std across event dates);
    default False aggregates over all (event, asset) observations — the
    two agree on the mean when each date has equal universe size, and
    differ on std.

    Spark plan (SURVEY §2.3 event-window row): NO range join and no
    per-offset self-join at all — attach the event quantile to the price
    panel with ONE (date, asset) equi-join, read ``price@(day_idx + o)``
    for every offset with :func:`calendar_.at_offset` over the WHOLE
    panel (before the event filter — filtered first, the frames would
    only see event rows), and explode the (offset, price) structs of the
    event rows. Each input is shuffled once, un-amplified. Offsets whose
    calendar slot is absent for the asset yield NULL cum_ret — every
    downstream aggregate (avg/stddev/count and the demean window) skips
    NULLs, so the result is identical to an inner join's dropped rows.

    demeaned: subtract the per-(date, offset) universe average path
    (reference demean_forward_returns analogue for event windows).

    Output: (factor_quantile, offset, mean_ret, std_ret, count_ret).
    """
    from alphalens_spark.calendar_ import with_day_idx

    cal = calendar if calendar is not None else trading_calendar(prices)
    px = with_day_idx(prices, cal)
    ev = factor_data.select("date", "asset", "factor_quantile")
    paths = F.array(
        *[
            F.struct(F.lit(o).alias("offset"), at_offset("price", o).alias("_pt"))
            for o in range(-periods_before, periods_after + 1)
        ]
    )
    joined = (
        px.join(ev, ["date", "asset"], "left")
        .select("asset", "factor_quantile", "date", "price", paths.alias("_paths"))
        .where(F.col("factor_quantile").isNotNull())
        .select(
            "asset",
            "factor_quantile",
            F.col("date").alias("event_date"),
            F.col("price").alias("_p0"),
            F.inline("_paths"),
        )
        .withColumn("cum_ret", F.col("_pt") / F.col("_p0") - 1)
    )
    if demeaned:
        w = Window.partitionBy("event_date", "offset")
        joined = joined.withColumn("cum_ret", F.col("cum_ret") - F.avg("cum_ret").over(w))
    if by_date_mean:
        per_date = joined.groupBy("factor_quantile", "offset", "event_date").agg(
            F.avg("cum_ret").alias("_date_mean")
        )
        return per_date.groupBy("factor_quantile", "offset").agg(
            F.avg("_date_mean").alias("mean_ret"),
            F.stddev_samp("_date_mean").alias("std_ret"),
            F.count("_date_mean").alias("count_ret"),
        )
    return (
        joined.groupBy("factor_quantile", "offset")
        .agg(
            F.avg("cum_ret").alias("mean_ret"),
            F.stddev_samp("cum_ret").alias("std_ret"),
            F.count("cum_ret").alias("count_ret"),
        )
    )


def positions(
    weights: DataFrame,
    period: int,
    calendar: DataFrame,
    weight_col: str = "weights",
) -> DataFrame:
    """Portfolio holdings over time from per-date trade weights.

    Reference performance.py:355-450 walks timestamps with an imperative
    queue of open trades (each weight held for ``period`` trading
    timestamps, overlapping holdings averaged by 1/period). Spark: the
    stateful loop is an **interval join in disguise** — explode each trade
    into the ``period`` timestamps it is held for (equi-join on day_idx),
    then sum per (timestamp, asset) (SURVEY §2.3 positions row). Fully
    declarative, no sequential dependency.

    Output: (date, asset, position).
    """
    from alphalens_spark.calendar_ import with_day_idx

    w = with_day_idx(weights, calendar)
    held = w.select(
        "asset",
        (F.col(weight_col) / period).alias("_w"),
        F.explode(
            F.sequence(F.col(DAY_IDX), F.col(DAY_IDX) + F.lit(period - 1))
        ).alias(DAY_IDX),
    )
    out = held.groupBy(DAY_IDX, "asset").agg(F.sum("_w").alias("position"))
    return out.join(F.broadcast(calendar), DAY_IDX).select("date", "asset", "position")


def max_drawdown(
    returns: DataFrame,
    return_col: str,
    date_col: str = "date",
    by: list[str] | None = None,
) -> DataFrame:
    """Maximum drawdown of a compounded return series (per ``by`` group):
    the deepest peak-to-trough decline of the cumulative level
    ``prod(1+r)``, with the trough date (earliest, on ties).

    Computed in log space — ``dd_t = exp(loglevel_t − runningmax) − 1``
    keeps every intermediate in (0, 1] regardless of series length, the
    same overflow posture as :func:`cumulative_returns` (levels reach
    1e17 on this data). Contract: returns must be > −1 (a wipeout's
    log1p is undefined; the sub-−1 sign algebra lives only in
    `cumulative_returns`, which tear sheets use for plotting).

    Scale shape: one ordered window per group over the DATE AXIS (the
    bounded dimension every cumulative op here rides), then one groupBy
    for the min — no global row-count-sized window when ``by`` is set.
    Output: (by…, max_drawdown, trough_date).
    """
    keys = list(by) if by else []
    w = (
        Window.partitionBy(*keys).orderBy(date_col)
        if keys
        else Window.orderBy(date_col)
    ).rowsBetween(Window.unboundedPreceding, 0)
    ll = F.sum(F.log1p(F.col(return_col))).over(w)
    # the running peak includes the INITIAL level 1.0 (log 0): a loss in
    # the very first period is already a drawdown from starting capital
    staged = returns.select(
        *keys,
        F.col(date_col),
        ll.alias("_ll"),
        F.greatest(F.max(ll).over(w), F.lit(0.0)).alias("_peak"),
    )
    dd = F.round(F.exp(F.col("_ll") - F.col("_peak")) - 1.0, 6)
    per_date = staged.select(*keys, F.col(date_col), dd.alias("_dd"))
    agg = per_date.groupBy(*keys) if keys else per_date.groupBy()
    return agg.agg(
        F.min("_dd").alias("max_drawdown"),
        F.min_by(
            F.col(date_col), F.struct(F.col("_dd"), F.col(date_col))
        ).alias("trough_date"),
    )


def weight_turnover(
    factor_data: DataFrame,
    demeaned: bool = True,
    equal_weight: bool = False,
) -> DataFrame:
    """Per-date one-way portfolio weight turnover of the factor book:
    ``0.5 · Σ_assets |w_t − w_{t−1}|`` over the union of both dates'
    assets (an asset entering contributes |w_t|, one exiting |w_{t−1}|;
    the first date's turnover is the cost of establishing the book,
    0.5·Σ|w_1| = 0.5 for a gross-1 book).

    Shape: the weights window pass, a broadcast date-index dim, one
    full-outer self-join on (asset, date index + 1), and a per-date
    aggregation. This is a join, not a :func:`calendar_.at_offset`
    lookup, because an asset that exits the book must still emit a row
    on the date after its last weight (|w_{t−1}|), and a lookup only
    yields rows where the asset is present. Output: (date, turnover).
    """
    w = factor_weights(factor_data, demeaned, False, equal_weight)
    didx = trading_calendar(factor_data)
    wts = w.select("date", "asset", "weights").join(F.broadcast(didx), "date")
    cur = wts.select(
        "asset", F.col(DAY_IDX).alias("_i"), F.col("weights").alias("_w")
    )
    prv = wts.select(
        "asset",
        (F.col(DAY_IDX) + 1).alias("_i"),
        F.col("weights").alias("_wp"),
    )
    grid = cur.join(prv, ["asset", "_i"], "full_outer")
    # the last date's weights also shift to index max+1 (a phantom
    # liquidation date) — keep only real dates via the didx dim
    real = didx.select(F.col(DAY_IDX).alias("_i"), "date")
    step = F.abs(
        F.coalesce(F.col("_w"), F.lit(0.0))
        - F.coalesce(F.col("_wp"), F.lit(0.0))
    )
    return (
        grid.join(F.broadcast(real), "_i")
        .groupBy("date")
        .agg((0.5 * F.sum(step)).alias("turnover"))
    )


def net_factor_returns(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    cost_bps: float = 10.0,
    demeaned: bool = True,
    equal_weight: bool = False,
) -> DataFrame:
    """Transaction-cost-adjusted factor returns: the per-date gross
    factor-weighted return minus ``cost_bps`` of two-way trading cost on
    the book's weight turnover — the first-order realism check every
    backtest needs (a high-IC fast-decaying factor can be uncapturable
    once 10 bps of cost hits its daily turnover).

    ``net_<c> = ret_<c> − (cost_bps/10⁴)·2·turnover`` (one-way turnover
    charged on both the buy and the sell side), the same per-date
    turnover charged against every horizon column (the standard
    single-period cost convention; multi-period holding amortization
    belongs to a backtester). Output: (date, turnover, ret_<c>,
    net_<c> per horizon).
    """
    gross = factor_returns(factor_data, period_cols, demeaned, False, equal_weight)
    to = weight_turnover(factor_data, demeaned, equal_weight)
    j = gross.join(to, "date")
    cost = F.lit(cost_bps / 1e4) * 2.0 * F.col("turnover")
    sel = [F.col("date"), F.round("turnover", 6).alias("turnover")]
    for c in period_cols:
        sel.append(F.round(F.col(f"ret_{c}"), 6).alias(f"ret_{c}"))
        sel.append(F.round(F.col(f"ret_{c}") - cost, 6).alias(f"net_{c}"))
    return j.select(*sel)

"""Ingestion operators: forward returns, quantization, cleaning.

Re-expresses the data-prep half of the reference (alphalens/utils.py) on
Spark DataFrames. Input shapes (long format throughout — the reference's
wide frames are pivots it needed for vectorized pandas; Spark windows make
them unnecessary, see SURVEY.md §1.3):

  prices : (date timestamp, asset, price double)        [ref utils.py:707-739, wide]
  factor : (date timestamp, asset, factor double)       [ref utils.py:473-489, MultiIndex]
  groupby: (asset, group)  or  (date, asset, group)     [ref utils.py:741-746]

Output: the canonical ``factor_data`` long DataFrame
  (date, asset, <one double col per period>, factor, group?, factor_quantile)
mirroring ref utils.py:559-589.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from alphalens_spark.calendar_ import DAY_IDX, at_offset, trading_calendar
from alphalens_spark.session import checkpoint


class MaxLossExceededError(Exception):
    """Mirrors reference utils.py:30-31."""


class NonMatchingTimezoneError(Exception):
    """Mirrors reference utils.py:26-27."""


def check_timezones(
    factor: DataFrame, prices: DataFrame, date_col: str = "date"
) -> None:
    """Raise when factor and prices disagree on timestamp awareness.

    The reference compares pandas index ``tz`` attributes
    (utils.py:262-267). Spark's analogue is the TimestampType (session-tz
    aware) vs TimestampNTZType (naive) distinction — a mixed pair would
    silently misalign the (date, asset) join across the tz boundary, the
    exact bug the reference guards against.
    """
    from pyspark.sql import types as T

    def kind(df: DataFrame) -> str | None:
        for f in df.schema.fields:
            if f.name == date_col:
                if isinstance(f.dataType, T.TimestampNTZType):
                    return "ntz"
                if isinstance(f.dataType, T.TimestampType):
                    return "tz"
        return None

    fk, pk = kind(factor), kind(prices)
    if fk is not None and pk is not None and fk != pk:
        raise NonMatchingTimezoneError(
            "The timezone of 'factor' is not the same as the timezone of "
            "'prices'. (factor: %s, prices: %s)" % (fk, pk)
        )


def _format_period_seconds(total_s: float) -> str:
    """Render a horizon length as the reference's Timedelta-string
    components (timedelta_to_string, utils.py:921-951): '1D', '3h',
    '1D21h', '2h30m', '5m', '30s', '500ms', '250us'. Sub-second
    components render exactly as the reference's Timedelta.components
    walk; ns never occurs here because the engine's timestamps are
    µs-precision (ns inputs normalize on load, datasets.normalize_ts)."""
    total_us = int(round(total_s * 1_000_000))
    days, rest = divmod(total_us, 86_400_000_000)
    hours, rest = divmod(rest, 3_600_000_000)
    minutes, rest = divmod(rest, 60_000_000)
    seconds, rest = divmod(rest, 1_000_000)
    millis, micros = divmod(rest, 1_000)
    out = ""
    if days:
        out += f"{days}D"
    if hours:
        out += f"{hours}h"
    if minutes:
        out += f"{minutes}m"
    if seconds:
        out += f"{seconds}s"
    if millis:
        out += f"{millis}ms"
    if micros:
        out += f"{micros}us"
    return out or "0s"


def infer_period_labels(
    calendar: DataFrame,
    periods: Sequence[int],
    date_col: str = "date",
    anchors: DataFrame | None = None,
) -> dict[int, str]:
    """Wall-clock horizon labels, the reference's algorithm exactly
    (utils.py:301-321): for each period p, walk the first ≤30 anchor
    timestamps (the factor dates — NOT every calendar bar), measure the
    wall-clock span to the bar p positions later, replace its day
    component with the calendar-aware trading-day count
    (diff_custom_calendar_timedeltas, utils.py:994-1039: busday-style —
    weekends/holidays between the endpoints don't count), then snap the
    final span's day component to the mode across anchors. On a
    3-bar intraday day (09:30/10:30/12:30) this labels p=2 as '3h'
    (09:30→12:30), where a naive modal-step×p would say '2h'.

    Driver-side on the (tiny) calendar dim plus ≤30 anchor rows — two
    bounded collects, never a scan of the data. Opt-in: the engine's
    default labels count trading periods ('1D' = next trading timestamp)
    which is what every oracle uses; wall-clock labels matter for
    intraday parity with the reference's column names.
    """
    ts = [r[0] for r in calendar.select(date_col).orderBy(date_col).collect()]
    pos = {t: i for i, t in enumerate(ts)}
    dord = {d: i for i, d in enumerate(sorted({t.date() for t in ts}))}
    if anchors is None:
        anchor_ts = ts[:30]
    else:
        anchor_ts = sorted(
            r[0]
            for r in anchors.select(date_col)
            .distinct()
            .orderBy(date_col)
            .limit(30)
            .collect()
        )

    def fallback_step() -> int:
        steps = [int((b - a).total_seconds()) for a, b in zip(ts, ts[1:])]
        if not steps:
            return 86400
        return sorted(set(steps), key=lambda v: (-steps.count(v), v))[0]

    out: dict[int, str] = {}
    for p in periods:
        days_diffs: list[int] = []
        last_adj: float | None = None
        for a in anchor_ts:
            i = pos.get(a)
            if i is None or i + p >= len(ts):
                continue
            e = ts[i + p]
            wall = (e - a).total_seconds()
            days_comp = int(wall // 86400)
            trading_days = dord[e.date()] - dord[a.date()]
            adj = wall - (days_comp - trading_days) * 86400.0
            days_diffs.append(int(adj // 86400))
            last_adj = adj
        if last_adj is None:
            # horizon beyond the calendar for every anchor — the reference
            # would die on an unbound local; label by modal step × p instead
            out[p] = _format_period_seconds(p * fallback_step())
            continue
        mode_days = sorted(set(days_diffs), key=lambda v: (-days_diffs.count(v), v))[0]
        final = last_adj - (int(last_adj // 86400) - mode_days) * 86400.0
        out[p] = _format_period_seconds(final)
    return out


def period_label(k: int, freq: str = "D") -> str:
    """'1D'-style horizon column label (ref utils.py:921-951 timedelta_to_string).

    We label by trading-period count on the observed calendar; the
    reference infers wall-clock labels by taking the mode of timestamp
    diffs (utils.py:301-321) — same labels for regular calendars.
    """
    return f"{k}{freq}"


def compute_forward_returns(
    prices: DataFrame,
    periods: Sequence[int] = (1, 5, 10),
    cumulative_returns: bool = True,
    calendar: DataFrame | None = None,
    label_freq: str = "D",
    date_col: str = "date",
    asset_col: str = "asset",
    price_col: str = "price",
    carry_cols: Sequence[str] = (),
    labels: dict[int, str] | None = None,
) -> DataFrame:
    """k-period forward returns, row-positional on the price calendar.

    carry_cols: extra columns of ``prices`` to carry through to the output
    (e.g. a factor observed on the same panel row). When factor and price
    come from one source, carrying fuses the whole ingestion into a single
    scan + one window shuffle and removes the later (date, asset)
    factor⋈returns join entirely.

    Reference semantics (utils.py:286-293): on the WIDE price frame,
    ``prices.pct_change(k).shift(-k)`` = ``p[t+k]/p[t] - 1`` where t+k is
    the k-th next timestamp of the GLOBAL price date axis (missing asset
    observations stay NaN — they are NOT skipped). Non-cumulative mode
    (utils.py:290-293): ``p[t+k]/p[t+k-1] - 1``.

    Spark plan: attach ``day_idx`` via the broadcast calendar dim, then
    read ``price@(day_idx+k)`` with :func:`calendar_.at_offset` (a RANGE
    frame ``[k, k]`` over the asset's present rows; an absent calendar
    slot ⇒ NULL, exactly the wide frame's NaN). ONE hash exchange on
    ``asset`` covers every horizon — no dense (asset × calendar) grid is
    ever materialized (the reference's wide frame IS that grid; at scale
    a sparse universe would make the grid far larger than the data) and
    no (date, asset) sort-merge join runs. Verified single-Exchange in
    tests/test_plans.py.

    Returns (date, asset, <label per period>) with rows only where the
    base price exists (the reference reindexes back to factor dates later;
    we keep the full price-date coverage and let the factor join prune).
    """
    cal = calendar if calendar is not None else trading_calendar(prices, date_col)
    px = prices.select(
        F.col(date_col),
        F.col(asset_col).alias("asset"),
        F.col(price_col).alias("price"),
        *[F.col(c) for c in carry_cols],
    ).join(F.broadcast(cal.withColumnRenamed("date", date_col)), date_col)
    cols = [F.col(date_col).alias("date"), F.col("asset")]
    cols += [F.col(c) for c in carry_cols]
    for k in sorted(periods):
        if cumulative_returns or k == 1:
            base = F.col("price")
        else:
            base = at_offset("price", k - 1)
        label = labels[k] if labels else period_label(k, label_freq)
        cols.append((at_offset("price", k) / base - F.lit(1.0)).alias(label))
    return px.where(F.col("price").isNotNull()).select(*cols)


def filter_returns_zscore(
    fwd: DataFrame,
    period_cols: Sequence[str],
    zscore: float = 20.0,
    asset_col: str = "asset",
) -> DataFrame:
    """Null-out per-asset outlier returns beyond ``zscore`` standard devs.

    Reference utils.py:295-299: per asset over the FULL history (mean/std
    of the whole column of the wide frame — docstring itself flags the
    lookahead bias). Spark: unbounded window per asset, conditional null.
    """
    w = Window.partitionBy(asset_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = fwd
    for c in period_cols:
        mask = F.abs(F.col(c) - F.avg(c).over(w)) > F.lit(zscore) * F.stddev_samp(c).over(w)
        out = out.withColumn(c, F.when(mask, F.lit(None)).otherwise(F.col(c)))
    return out


def _pandas_quantile_edges(
    df: DataFrame,
    part_cols: Sequence[str],
    fracs: Sequence[float],
    value_col: str,
    out_col: str = "_edges",
) -> DataFrame:
    """Per-partition quantile edges with numpy/pandas bit-parity.

    pandas qcut edges go Series.quantile → np.percentile(values, qs*100)
    (pandas/core/array_algos/quantile.py quantile_with_mask scales ×100,
    np.percentile divides back by 100 — a float round-trip that CHANGES
    the fraction: 2/3 → 0.6666666666666665). numpy's 'linear' method then
    uses virtual index ``(n−1)·q`` and a lerp that switches direction at
    t ≥ 0.5 (``hi − (hi−lo)·(1−t)``, numpy _lerp). Spark's builtin
    ``percentile`` takes none of these paths, so edge-exact values can
    flip bins vs pandas (observed: pandas e=0.9999999999999998 vs Spark
    1.0 on the same data). This reproduces the pandas arithmetic exactly:
    the ×100/÷100 round-trip driver-side, the index/lerp per partition on
    a sorted ``collect_list`` (cross-sections are bounded by the asset
    universe — the same frame the reference materializes). Java doubles
    are IEEE-754, so executor-side ops bit-match numpy's.

    Returns one row per partition: part_cols + ``out_col`` (edge array,
    NULL for a partition with no non-NULL value).
    """
    vals = F.sort_array(F.collect_list(F.col(value_col)))
    agg = df.groupBy(*part_cols).agg(
        vals.alias("_vals"), F.count(value_col).cast("int").alias("_n")
    )
    n1 = (F.col("_n") - 1).cast("double")
    edges = []
    for p in fracs:
        p = (float(p) * 100.0) / 100.0  # pandas percentile-scaling round-trip
        pos = F.lit(p) * n1
        lo_i = F.floor(pos).cast("int")
        t = pos - F.floor(pos)
        lo = F.element_at("_vals", lo_i + 1)
        hi = F.element_at("_vals", F.least(lo_i + 2, F.col("_n")))
        d = hi - lo
        edges.append(F.when(t < 0.5, lo + d * t).otherwise(hi - d * (F.lit(1.0) - t)))
    # an all-NULL partition has no values to index: NULL edges, so its
    # rows get NULL labels
    return agg.select(*part_cols, F.when(F.col("_n") > 0, F.array(*edges)).alias(out_col))


def _edge_based_labels(value: Column, edges: Column, n_bins: int) -> Column:
    """Label 1..n assigned by comparing value to interpolated bin edges.

    qcut/cut semantics: bins are right-closed, (e[j-1], e[j]], with the
    first bin including its left edge. label = 1 + #{ j in 1..n-1 : x > e[j] }.
    """
    lab = F.lit(1)
    for j in range(1, n_bins):
        lab = lab + F.when(value > edges[j], 1).otherwise(0)
    return F.when(value.isNotNull(), lab.cast("int"))


# Guidance shown with the reference's eager duplicate-edge error
# (non_unique_bin_edges_error, ref utils.py:49-81): same advice, our words.
_QCUT_DUP_HELP = """

    Too many identical factor values span more than one quantile:
    equal-frequency buckets cannot split a tied value across buckets.
    Workarounds:
    1 - use fewer quantiles
    2 - pass an explicit uneven fraction sequence, e.g. [0, .5, .75, 1.]
    3 - use bins= (equal-width over the value range) instead of quantiles=
    4 - for discrete factors pass explicit bin edges, one range per value
    (no_raise=True instead drops the offending cross-sections, the
    reference's NaN mode.)
"""


def quantize_factor(
    factor_data: DataFrame,
    quantiles: int | Sequence[float] | None = 5,
    bins: int | Sequence[float] | None = None,
    by_group: bool = False,
    zero_aware: bool = False,
    no_raise: bool = False,
    date_col: str = "date",
    group_col: str = "group",
    factor_col: str = "factor",
    out_col: str = "factor_quantile",
    method: str = "edges",
    tiebreak_col: str = "asset",
    tiebreak_dp: int = 6,
) -> DataFrame:
    """Per-date (and optionally per-group) factor bucketing, labels 1..Q.

    Three methods:
      'edges' (default)  pandas qcut/cut parity: per-partition quantile
                         edges with numpy-identical interpolation
                         arithmetic (see _pandas_quantile_edges), then
                         right-closed edge comparison. Bit-matches
                         pd.qcut on tie-free data (property-tested).
      'edges_sql'        same shape but Spark's builtin exact
                         ``percentile`` windows — matches SQL engines'
                         quantile_cont (used by the DuckDB-oracle
                         queries); can differ from pandas by 1 ulp at
                         edge-exact values.
      'ntile'            scale/cross-engine path: ``ntile(Q) over
                         (order by round(factor, dp), tiebreak)`` — pure
                         integer bucketing over a deterministic total
                         order, reproducible at any parallelism.

    Mirrors reference quantize_factor (utils.py:84-170), four modes:
      quantiles=int       equal-frequency buckets (pd.qcut)
      quantiles=sequence  explicit quantile fractions (utils.py:104-107)
      bins=int            equal-width over per-partition min/max (pd.cut)
      bins=sequence       explicit literal edges (utils.py:110-113)
    zero_aware (utils.py:143-156): bucket positives into the top half and
    negatives into the bottom half, each with its own quantile grid.
    by_group (utils.py:162-167): adds ``group`` to the partition key.

    Always exact percentiles (never approx — qcut parity, SURVEY §4.3);
    per-date partitions are cross-sections (≤ #assets rows), so the edge
    aggregation is cheap and the operator costs one shuffle on the
    partition keys (+ a same-key broadcast-able edge join for 'edges').

    Ties that collapse edges — pd.qcut parity (method='edges', all
    quantile modes): pandas raises ``ValueError('Bin edges must be
    unique')`` eagerly (utils.py:49-81); ``no_raise=True`` instead NaNs
    the WHOLE offending cross-section (utils.py:157-160 returns an
    all-NaN series for the partition, dropped by the final ``.dropna()``)
    — here those rows get a NULL label, lazily (no action), for
    downstream ``isNotNull`` filters to drop. The eager default costs one
    bounded Spark job (``limit(1)`` over the per-partition edge arrays).
    'edges_sql' keeps SQL-engine semantics instead (quantile_cont edges,
    collapsed edges → shared labels — its cross-engine contract); 'ntile'
    and the bins modes never collapse (pd.cut pads its range).
    """
    if (quantiles is not None) == (bins is not None):
        raise ValueError("exactly one of quantiles or bins must be provided")

    keys = [date_col] + ([group_col] if by_group else [])
    value = F.col(factor_col)

    if method == "ntile":
        if not isinstance(quantiles, int) or zero_aware:
            raise ValueError("method='ntile' supports plain integer quantiles")
        w = Window.partitionBy(*keys).orderBy(
            F.round(value, tiebreak_dp), F.col(tiebreak_col)
        )
        label = F.when(value.isNotNull(), F.ntile(quantiles).over(w))
        return factor_data.withColumn(out_col, label.cast("int"))

    def with_edges(df: DataFrame, part_cols: list[str], fracs: Sequence[float]) -> DataFrame:
        """Attach an ``_edges`` array column per ``part_cols`` partition."""
        if method == "edges_sql":
            w = Window.partitionBy(*part_cols)
            arr = F.percentile(value, F.array(*[F.lit(float(x)) for x in fracs])).over(w)
            return df.withColumn("_edges", arr)
        edges_df = _pandas_quantile_edges(df, part_cols, fracs, factor_col)
        return df.join(edges_df, part_cols)

    edges = F.col("_edges")
    _has_dup = F.size(F.array_distinct("_edges")) < F.size("_edges")

    def dup_policy(
        df: DataFrame, label: Column, whole_part: Sequence[str] | None = None
    ) -> Column:
        """pd.qcut duplicate-edge semantics over the attached ``_edges``.

        whole_part (zero_aware): the reference's per-partition try/except
        wraps BOTH sign-subsets' qcuts, so a collapse in either sign NaNs
        the entire (date[, group]) cross-section — propagate the flag over
        the sign-free partition key.

        Pandas-parity path only: 'edges_sql' deliberately keeps the SQL
        quantile_cont contract (shared labels on collapse).
        """
        if method != "edges":
            return label
        flag = _has_dup
        if whole_part is not None:
            flag = F.max(flag.cast("int")).over(Window.partitionBy(*whole_part)) > 0
        if no_raise:
            return F.when(~flag, label)
        if df.select(flag.alias("_dup")).where("_dup").limit(1).count():
            raise ValueError("Bin edges must be unique." + _QCUT_DUP_HELP)
        return label

    if zero_aware:
        if not isinstance(quantiles, int) and not isinstance(bins, int):
            raise ValueError("zero_aware requires integer quantiles or bins")
        n = quantiles if quantiles is not None else bins
        if n % 2:
            raise ValueError("zero_aware requires an even number of buckets")
        half = n // 2
        df = factor_data.withColumn("_sign", F.when(value >= 0, 1).otherwise(0))
        part = keys + ["_sign"]
        if quantiles is not None:
            fracs = _linspace_fracs(half)
            df = with_edges(df, part, fracs)
            lab = _edge_based_labels(value, edges, half)
            label = F.when(value >= 0, lab + half).otherwise(lab)
            label = dup_policy(df, label, whole_part=keys)
        else:
            w = Window.partitionBy(*part)
            cut = _pandas_cut_labels if method == "edges" else _equal_width_labels
            lab = cut(value, F.min(value).over(w), F.max(value).over(w), half)
            label = F.when(value >= 0, lab + half).otherwise(lab)
        return df.withColumn(out_col, label.cast("int")).drop("_sign", "_edges")

    if isinstance(quantiles, int):
        fracs = _linspace_fracs(quantiles)
        df = with_edges(factor_data, keys, fracs)
        label = dup_policy(df, _edge_based_labels(value, edges, quantiles))
        return df.withColumn(out_col, label.cast("int")).drop("_edges")
    if quantiles is not None:  # explicit fraction sequence
        fracs = list(quantiles)
        n = len(fracs) - 1
        df = with_edges(factor_data, keys, fracs)
        inside = (value >= edges[0]) & (value <= edges[n])
        label = dup_policy(df, F.when(inside, _edge_based_labels(value, edges, n)))
        return df.withColumn(out_col, label.cast("int")).drop("_edges")
    if isinstance(bins, int):
        w = Window.partitionBy(*keys)
        cut = _pandas_cut_labels if method == "edges" else _equal_width_labels
        label = cut(value, F.min(value).over(w), F.max(value).over(w), bins)
    else:  # explicit edge sequence — out-of-range → null (ref tests test_utils.py:166-167)
        edges_l = [float(x) for x in bins]
        n = len(edges_l) - 1
        lab = F.lit(1)
        for j in range(1, n):
            lab = lab + F.when(value > F.lit(edges_l[j]), 1).otherwise(0)
        inside = (value > F.lit(edges_l[0])) & (value <= F.lit(edges_l[n]))
        label = F.when(inside, lab.cast("int"))
    return factor_data.withColumn(out_col, label.cast("int"))


def _linspace_fracs(q: int) -> list[float]:
    """qcut's quantile grid: np.linspace(0, 1, q+1) = i·(1/q), NOT i/q.

    The two differ by 1 ulp for some (i, q) pairs; qcut parity needs the
    linspace arithmetic (numpy computes arange(num)·step + start).
    """
    step = 1.0 / q
    out = [i * step for i in range(q + 1)]
    out[-1] = 1.0
    return out


def _pandas_cut_labels(value: Column, vmin: Column, vmax: Column, b: int) -> Column:
    """pd.cut(x, b) bit-parity: numpy-linspace edges, right-closed.

    pandas cut builds ``np.linspace(mn, mx, b+1)`` (edge_j = j·((mx−mn)/b)
    + mn in IEEE doubles), lowers the first edge by 0.1 % of the range,
    and labels by ``searchsorted(edges, x, side='left')`` — i.e. label =
    1 + #{inner edges < x}. A ceil((x−mn)/width·b) formula is NOT
    equivalent under FP rounding (a denormal positive above an exact-zero
    edge flips bins), so parity requires the same edge comparison.
    All x lie in [mn, mx], so the padded first edge never excludes a row.
    """
    delta = (vmax - vmin) / F.lit(float(b))
    lab = F.lit(1)
    for j in range(1, b):
        edge = F.lit(float(j)) * delta + vmin
        lab = lab + F.when(edge < value, 1).otherwise(0)
    return F.when(value.isNull() | vmin.isNull(), F.lit(None)).otherwise(lab)


def _equal_width_labels(value: Column, vmin: Column, vmax: Column, b: int) -> Column:
    """pd.cut(x, b) parity: b equal-width right-closed bins over [min, max].

    pandas pads the range by 0.1% on the left so the minimum lands in bin 1
    (ref utils.py:150 uses pd.cut defaults). With right-closed bins,
    label = b - floor((max - x) / width * b) computed symmetrically:
    we use ceil on the left-distance, clamping x==min into bin 1.
    """
    width = vmax - vmin
    raw = F.ceil((value - vmin) / width * b)
    lab = F.when(value.isNull() | width.isNull(), F.lit(None)).otherwise(
        F.greatest(F.least(raw, F.lit(b)), F.lit(1))
    )
    # degenerate all-equal partition: width == 0 → single bin 1 (pandas cut
    # errors here; we bucket to 1, deterministic and join-safe)
    lab = F.when(width == 0, F.lit(1)).otherwise(lab)
    return F.when(value.isNotNull(), lab.cast("int"))


def demean_forward_returns(
    factor_data: DataFrame,
    period_cols: Sequence[str],
    grouper: Sequence[str] = ("date",),
) -> DataFrame:
    """Cross-sectional demean of each returns column (ref utils.py:379-416).

    ``x - avg(x) over (partition by date [, group])`` — one window, no
    aggregation round-trip.
    """
    w = Window.partitionBy(*grouper)
    out = factor_data
    for c in period_cols:
        out = out.withColumn(c, F.col(c) - F.avg(c).over(w))
    return out


def get_clean_factor(
    factor: DataFrame,
    forward_returns: DataFrame,
    period_cols: Sequence[str],
    groupby: DataFrame | None = None,
    binning_by_group: bool = False,
    quantiles: int | Sequence[float] | None = 5,
    bins: int | Sequence[float] | None = None,
    max_loss: float | None = 0.35,
    zero_aware: bool = False,
    quantize_method: str = "edges",
    groupby_labels: dict | None = None,
) -> DataFrame:
    """Join factor onto forward returns, attach groups, quantize, clean.

    Mirrors reference get_clean_factor (utils.py:453-663):
      1. finite-factor filter (utils.py:595)
      2. inner join factor ⋈ forward_returns on (date, asset)
         (the reference's index alignment + dropna, utils.py:597-627)
      3. group attach: static (asset→group) via broadcast hash join,
         time-varying via (date, asset) equi-join (utils.py:600-612)
      4. quantize (utils.py:632-639) and drop unlabeled rows. The
         reference sets ``no_raise = (max_loss != 0)`` (utils.py:631):
         by default tied cross-sections whose qcut edges collapse are
         silently dropped (counted as binning loss); ``max_loss=0``
         surfaces the suppressed ValueError instead. Same here.
      5. loss accounting: the finite factor, the joined frame and the
         quantized frame are each materialized once through
         :func:`~alphalens_spark.session.checkpoint`, with their row
         count observed on that same job (``initial``, ``after_fwd``,
         ``final``). From those counts the dropped-rows report is printed
         either way (utils.py:651-654), then MaxLossExceededError beyond
         ``max_loss`` or the "not exceeded: OK" line (utils.py:655-661);
         the returned frame is already materialized. Pass max_loss=None
         to keep the pipeline fully lazy (no job until the caller acts —
         implies the no_raise drop mode, since the eager tie check is
         itself a job).
    """
    account = max_loss is not None

    def observed(df: DataFrame) -> tuple[DataFrame, int]:
        # the count is observed at the top of the checkpointed frame:
        # under a join it can be pruned (an empty side) or run twice
        # (quantize's edge self-join)
        obs = Observation()
        df = checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return df, obs.get["n"]

    fac = factor.where(
        F.col("factor").isNotNull() & ~F.isnan("factor") & ~F.col("factor").isin(
            float("inf"), float("-inf")
        )
    )
    if account:
        fac, initial = observed(fac)

    merged = forward_returns.join(fac, on=["date", "asset"], how="inner")

    if groupby is not None:
        if "date" in groupby.columns:
            merged = merged.join(groupby, on=["date", "asset"], how="inner")
        else:
            merged = merged.join(F.broadcast(groupby), on="asset", how="inner")
        if groupby_labels is not None:
            # ref utils.py:614-623: remap group codes to display names; a
            # code missing from the map raises (the reference's KeyError)
            mapping = F.create_map(
                *[F.lit(x) for kv in groupby_labels.items() for x in kv]
            )
            known = F.col("group").isin(list(groupby_labels))
            merged = merged.withColumn(
                "group",
                F.when(known, mapping[F.col("group")]).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("group code "),
                            F.col("group").cast("string"),
                            F.lit(" not in groupby_labels"),
                        )
                    )
                ),
            )

    merged = merged.na.drop(subset=list(period_cols))
    if account:
        merged, after_fwd = observed(merged)

    quantized = quantize_factor(
        merged,
        quantiles=quantiles,
        bins=bins,
        by_group=binning_by_group,
        zero_aware=zero_aware,
        no_raise=not (account and max_loss == 0),
        method=quantize_method,
    ).where(F.col("factor_quantile").isNotNull())
    if not account:
        return quantized
    quantized, final = observed(quantized)
    fwd_loss = 1.0 - after_fwd / initial if initial else 0.0
    bin_loss = (after_fwd - final) / initial if initial else 0.0
    total = fwd_loss + bin_loss
    print(
        "Dropped %.1f%% entries from factor data: %.1f%% in forward "
        "returns computation and %.1f%% in binning phase "
        "(set max_loss=0 to see potentially suppressed Exceptions)."
        % (total * 100, fwd_loss * 100, bin_loss * 100)
    )
    if total > max_loss:
        raise MaxLossExceededError(
            f"max_loss ({max_loss:.1%}) exceeded {total:.1%}, consider increasing it."
        )
    print("max_loss is %.1f%%, not exceeded: OK!" % (max_loss * 100))
    return quantized


def get_clean_factor_and_forward_returns(
    factor: DataFrame,
    prices: DataFrame,
    groupby: DataFrame | None = None,
    binning_by_group: bool = False,
    quantiles: int | Sequence[float] | None = 5,
    bins: int | Sequence[float] | None = None,
    periods: Sequence[int] = (1, 5, 10),
    filter_zscore: float | None = 20.0,
    max_loss: float | None = 0.35,
    zero_aware: bool = False,
    cumulative_returns: bool = True,
    quantize_method: str = "edges",
    label_freq: str = "D",
    groupby_labels: dict | None = None,
) -> DataFrame:
    """The reference's single ingestion entry point (utils.py:666-841).

    One lazy logical plan: forward returns (``at_offset`` frames on the
    broadcast calendar's day_idx) → optional z-filter → inner join with
    factor → group attach → quantize. Cache the result — every downstream metric
    in :mod:`alphalens_spark.performance` consumes it (SURVEY §3.1). With
    ``max_loss`` set, the loss report reads its counts off the checkpoints
    that build the result, so the frame returned is already materialized;
    ``max_loss=None`` returns the plan unexecuted.

    ``label_freq="infer"`` reproduces the reference's wall-clock column
    labels (utils.py:301-321): '1h'/'3h'/'1D' on intraday calendars, from
    the modal timestamp step of the calendar dim.
    """
    check_timezones(factor, prices)
    cal = trading_calendar(prices)
    if label_freq == "infer":
        labels = infer_period_labels(cal, periods, anchors=factor)
        period_cols = [labels[k] for k in sorted(periods)]
        fwd = compute_forward_returns(
            prices, periods, cumulative_returns, calendar=cal, labels=labels
        )
    else:
        period_cols = [period_label(k, label_freq) for k in sorted(periods)]
        fwd = compute_forward_returns(
            prices, periods, cumulative_returns, calendar=cal, label_freq=label_freq
        )
    if filter_zscore is not None:
        fwd = filter_returns_zscore(fwd, period_cols, filter_zscore)
    return get_clean_factor(
        factor,
        fwd,
        period_cols,
        groupby=groupby,
        binning_by_group=binning_by_group,
        quantiles=quantiles,
        bins=bins,
        max_loss=max_loss,
        zero_aware=zero_aware,
        quantize_method=quantize_method,
        groupby_labels=groupby_labels,
    )


def rate_of_return(df: DataFrame, period_cols: Sequence[str], base_period: int = 1) -> DataFrame:
    """Convert multi-period returns to one-period rates:
    ``(1 + r)^(base/k) − 1`` (ref utils.py:844-871, applied tears.py:93-95).
    """
    out_cols = []
    for f in df.schema.fields:
        if f.name in period_cols:
            (k,) = timedelta_strings_to_integers([f.name])
            conv = F.pow(F.lit(1.0) + F.col(f.name), F.lit(base_period / k)) - F.lit(1.0)
            out_cols.append(conv.alias(f.name))
        else:
            out_cols.append(F.col(f.name))
    return df.select(*out_cols)


def std_conversion(df: DataFrame, period_cols: Sequence[str], base_period: int = 1) -> DataFrame:
    """Scale multi-period standard errors to one-period:
    ``std / sqrt(k / base)`` (ref utils.py:874-895, applied tears.py:105-113).
    """
    out_cols = []
    for f in df.schema.fields:
        if f.name in period_cols:
            (k,) = timedelta_strings_to_integers([f.name])
            out_cols.append((F.col(f.name) / F.sqrt(F.lit(k / base_period))).alias(f.name))
        else:
            out_cols.append(F.col(f.name))
    return df.select(*out_cols)


def backshift_returns_series(
    returns: DataFrame, n: int, calendar: DataFrame, ret_cols: Sequence[str]
) -> DataFrame:
    """Shift a (date, asset)-keyed frame back N trading dates
    (ref utils.py:346-376): equi-join on ``day_idx + N`` over the calendar
    dim — the day_idx form of the reference's positional reindex."""
    from alphalens_spark.calendar_ import with_day_idx

    r = with_day_idx(returns, calendar)
    shifted = r.select(
        "asset",
        (F.col(DAY_IDX) + n).alias(DAY_IDX),
        *[F.col(c).alias(f"{c}_shifted") for c in ret_cols],
    )
    cal = calendar.select("date", DAY_IDX)
    return (
        shifted.join(F.broadcast(cal), DAY_IDX)
        .select("date", "asset", *[f"{c}_shifted" for c in ret_cols])
    )


def get_forward_returns_columns(columns: Sequence[str]) -> list[str]:
    """Regex discovery of horizon columns (ref utils.py:898-918)."""
    import re

    pat = re.compile(r"^(\d+([Dhms]|ms|us|ns))+$")
    return [c for c in columns if pat.match(c)]


def timedelta_strings_to_integers(labels: Sequence[str]) -> list[int]:
    """'1D'/'5D'-style labels → trading-period integers
    (ref utils.py:954-968). A label must hold exactly one number: a
    multi-component label such as '1D21h' or '2h30m' (see
    :func:`infer_period_labels`) has no single period count, so it
    raises ``ValueError`` naming the label instead of reading as 121."""
    import re

    out = []
    for s in labels:
        nums = re.findall(r"\d+", s)
        if len(nums) != 1:
            raise ValueError(
                f"period label {s!r} does not hold exactly one number"
            )
        out.append(int(nums[0]))
    return out


def print_table(table, name: str | None = None, fmt: str | None = None,
                n: int = 20) -> None:
    """Render a (small) result table — the reference's display sink
    (utils.py:419-451), full contract: ``name`` labels the upper-left
    corner (columns.name), ``fmt`` scopes pandas' display.float_format
    for the call and restores the prior setting, HTML ``display`` inside
    IPython/Jupyter with plain-text fallback elsewhere. Accepts a Spark
    DataFrame (collects at most ``n`` rows — use only on aggregate
    outputs), a pandas DataFrame, or a Series."""
    import pandas as pd

    if isinstance(table, DataFrame):
        table = table.limit(n).toPandas()
    if isinstance(table, pd.Series):
        table = pd.DataFrame(table)
    if isinstance(table, pd.DataFrame):
        table.columns.name = name

    prev = pd.get_option("display.float_format")
    if fmt is not None:
        pd.set_option("display.float_format", lambda x: fmt.format(x))
    try:
        try:
            from IPython.display import display

            display(table)
        except Exception:
            print(table.to_string())
    finally:
        if fmt is not None:
            pd.set_option("display.float_format", prev)


def detect_non_unique_bin_edges(
    factor_data: DataFrame,
    quantiles: int,
    by_group: bool = False,
    date_col: str = "date",
    group_col: str = "group",
    factor_col: str = "factor",
) -> DataFrame:
    """Partitions whose qcut edges would collapse (duplicate percentile
    edges from heavy ties) — the condition behind the reference's
    'Bin edges must be unique' ValueError and its long help message
    (utils.py:49-81 rethrow/non_unique_bin_edges_error). Returns the
    offending (date[, group]) keys; callers wanting the reference's
    eager-raise behavior count this and raise. The edges are the ones
    ``quantize_factor`` (method='edges') bins with, so a key is returned
    exactly when ``quantize_factor(no_raise=True)`` NULLs its rows."""
    keys = [date_col] + ([group_col] if by_group else [])
    edges = _pandas_quantile_edges(
        factor_data, keys, _linspace_fracs(quantiles), factor_col
    )
    has_dup = F.size(F.array_distinct("_edges")) < F.size("_edges")
    return edges.where(has_dup).select(*keys)

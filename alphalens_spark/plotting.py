"""Plotting layer: the reference's ``plot_*`` API, compute-first.

Mirrors alphalens/plotting.py (933 LoC). Every reference plot function is
a *compute + render* pair; here the compute half runs Spark-side (window
frames for rolling stats, groupBy for pivots) and collects the tiny
plot-ready table to pandas — the render half draws only when matplotlib
is importable (it is NOT in this container), otherwise each function
returns the exact pandas frame the reference would have drawn. This keeps
the full public surface (SURVEY §2: "plotting functions included where
they compute, not just draw") without a hard matplotlib dependency.

Input convention: Spark DataFrames with the schemas produced by
:mod:`alphalens_spark.performance` / :mod:`alphalens_spark.tears`;
returns pandas (the reference's axes-sized data).
"""

from __future__ import annotations

import importlib.util
from collections.abc import Sequence
from contextlib import contextmanager
from statistics import NormalDist

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark import performance as perf

DECIMAL_TO_BPS = 10000  # ref plotting.py:31

_HAS_MPL = importlib.util.find_spec("matplotlib") is not None


# ---------------------------------------------------------------------------
# context helpers (ref plotting.py customize/plotting_context/axes_style) —
# no-ops without matplotlib so downstream code runs unchanged
# ---------------------------------------------------------------------------


@contextmanager
def plotting_context(context: str = "notebook", font_scale: float = 1.5, rc=None):
    """ref plotting.py plotting_context — seaborn/mpl rc scope, or no-op."""
    if _HAS_MPL:
        import matplotlib.pyplot as plt

        rc = dict(rc or {})
        with plt.rc_context(rc):
            yield
    else:
        yield


@contextmanager
def axes_style(style: str = "darkgrid", rc=None):
    """ref plotting.py axes_style — style scope, or no-op."""
    yield


def customize(func):
    """ref plotting.py customize decorator — wrap in plotting_context."""

    def wrapper(*args, **kwargs):
        with plotting_context(), axes_style():
            return func(*args, **kwargs)

    wrapper.__name__ = func.__name__
    wrapper.__doc__ = func.__doc__
    return wrapper


def _maybe_line_plot(pdf: pd.DataFrame, title: str, ax=None) -> None:
    if _HAS_MPL and ax is not None:
        pdf.plot(ax=ax, title=title)


# ---------------------------------------------------------------------------
# summary tables (ref plotting.py:134-189) — these four ARE metrics
# ---------------------------------------------------------------------------


def plot_returns_table(
    alpha_beta: DataFrame,
    mean_ret_quantile: DataFrame,
    mean_ret_spread_quantile: DataFrame,
    period_cols: Sequence[str] | None = None,
    show: bool = False,
) -> pd.DataFrame:
    """Returns summary in bps (ref plotting.py:134-147): annualized alpha,
    beta, top/bottom quantile mean returns, mean spread. ``show=True``
    additionally displays through utils.print_table (the reference
    prints; we return — opt into both)."""
    ab = alpha_beta.toPandas()
    cols = period_cols or [c.split("_", 1)[1] for c in ab.columns if c.startswith("beta_")]
    mq = mean_ret_quantile.toPandas().set_index("factor_quantile").sort_index()
    sp = mean_ret_spread_quantile.toPandas()
    rows = {}
    for c in cols:
        rows[c] = {
            "Ann. alpha": ab[f"alpha_{c}"].iloc[0] if f"alpha_{c}" in ab else None,
            "beta": ab[f"beta_{c}"].iloc[0] if f"beta_{c}" in ab else None,
            "Mean Period Wise Return Top Quantile (bps)":
                mq[f"mean_{c}"].iloc[-1] * DECIMAL_TO_BPS,
            "Mean Period Wise Return Bottom Quantile (bps)":
                mq[f"mean_{c}"].iloc[0] * DECIMAL_TO_BPS,
            "Mean Period Wise Spread (bps)":
                sp[f"spread_{c}"].mean() * DECIMAL_TO_BPS if f"spread_{c}" in sp else None,
        }
    out = pd.DataFrame(rows).round(3)
    if show:
        from alphalens_spark.utils import print_table

        print_table(out, name="Returns Analysis")
    return out


def plot_information_table(
    ic_data: DataFrame, period_cols: Sequence[str], show: bool = False
) -> pd.DataFrame:
    """IC summary (ref plotting.py:166-179): mean, std, IR, t-stat,
    p-value, skew, kurtosis per horizon. The p-value (ref plotting.py:172
    ttest_1samp, two-sided) is a scalar Student-t survival function over
    the single aggregated row — driver-side math, no scipy dependency."""
    pdf = perf.ic_summary(ic_data, period_cols).toPandas()
    for c in period_cols:
        t = pdf[f"tstat_{c}"].iloc[0]
        n = pdf[f"n_{c}"].iloc[0]
        pdf[f"pvalue_{c}"] = (
            2.0 * perf.student_t_sf(abs(float(t)), float(n) - 1.0)
            if pd.notna(t) and n > 1
            else float("nan")
        )
    if show:
        from alphalens_spark.utils import print_table

        print_table(pdf, name="Information Analysis")
    return pdf


def plot_turnover_table(
    autocorrelation_data: DataFrame,
    quantile_turnover: DataFrame,
    show: bool = False,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Turnover means per (quantile, period) + mean rank autocorr per
    period (ref plotting.py:150-163)."""
    to = (
        perf.turnover_summary(quantile_turnover)
        .toPandas()
        .pivot(index="factor_quantile", columns="period", values="mean_turnover")
    )
    ac = (
        autocorrelation_data.groupBy("period")
        .agg(F.avg("autocorr").alias("mean_autocorr"))
        .toPandas()
        .set_index("period")
    )
    if show:
        from alphalens_spark.utils import print_table

        print_table(to.round(3), name="Turnover Analysis")
        print_table(ac.round(3), name="Autocorrelation")
    return to.round(3), ac.round(3)


def plot_quantile_statistics_table(
    factor_data: DataFrame, show: bool = False
) -> pd.DataFrame:
    """Per-quantile factor stats incl. count %% (ref plotting.py:182-189)."""
    out = perf.quantile_statistics(factor_data).withColumnsRenamed({
        "min_factor": "min", "max_factor": "max", "mean_factor": "mean",
        "std_factor": "std", "count_factor": "count", "count_pct": "count %",
    })
    pdf = out.toPandas().set_index("factor_quantile").sort_index()
    if show:
        from alphalens_spark.utils import print_table

        print_table(pdf, name="Quantiles Statistics")
    return pdf


# ---------------------------------------------------------------------------
# time-series plots — rolling stats computed Spark-side
# (per-date series: one row per date, so the unpartitioned ordered window
#  is a few-thousand-row frame regardless of data scale)
# ---------------------------------------------------------------------------

def _roll22() -> Window:
    """22-obs trailing frame (ref plotting.py:219-224). Built lazily —
    window specs need an active session in PySpark 4."""
    # deliberate global window: per-date series, one row per date
    return Window.orderBy("date").rowsBetween(-21, 0)


def plot_ic_ts(ic: DataFrame, period_cols: Sequence[str], ax=None) -> pd.DataFrame:
    """Daily IC + 1-month (22-obs) moving average (ref plotting.py:194-235)."""
    sel = [F.col("date")]
    for c in period_cols:
        sel.append(F.col(f"ic_{c}"))
        sel.append(F.avg(f"ic_{c}").over(_roll22()).alias(f"ic_roll_{c}"))
    pdf = ic.select(*sel).orderBy("date").toPandas().set_index("date")
    _maybe_line_plot(pdf, "Information Coefficient", ax)
    return pdf


def plot_ic_hist(ic: DataFrame, period_cols: Sequence[str], ax=None) -> pd.DataFrame:
    """IC distribution per horizon (ref plotting.py:238-264): the sample
    itself plus its mean — binning belongs to the renderer."""
    pdf = ic.select("date", *[f"ic_{c}" for c in period_cols]).toPandas()
    return pdf.set_index("date")


def plot_ic_qq(ic: DataFrame, period_cols: Sequence[str], ax=None) -> pd.DataFrame:
    """Q-Q points of IC vs a fitted normal (ref plotting.py:267-300 uses
    scipy.probplot; same osm/osr pairs via stdlib NormalDist — no scipy)."""
    pdf = ic.select(*[f"ic_{c}" for c in period_cols]).toPandas()
    nd = NormalDist()
    out = {}
    for c in period_cols:
        s = pdf[f"ic_{c}"].dropna().sort_values().to_numpy()
        n = len(s)
        if n == 0:
            continue
        # Filliben plotting positions, as scipy.stats.probplot uses
        pp = [(i - 0.3175) / (n + 0.365) for i in range(1, n + 1)]
        if n > 1:
            pp[0], pp[-1] = 1 - 0.5 ** (1 / n), 0.5 ** (1 / n)
        out[f"theoretical_{c}"] = [nd.inv_cdf(p) for p in pp]
        out[f"sample_{c}"] = list(s)
    return pd.DataFrame(dict([(k, pd.Series(v)) for k, v in out.items()]))


def plot_quantile_returns_bar(
    mean_ret_by_q: DataFrame, period_cols: Sequence[str], ax=None
) -> pd.DataFrame:
    """Mean period-wise return by quantile, bps (ref plotting.py:309-357)."""
    pdf = mean_ret_by_q.toPandas().set_index("factor_quantile").sort_index()
    out = pdf[[f"mean_{c}" for c in period_cols]] * DECIMAL_TO_BPS
    out.columns = list(period_cols)
    _maybe_line_plot(out, "Mean Return By Factor Quantile (bps)", ax)
    return out


def plot_quantile_returns_violin(
    mean_ret_by_q_by_date: DataFrame, period_cols: Sequence[str], ax=None
) -> pd.DataFrame:
    """Per-date return distribution by quantile, bps (ref
    plotting.py:360-404) — the violin's sample, long format."""
    pdf = mean_ret_by_q_by_date.toPandas()
    for c in period_cols:
        pdf[f"mean_{c}"] = pdf[f"mean_{c}"] * DECIMAL_TO_BPS
    return pdf


def plot_mean_quantile_returns_spread_time_series(
    mean_returns_spread: DataFrame, period_cols: Sequence[str], ax=None
) -> pd.DataFrame:
    """Top-bottom spread ts + 1-month rolling mean + ±1 rolling std band
    (ref plotting.py:407-470)."""
    sel = [F.col("date")]
    for c in period_cols:
        sel.append(F.col(f"spread_{c}"))
        sel.append(F.avg(f"spread_{c}").over(_roll22()).alias(f"spread_roll_{c}"))
        sel.append(F.stddev_samp(f"spread_{c}").over(_roll22()).alias(f"spread_roll_std_{c}"))
    pdf = mean_returns_spread.select(*sel).orderBy("date").toPandas().set_index("date")
    _maybe_line_plot(pdf, "Top Minus Bottom Quantile Mean Return", ax)
    return pdf


def plot_ic_by_group(ic_by_group: DataFrame, period_cols: Sequence[str], ax=None) -> pd.DataFrame:
    """Mean IC per group bar data (ref plotting.py:473-496)."""
    pdf = ic_by_group.toPandas().set_index("group").sort_index()
    return pdf[[f"ic_{c}" for c in period_cols if f"ic_{c}" in pdf]]


def plot_factor_rank_auto_correlation(
    factor_autocorrelation: DataFrame, period: int = 1, ax=None
) -> pd.DataFrame:
    """Rank autocorr ts + its mean (ref plotting.py:499-525)."""
    pdf = (
        factor_autocorrelation.orderBy("date").toPandas().set_index("date")
    )
    _maybe_line_plot(pdf, f"{period} Period Factor Rank Autocorrelation", ax)
    return pdf


def plot_top_bottom_quantile_turnover(
    quantile_turnover: DataFrame, period: int = 1, ax=None
) -> pd.DataFrame:
    """Top/bottom quantile turnover ts (ref plotting.py:528-554)."""
    hi_lo = quantile_turnover.agg(
        F.max("factor_quantile").alias("hi"), F.min("factor_quantile").alias("lo")
    ).first()
    pdf = (
        quantile_turnover.where(
            (F.col("period") == period)
            & F.col("factor_quantile").isin([hi_lo["hi"], hi_lo["lo"]])
        )
        .toPandas()
        .pivot(index="date", columns="factor_quantile", values="turnover")
    )
    pdf.columns = [
        "bottom quantile turnover" if q == hi_lo["lo"] else "top quantile turnover"
        for q in pdf.columns
    ]
    _maybe_line_plot(pdf, f"Top and Bottom Quantile Turnover ({period} periods)", ax)
    return pdf


def plot_monthly_ic_heatmap(
    mean_monthly_ic: DataFrame, period_cols: Sequence[str], ax=None
) -> dict[str, pd.DataFrame]:
    """Year × month mean-IC grids, one per horizon (ref plotting.py:557-594)."""
    pdf = mean_monthly_ic.toPandas()
    pdf["year"] = pdf["date"].dt.year
    pdf["month"] = pdf["date"].dt.month
    return {
        c: pdf.pivot(index="year", columns="month", values=f"ic_{c}")
        for c in period_cols
    }


def plot_cumulative_returns(
    factor_returns: DataFrame, period: str, ax=None
) -> pd.DataFrame:
    """Factor-weighted cumulative return ts (ref plotting.py:597-627);
    cumprod as the log1p-sum window of performance.cumulative_returns."""
    cum = perf.cumulative_returns(
        factor_returns.select("date", F.col(f"ret_{period}").alias("ret")), "ret"
    )
    pdf = cum.orderBy("date").toPandas().set_index("date")
    _maybe_line_plot(pdf, f"Portfolio Cumulative Return ({period} Fwd Period)", ax)
    return pdf


def plot_cumulative_returns_by_quantile(
    quantile_returns_by_date: DataFrame, period: str, ax=None
) -> pd.DataFrame:
    """Per-quantile cumulative return ts, wide (ref plotting.py:630-674)."""
    base = quantile_returns_by_date.select(
        "factor_quantile", "date", F.col(f"mean_{period}").alias("ret")
    )
    w = (
        Window.partitionBy("factor_quantile")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = base.select(
        "factor_quantile",
        "date",
        (F.exp(F.sum(F.log1p("ret")).over(w))).alias("cum_return"),
    )
    return (
        cum.toPandas()
        .pivot(index="date", columns="factor_quantile", values="cum_return")
        .sort_index()
    )


def plot_quantile_average_cumulative_return(
    avg_cumulative_returns: DataFrame, ax=None
) -> pd.DataFrame:
    """Mean (±std) cumulative return path around the event per quantile
    (ref plotting.py:677-779), wide on offset."""
    pdf = avg_cumulative_returns.toPandas()
    return pdf.pivot(index="offset", columns="factor_quantile")


def plot_events_distribution(
    events: DataFrame, num_bars: int = 50, date_col: str = "date", ax=None
) -> pd.DataFrame:
    """Event counts per equal-span time bucket (ref plotting.py:903-933).

    The reference buckets the span into ~num_bars groups; same here via
    integer division on day_idx (one groupBy, calendar-aware)."""
    from alphalens_spark.calendar_ import trading_calendar, with_day_idx

    cal = trading_calendar(events, date_col)
    n_days = cal.count()
    step = max(n_days // num_bars, 1)
    ev = with_day_idx(events, cal, date_col)
    out = (
        ev.groupBy(((F.col("day_idx") - 1) / step).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min(date_col).alias("bucket_start"))
        .orderBy("bucket")
    )
    pdf = out.toPandas().set_index("bucket_start")["n_events"].to_frame()
    _maybe_line_plot(pdf, "Distribution of events in time", ax)
    return pdf


GRID_COLUMNS = 3  # ref plotting.py GridFigure default layout


class GridFigure:
    """ref plotting.py GridFigure — axes-grid factory when matplotlib is
    present; a counting stub otherwise so tear-sheet code can run."""

    def __init__(self, rows: int, cols: int = GRID_COLUMNS) -> None:
        self.rows, self.cols, self.curr_row, self.curr_col = rows, cols, 0, 0
        if _HAS_MPL:
            import matplotlib.gridspec as gridspec
            import matplotlib.pyplot as plt

            self.fig = plt.figure(figsize=(14, rows * 7))
            self.gs = gridspec.GridSpec(rows, cols, wspace=0.4, hspace=0.3)
        else:
            self.fig = self.gs = None

    def next_row(self):
        if self.curr_col != 0:
            self.curr_row, self.curr_col = self.curr_row + 1, 0
        self.curr_row += 1
        if not _HAS_MPL:
            return None
        import matplotlib.pyplot as plt

        return plt.subplot(self.gs[self.curr_row - 1, :])

    def next_cell(self):
        if self.curr_col >= self.cols:
            self.curr_row, self.curr_col = self.curr_row + 1, 0
        self.curr_col += 1
        if not _HAS_MPL:
            return None
        import matplotlib.pyplot as plt

        return plt.subplot(self.gs[self.curr_row, self.curr_col - 1])

    def close(self):
        if _HAS_MPL:
            import matplotlib.pyplot as plt

            plt.close(self.fig)

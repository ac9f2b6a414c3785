"""Smoke + golden tests for the tear-sheet layer and pyfolio export
(mirrors the reference's smoke-test strategy, tests/test_tears.py)."""

import datetime as dt
import math

import pytest

from alphalens_spark import portfolio, tears
from alphalens_spark.calendar_ import trading_calendar
from alphalens_spark.utils import get_clean_factor_and_forward_returns

D = lambda i: dt.datetime(2020, 1, 1) + dt.timedelta(days=i)
RATIOS = {"A": 1.25, "B": 1.5, "C": 1.0, "D": 0.5}


def _factor_data(spark, n_days=12):
    prices = spark.createDataFrame(
        [(D(i), a, float(r**i)) for i in range(n_days) for a, r in RATIOS.items()],
        "date timestamp, asset string, price double",
    )
    factor = spark.createDataFrame(
        [(D(d), a, float(v)) for d in range(n_days - 2)
         for a, v in zip("ABCD", [3, 4, 2, 1])],
        "date timestamp, asset string, factor double",
    )
    groups = spark.createDataFrame(
        [("A", "g1"), ("B", "g2"), ("C", "g1"), ("D", "g2")],
        "asset string, group string",
    )
    fd = get_clean_factor_and_forward_returns(
        factor, prices, groupby=groups, quantiles=2, periods=(1,), max_loss=None
    )
    return fd, prices


def test_full_tear_sheet_smoke(spark):
    fd, _ = _factor_data(spark)
    fd = fd.persist()
    sheets = tears.create_full_tear_sheet(fd, by_group=True)
    expected = {
        "factor_returns", "mean_return_by_quantile",
        "mean_return_by_quantile_by_date", "alpha_beta", "mean_returns_spread",
        "ic", "ic_summary", "mean_ic_monthly", "ic_by_group",
        "quantile_turnover", "turnover_summary", "rank_autocorrelation",
    }
    assert expected <= set(sheets)
    for name, pdf in sheets.items():
        assert len(pdf) > 0, name
    # constant factor pattern → rank autocorrelation exactly 1
    assert all(abs(v - 1.0) < 1e-9 for v in sheets["rank_autocorrelation"]["autocorr"])


def test_event_returns_tear_sheet_smoke(spark):
    fd, prices = _factor_data(spark)
    out = tears.create_event_returns_tear_sheet(fd, prices, avgretplot=(2, 3))
    acr = out["avg_cumulative_returns"]
    assert set(acr["offset"]) == set(range(-2, 4))


def test_event_study_tear_sheet_smoke(spark):
    fd, prices = _factor_data(spark)
    out = tears.create_event_study_tear_sheet(fd, prices, avgretplot=(2, 3))
    assert set(out) == {
        "event_distribution", "avg_cumulative_returns",
        "mean_return_by_quantile", "factor_returns_equal_weight",
    }
    # 4 assets on each of the 10 factor dates, all in January
    assert out["event_distribution"]["n_events"].tolist() == [40]
    assert set(out["avg_cumulative_returns"]["offset"]) == set(range(-2, 4))
    # not demeaned: top quantile {A, B} earns (0.25 + 0.5) / 2 a day,
    # bottom {C, D} (0 - 0.5) / 2
    mean = out["mean_return_by_quantile"].set_index("factor_quantile")["mean_1D"]
    assert mean.to_dict() == {2: 0.375, 1: -0.25}
    assert len(out["factor_returns_equal_weight"]) == 10


def test_plot_ic_by_group(spark):
    from alphalens_spark import performance, plotting

    fd, _ = _factor_data(spark)
    ic = performance.mean_information_coefficient(fd, ["1D"], by_group=True)
    bars = plotting.plot_ic_by_group(ic, ["1D", "5D"])
    # groups sorted; only the periods the frame carries; both groups
    # rank their two assets in factor order, so each IC is 1
    assert bars.index.tolist() == ["g1", "g2"]
    assert bars.columns.tolist() == ["ic_1D"]
    assert bars["ic_1D"].tolist() == pytest.approx([1.0, 1.0])


def test_pyfolio_input(spark):
    fd, prices = _factor_data(spark)
    cal = trading_calendar(prices)
    rets, positions, benchmark = portfolio.create_pyfolio_input(fd, cal)
    r = rets.orderBy("date").collect()
    assert len(r) == 10
    p = positions.collect()
    by_date = {}
    for row in p:
        by_date.setdefault(row["date"], {})[row["asset"]] = row["position"]
    for d, holdings in by_date.items():
        assert "cash" in holdings
        # ref performance.py:1134-1135: positions normalize by GROSS
        # (Σ|pos| = 1), cash = 1 − NET sum — a balanced long-short book
        # nets to ~0 so it holds ~full cash
        gross = sum(abs(v) for a, v in holdings.items() if a != "cash")
        net = sum(v for a, v in holdings.items() if a != "cash")
        assert math.isclose(gross, 1.0, rel_tol=1e-9)
        assert math.isclose(holdings["cash"], 1.0 - net, rel_tol=1e-9)
        assert abs(net) < 1e-9  # demeaned book nets to zero
    b = benchmark.collect()
    assert len(b) == 10


def test_resample_daily_ffill_levels_and_flows(spark):
    """ref performance.py:1118,1133: gaps densify to calendar days and
    carry the last value ('last' mode) / the per-day sum ('sum' mode)."""
    df = spark.createDataFrame(
        [(D(0), 1.0), (D(3), 4.0)], "date timestamp, cum_ret double"
    )
    out = {r["date"]: r["cum_ret"] for r in
           portfolio.resample_daily_ffill(df, ["cum_ret"]).collect()}
    assert out == {D(0): 1.0, D(1): 1.0, D(2): 1.0, D(3): 4.0}

    keyed = spark.createDataFrame(
        [(D(0), "A", 1.0), (D(0), "A", 2.0), (D(2), "A", 5.0), (D(2), "B", 7.0)],
        "date timestamp, asset string, position double",
    )
    got = {(r["date"], r["asset"]): r["position"] for r in
           portfolio.resample_daily_ffill(
               keyed, ["position"], keys=["asset"], how="sum"
           ).collect()}
    assert got[(D(0), "A")] == 3.0        # per-day sum
    assert got[(D(1), "A")] == 3.0        # ffilled gap
    assert got[(D(2), "A")] == 5.0
    assert got[(D(2), "B")] == 7.0
    assert got[(D(0), "B")] is None       # before B's first observation


def test_pyfolio_daily_returns_zero_on_gap_days(spark):
    """daily=True (ref performance.py:1112-1119): non-trading calendar
    days return 0; trading-day returns compound to the same level."""
    fd, prices = _factor_data(spark)
    cal = trading_calendar(prices)
    rets, _, _ = portfolio.create_pyfolio_input(fd, cal, daily=True)
    base, _, _ = portfolio.create_pyfolio_input(fd, cal, daily=False)
    daily = rets.orderBy("date").collect()
    # contiguous daily fixture: same dates, same returns except first = 0
    trading = base.orderBy("date").collect()
    assert len(daily) == len(trading)
    assert daily[0]["ret"] == 0.0
    for dr, tr in zip(daily[1:], trading[1:]):
        assert math.isclose(dr["ret"], tr["ret"], rel_tol=1e-9, abs_tol=1e-12)


def test_factor_cumulative_returns_compounds(spark):
    fd, _ = _factor_data(spark)
    out = portfolio.factor_cumulative_returns(fd).orderBy("date").collect()
    # cum_ret compounds the per-period returns
    acc = 1.0
    for row in out:
        acc *= 1.0 + row["ret"]
        assert math.isclose(row["cum_ret"], acc, rel_tol=1e-9)


def test_corpus_tear_sheet_smoke(spark):
    from alphalens_spark import datasets, tears

    docs = datasets.load_table(spark, "/root/testdata/sf0.001", "documents")
    out = tears.create_corpus_tear_sheet(docs)
    assert set(out) == {
        "report", "entropy", "top_terms", "cross_source_dups", "quality"
    }
    assert out["report"].shape[0] == 1
    assert set(out["entropy"]["column"]) == {"source", "lang"}
    assert out["quality"].shape[0] == 20  # one row per source
    assert (out["quality"]["mean_quality"] >= 0).all()
    # lazy mode returns DataFrames, not pandas
    lazy = tears.create_corpus_tear_sheet(docs, collect=False)
    assert hasattr(lazy["report"], "sparkSession")

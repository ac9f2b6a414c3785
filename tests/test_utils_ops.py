"""Golden-value tests for calendar, forward returns, quantization.

Fixtures follow the reference test strategy (SURVEY §5 / FIXTURES.md):
geometric price series make every forward return closed-form
(reference tests/test_performance.py:227-229), small integer factor
patterns make quantile labels hand-checkable
(reference tests/test_utils.py:122-186).
"""

import datetime as dt
import math

import pytest
from conftest import count_jobs

from pyspark.sql import functions as F

from alphalens_spark.calendar_ import infer_holidays, trading_calendar
from alphalens_spark.utils import (
    compute_forward_returns,
    demean_forward_returns,
    get_clean_factor_and_forward_returns,
    get_forward_returns_columns,
    quantize_factor,
)

D = lambda i: dt.datetime(2020, 1, 1) + dt.timedelta(days=i)


def _prices_df(spark, n_days=10, ratios=None):
    """price(asset, i) = ratio_asset ** i → k-period fwd ret = r**k − 1."""
    ratios = ratios or {"A": 1.25, "B": 1.5, "C": 1.0, "D": 0.5}
    rows = [
        (D(i), a, float(r**i)) for i in range(n_days) for a, r in ratios.items()
    ]
    return spark.createDataFrame(rows, "date timestamp, asset string, price double")


def test_trading_calendar_dense_numbering(spark):
    df = spark.createDataFrame(
        [(D(0),), (D(3),), (D(7),), (D(3),)], "date timestamp"
    )
    cal = {r["date"]: r["day_idx"] for r in trading_calendar(df).collect()}
    assert cal == {D(0): 1, D(3): 2, D(7): 3}


def test_infer_holidays(spark):
    # two Mon-Fri weeks, first Wednesday missing → holiday; weekends are
    # never-observed weekdays → NOT holidays (ref utils.py:196-210)
    days = [dt.datetime(2020, 1, d) for d in (6, 7, 9, 10, 13, 14, 15, 16, 17)]
    df = spark.createDataFrame([(d,) for d in days], "date timestamp")
    hol = [r["holiday"] for r in infer_holidays(df).collect()]
    assert hol == [dt.date(2020, 1, 8)]


def test_forward_returns_geometric(spark):
    fwd = compute_forward_returns(_prices_df(spark), periods=(1, 5)).collect()
    for r in fwd:
        i = (r["date"] - D(0)).days
        ratio = {"A": 1.25, "B": 1.5, "C": 1.0, "D": 0.5}[r["asset"]]
        for k, col in ((1, "1D"), (5, "5D")):
            if i + k <= 9:
                assert math.isclose(r[col], ratio**k - 1, rel_tol=1e-12), (r, col)
            else:
                assert r[col] is None  # beyond price history → null


def test_forward_returns_missing_dates_not_skipped(spark):
    # asset X has no price on D1: 1-period return from D0 must be NULL
    # (row-positional on the global calendar, ref utils.py:286-293),
    # NOT the D0→D2 return an order-by-existing-rows lead would give.
    rows = [(D(0), "X", 100.0), (D(2), "X", 121.0), (D(0), "Y", 1.0),
            (D(1), "Y", 2.0), (D(2), "Y", 3.0)]
    df = spark.createDataFrame(rows, "date timestamp, asset string, price double")
    fwd = {(r["date"], r["asset"]): r["1D"] for r in
           compute_forward_returns(df, periods=(1,)).collect()}
    assert fwd[(D(0), "X")] is None
    assert math.isclose(fwd[(D(0), "Y")], 1.0)


def test_forward_returns_non_cumulative(spark):
    # ref utils.py:290-293 + golden tests/test_utils.py:105-120:
    # p[t+k]/p[t+k-1] - 1; geometric series → always r - 1
    fwd = compute_forward_returns(
        _prices_df(spark), periods=(2,), cumulative_returns=False
    ).collect()
    for r in fwd:
        i = (r["date"] - D(0)).days
        if i + 2 <= 9:
            ratio = {"A": 1.25, "B": 1.5, "C": 1.0, "D": 0.5}[r["asset"]]
            assert math.isclose(r["2D"], ratio - 1, rel_tol=1e-12)


def _factor_df(spark, values, dates=1, group=None):
    rows = []
    for d in range(dates):
        for j, v in enumerate(values):
            a = chr(ord("A") + j)
            if group:
                rows.append((D(d), a, float(v), group[j]))
            else:
                rows.append((D(d), a, float(v)))
    schema = "date timestamp, asset string, factor double" + (
        ", group string" if group else ""
    )
    return spark.createDataFrame(rows, schema)


def test_quantize_qcut_parity(spark):
    # pd.qcut([1..8], 4, labels=False)+1 == [1,1,2,2,3,3,4,4]
    df = _factor_df(spark, [1, 2, 3, 4, 5, 6, 7, 8])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=4).collect()}
    assert out == {"A": 1, "B": 1, "C": 2, "D": 2, "E": 3, "F": 3, "G": 4, "H": 4}


def test_quantize_fraction_sequence(spark):
    # qcut with edges [0,.25,.5,.75,1]: same as quantiles=4
    df = _factor_df(spark, [10, 20, 30, 40])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=[0.0, 0.25, 0.5, 0.75, 1.0]).collect()}
    assert out == {"A": 1, "B": 2, "C": 3, "D": 4}


def test_quantize_equal_width_bins(spark):
    # pd.cut([0,1,2,9], 3) → widths of 3: [1,1,1,3]
    df = _factor_df(spark, [0, 1, 2, 9])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=None, bins=3).collect()}
    assert out == {"A": 1, "B": 1, "C": 1, "D": 3}


def test_quantize_explicit_edges_out_of_range_null(spark):
    # ref tests/test_utils.py:166-167: values outside the edges → NaN
    df = _factor_df(spark, [1, 5, 15, 100])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=None, bins=[0, 10, 20]).collect()}
    assert out == {"A": 1, "B": 1, "C": 2, "D": None}


def test_quantize_by_group(spark):
    # per-group median split (ref tests/test_utils.py:127,174-175)
    df = _factor_df(spark, [1, 2, 3, 4], group=["g1", "g1", "g2", "g2"])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=2, by_group=True).collect()}
    assert out == {"A": 1, "B": 2, "C": 1, "D": 2}


def test_quantize_zero_aware(spark):
    # negatives → bottom half, positives → top half (ref utils.py:143-156)
    df = _factor_df(spark, [-4, -3, -2, -1, 1, 2, 3, 4])
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=4, zero_aware=True).collect()}
    assert out == {"A": 1, "B": 1, "C": 2, "D": 2, "E": 3, "F": 3, "G": 4, "H": 4}


def test_quantize_duplicate_edges_raise(spark):
    # pd.qcut([1,1,1,1,2], 4) collapses edges → eager ValueError
    # ('Bin edges must be unique', ref utils.py:49-81); default mode
    df = _factor_df(spark, [1, 1, 1, 1, 2])
    with pytest.raises(ValueError, match="Bin edges must be unique"):
        quantize_factor(df, quantiles=4)


def test_quantize_duplicate_edges_no_raise_drops_partition(spark):
    # ref utils.py:157-160: the WHOLE offending cross-section NaNs out;
    # clean dates keep their pd.qcut labels ([1,2,3,4,5] q=4 → 1,1,2,3,4).
    # An all-NULL date has nothing to bin: NULL labels, no error, with
    # or without no_raise.
    rows = [(D(0), chr(ord("A") + j), v) for j, v in enumerate([1.0, 1.0, 1.0, 1.0, 2.0])]
    rows += [(D(1), chr(ord("A") + j), v) for j, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0])]
    rows += [(D(2), "A", None), (D(2), "B", None)]
    df = spark.createDataFrame(rows, "date timestamp, asset string, factor double")
    out = {(r["date"], r["asset"]): r["factor_quantile"]
           for r in quantize_factor(df, quantiles=4, no_raise=True).collect()}
    assert all(out[(D(0), a)] is None for a in "ABCDE")
    assert [out[(D(1), a)] for a in "ABCDE"] == [1, 1, 2, 3, 4]
    assert out[(D(2), "A")] is None and out[(D(2), "B")] is None
    clean = df.where(F.col("date") > D(0))
    out = {(r["date"], r["asset"]): r["factor_quantile"]
           for r in quantize_factor(clean, quantiles=4).collect()}
    assert [out[(D(1), a)] for a in "ABCDE"] == [1, 1, 2, 3, 4]
    assert out[(D(2), "A")] is None and out[(D(2), "B")] is None


def test_quantize_zero_aware_tie_kills_whole_partition(spark):
    # reference's per-partition try wraps BOTH sign qcuts: the negative
    # side's collapse ([-1,-1,-1] q=2) NaNs the positives too
    df = _factor_df(spark, [-1, -1, -1, 1, 2, 3, 4])
    with pytest.raises(ValueError, match="Bin edges must be unique"):
        quantize_factor(df, quantiles=4, zero_aware=True)
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(
               df, quantiles=4, zero_aware=True, no_raise=True
           ).collect()}
    assert all(v is None for v in out.values())


def test_get_clean_factor_tie_loss_accounting_and_report(spark, capsys):
    # default max_loss: tied date silently dropped, counted as binning
    # loss, report printed (ref utils.py:631,651-661); max_loss=0
    # surfaces the suppressed ValueError instead
    from alphalens_spark.utils import get_clean_factor

    rows = [(D(0), chr(ord("A") + j), v) for j, v in enumerate([1.0, 1.0, 1.0, 1.0, 2.0])]
    rows += [(D(1), chr(ord("A") + j), v) for j, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0])]
    fac = spark.createDataFrame(rows, "date timestamp, asset string, factor double")
    fwd = fac.select("date", "asset", (F.col("factor") * 0.01).alias("1D"))
    out = get_clean_factor(fac, fwd, ["1D"], quantiles=4, max_loss=0.6)
    assert out.count() == 5  # only the clean date survives
    assert capsys.readouterr().out.splitlines() == [
        "Dropped 50.0% entries from factor data: 0.0% in forward returns "
        "computation and 50.0% in binning phase (set max_loss=0 to see "
        "potentially suppressed Exceptions).",
        "max_loss is 60.0%, not exceeded: OK!",
    ]
    with pytest.raises(ValueError, match="Bin edges must be unique"):
        get_clean_factor(fac, fwd, ["1D"], quantiles=4, max_loss=0.0)


def test_quantize_ntile_deterministic(spark):
    df = _factor_df(spark, [5, 5, 5, 5])  # all tied → broken by asset
    out = {r["asset"]: r["factor_quantile"]
           for r in quantize_factor(df, quantiles=4, method="ntile").collect()}
    assert out == {"A": 1, "B": 2, "C": 3, "D": 4}


def test_demean_forward_returns(spark):
    df = spark.createDataFrame(
        [(D(0), "A", 1.0), (D(0), "B", 3.0), (D(1), "A", 10.0), (D(1), "B", 30.0)],
        "date timestamp, asset string, r double",
    )
    out = {(r["date"], r["asset"]): r["r"]
           for r in demean_forward_returns(df, ["r"]).collect()}
    assert out == {(D(0), "A"): -1.0, (D(0), "B"): 1.0,
                   (D(1), "A"): -10.0, (D(1), "B"): 10.0}


def test_get_clean_factor_and_forward_returns_end_to_end(spark):
    prices = _prices_df(spark, n_days=8)
    # factor = rank pattern per date over 4 assets, 6 factor dates
    rows = [(D(d), a, float(v)) for d in range(6)
            for a, v in zip("ABCD", [3, 4, 2, 1])]
    factor = spark.createDataFrame(rows, "date timestamp, asset string, factor double")
    groups = spark.createDataFrame(
        [("A", "g1"), ("B", "g2"), ("C", "g1"), ("D", "g2")], "asset string, group string"
    )
    fd = get_clean_factor_and_forward_returns(
        factor, prices, groupby=groups, quantiles=2, periods=(1,), max_loss=None
    )
    got = fd.orderBy("date", "asset").collect()
    assert len(got) == 24  # 6 dates × 4 assets, nothing lost
    assert set(fd.columns) == {"date", "asset", "1D", "factor", "group", "factor_quantile"}
    r0 = {r["asset"]: r for r in got if r["date"] == D(0)}
    assert r0["A"]["factor_quantile"] == 2 and r0["D"]["factor_quantile"] == 1
    assert r0["A"]["group"] == "g1"
    assert math.isclose(r0["B"]["1D"], 0.5)  # ratio 1.5 − 1


def test_get_forward_returns_columns():
    cols = ["1D", "5D", "1h", "3h", "factor", "group", "22ns", "D1"]
    assert get_forward_returns_columns(cols) == ["1D", "5D", "1h", "3h", "22ns"]


def test_timedelta_strings_to_integers():
    from alphalens_spark.utils import timedelta_strings_to_integers

    assert timedelta_strings_to_integers(["1D", "5D", "10D"]) == [1, 5, 10]
    # multi-component labels (infer_period_labels emits '1D21h') have no
    # single period count: concatenating their digits read '1D21h' as 121
    with pytest.raises(ValueError, match="1D21h"):
        timedelta_strings_to_integers(["1D21h"])


def test_detect_non_unique_bin_edges(spark):
    from alphalens_spark.utils import detect_non_unique_bin_edges

    # date 0: heavy ties (edges collapse); date 1: distinct values (clean)
    rows = [(D(0), a, 1.0) for a in "ABCDEFGH"]
    rows += [(D(1), a, float(i)) for i, a in enumerate("ABCDEFGH")]
    df = spark.createDataFrame(rows, "date timestamp, asset string, factor double")
    bad = [r["date"] for r in detect_non_unique_bin_edges(df, 4).collect()]
    assert bad == [D(0)]

    # pd.qcut(q=3) labels this cross-section [0, 1, 2, 2] (numpy's 2/3
    # edge lands 1 ulp below 1.0), so quantize_factor keeps it; exact
    # i/3 edges would repeat 1.0 and flag it
    rows3 = [(D(0), a, 1.0) for a in "ABCD"]
    rows3 += [(D(2), a, v) for a, v in zip("ABCD", [1e-17, 0.3, 1.0, 1.0])]
    rows3 += [(D(3), a, None) for a in "AB"]  # all-NULL: nothing to bin
    df3 = spark.createDataFrame(rows3, "date timestamp, asset string, factor double")
    bad3 = [r["date"] for r in detect_non_unique_bin_edges(df3, 3).collect()]
    assert bad3 == [D(0)]


def test_add_trading_periods(spark):
    from alphalens_spark.calendar_ import add_trading_periods, trading_calendar

    df = spark.createDataFrame(
        [(D(i), float(i)) for i in range(3)], "date timestamp, v double"
    )
    cal = trading_calendar(df)
    out = {r["v"]: r["date"] for r in add_trading_periods(df, 1, cal).collect()}
    assert out == {0.0: D(1), 1.0: D(2)}  # last row shifts off the calendar


def test_diff_trading_periods_counts_trading_days(spark):
    from alphalens_spark.calendar_ import diff_trading_periods

    # two non-trading days after D(1): D(1) -> D(4) is one trading period
    cal = trading_calendar(
        spark.createDataFrame([(D(i),) for i in (0, 1, 4, 5, 6)], "date timestamp")
    )
    spans = spark.createDataFrame(
        [(D(0), D(1)), (D(1), D(4)), (D(0), D(6)), (D(5), D(1))],
        "start timestamp, end timestamp",
    )
    idx = {
        side: cal.select(
            F.col("date").alias(side), F.col("day_idx").alias(f"{side}_idx")
        )
        for side in ("start", "end")
    }
    out = spans.join(idx["start"], "start").join(idx["end"], "end").select(
        "start", "end",
        diff_trading_periods(cal, F.col("start_idx"), F.col("end_idx")).alias("n"),
    )
    got = {(r["start"], r["end"]): r["n"] for r in out.collect()}
    assert got == {
        (D(0), D(1)): 1, (D(1), D(4)): 1, (D(0), D(6)): 4, (D(5), D(1)): -2,
    }


def test_common_start_returns_standalone(spark):
    from alphalens_spark.performance import common_start_returns

    prices = spark.createDataFrame(
        [(D(i), "A", float(2**i)) for i in range(5)],
        "date timestamp, asset string, price double",
    )
    events = spark.createDataFrame([(D(2), "A")], "date timestamp, asset string")
    out = {r["offset"]: r["cum_ret"]
           for r in common_start_returns(events, prices, 1, 2).collect()}
    assert out == {-1: -0.5, 0: 0.0, 1: 1.0, 2: 3.0}


def test_intraday_calendar_inferred_labels(spark):
    """Intraday (hourly) timestamps: day_idx numbers every bar, labels
    infer to wall-clock spans (reference tests/test_utils.py:344 proves
    intraday columns come out as Timedelta strings like '1h'/'3h'/'1D').
    Forward returns stay row-positional across the day boundary."""
    import datetime as dtm

    from alphalens_spark.utils import infer_period_labels

    # 4 days x 8 hourly bars (09:00-16:00); the clean join keeps only rows
    # where every horizon incl. '1D' (+24 bars) resolves — day 1's bars
    ts = [
        dtm.datetime(2020, 1, 1 + d, 9 + h) for d in range(4) for h in range(8)
    ]
    rows = [(t, "A", float(1.25 ** i)) for i, t in enumerate(ts)]
    prices = spark.createDataFrame(rows, "date timestamp, asset string, price double")

    cal = trading_calendar(prices)
    # 8 bars/day: +24 bars = 3 trading days later, and the reference's
    # calendar-aware day count (utils.py:994-1039) labels it '3D' — the
    # wall-clock span day component is replaced by the trading-day diff
    labels = infer_period_labels(cal, (1, 3, 24))
    assert labels == {1: "1h", 3: "3h", 24: "3D"}

    fd = get_clean_factor_and_forward_returns(
        factor=prices.select("date", "asset", F.col("price").alias("factor")),
        prices=prices,
        quantiles=None,
        bins=1,
        periods=(1, 3, 24),
        filter_zscore=None,
        max_loss=None,
        label_freq="infer",
    )
    assert {"1h", "3h", "3D"} <= set(fd.columns)
    got = {r["date"]: r for r in fd.collect()}
    # row-positional: +1 bar across the 16:00 -> next-day 09:00 boundary
    last_bar_day1 = dtm.datetime(2020, 1, 1, 16)
    assert abs(got[last_bar_day1]["1h"] - 0.25) < 1e-9
    # +24 bars (3 trading days): only the first 24-bar window has a value
    assert abs(got[dtm.datetime(2020, 1, 1, 9)]["3D"] - (1.25**24 - 1)) < 1e-6


def test_subhour_calendar_inferred_labels(spark):
    """Minute/second-granularity calendars label with the reference's
    full Timedelta-component walk (timedelta_to_string, ref
    utils.py:921-951): '5m', '30s', '2h30m' — not only h/D."""
    import datetime as dtm

    from alphalens_spark.utils import (
        _format_period_seconds,
        infer_period_labels,
    )

    # component-walk parity matrix: expected strings are
    # timedelta_to_string(pd.Timedelta(seconds=s)) from the reference
    # (ref utils.py:921-951; the reference package itself isn't
    # installable in this container — scipy dep — so the goldens are
    # pinned literals)
    for secs, want in [
        (30, "30s"),
        (300, "5m"),
        (9000, "2h30m"),
        (86400 + 3600, "1D1h"),
        (90, "1m30s"),
        (0.5, "500ms"),
        (0.00025, "250us"),
        (45.125, "45s125ms"),
    ]:
        got = _format_period_seconds(secs)
        assert got == want, (secs, got, want)

    # 5-minute bars, 2 days x 6 bars (09:00-09:25)
    ts = [
        dtm.datetime(2020, 1, 1 + d, 9, 5 * b)
        for d in range(2)
        for b in range(6)
    ]
    cal = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(ts)], "date timestamp, day_idx int"
    )
    labels = infer_period_labels(cal, (1, 3, 6))
    # +6 bars = next trading day, same wall-clock time → '1D'
    assert labels == {1: "5m", 3: "15m", 6: "1D"}

    # 30-second bars within one session
    ts2 = [
        dtm.datetime(2020, 1, 1, 9, 0) + dtm.timedelta(seconds=30 * b)
        for b in range(10)
    ]
    cal2 = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(ts2)], "date timestamp, day_idx int"
    )
    labels2 = infer_period_labels(cal2, (1, 2, 5))
    assert labels2 == {1: "30s", 2: "1m", 5: "2m30s"}


def test_non_matching_timezone_error(spark):
    import pytest

    from alphalens_spark.utils import NonMatchingTimezoneError

    aware = spark.createDataFrame(
        [(D(0), "A", 1.0)], "date timestamp, asset string, price double"
    )
    naive = spark.createDataFrame(
        [(D(0), "A", 1.0)], "date timestamp_ntz, asset string, factor double"
    )
    with pytest.raises(NonMatchingTimezoneError):
        get_clean_factor_and_forward_returns(
            factor=naive, prices=aware, periods=(1,), filter_zscore=None, max_loss=None
        )


def test_max_loss_exceeded(spark):
    """Factor mostly NaN → fwd-return join loses > max_loss → raise
    (reference utils.py:645-661)."""
    import pytest

    from alphalens_spark.utils import MaxLossExceededError

    prices = _prices_df(spark)  # 10 dates
    # factor on every date, but the 5-period horizon has no future price
    # for the last 5 dates → fwd loss 50% > max_loss 10%
    factor = prices.select("date", "asset", F.col("price").alias("factor"))
    with pytest.raises(MaxLossExceededError):
        get_clean_factor_and_forward_returns(
            factor=factor,
            prices=prices,
            quantiles=2,
            periods=(1, 5),
            filter_zscore=None,
            max_loss=0.1,
        )


def _panel(spark, n_days=20, n_assets=8):
    """Prices, an untied factor and static groups over one small panel."""
    prices = _prices_df(
        spark, n_days, {f"A{j}": 1.0 + 0.05 * (j + 1) for j in range(n_assets)}
    )
    factor = prices.select(
        "date", "asset",
        ((F.dayofyear("date") * 7 + F.substring("asset", 2, 1).cast("int") * 3)
         % 11 + F.substring("asset", 2, 1).cast("int") / 10.0).alias("factor"),
    )
    groups = spark.createDataFrame(
        [(f"A{j}", f"g{j % 2}") for j in range(n_assets)], "asset string, group string"
    )
    return prices, factor, groups


def test_clean_factor_materializes_once(spark, capsys):
    """With max_loss set, the loss report reads its three counts off the
    checkpoints that build factor_data instead of running count jobs of
    its own, so one clean + persist + count runs at most 15 jobs."""
    prices, factor, groups = _panel(spark)

    def clean():
        fd = get_clean_factor_and_forward_returns(
            factor, prices, groupby=groups, quantiles=2, periods=(1, 5)
        ).persist()
        n = fd.count()
        fd.unpersist()
        return n

    want = clean()
    n, jobs = count_jobs(spark, clean)
    assert n == want == 15 * 8
    assert jobs <= 15, jobs
    assert capsys.readouterr().out.splitlines()[-2:] == [
        "Dropped 25.0% entries from factor data: 25.0% in forward returns "
        "computation and 0.0% in binning phase (set max_loss=0 to see "
        "potentially suppressed Exceptions).",
        "max_loss is 35.0%, not exceeded: OK!",
    ]


def test_clean_factor_empty_factor_reports_no_loss(spark, capsys):
    """An empty factor prunes to an empty relation under the join; the
    counts are observed at the top of each checkpointed frame, so they
    still arrive (0 rows), the report reads 0.0% and nothing raises."""
    prices, factor, groups = _panel(spark)
    fd = get_clean_factor_and_forward_returns(
        factor.limit(0), prices, groupby=groups, quantiles=2, periods=(1, 5)
    )
    assert fd.count() == 0
    assert capsys.readouterr().out.splitlines() == [
        "Dropped 0.0% entries from factor data: 0.0% in forward returns "
        "computation and 0.0% in binning phase (set max_loss=0 to see "
        "potentially suppressed Exceptions).",
        "max_loss is 35.0%, not exceeded: OK!",
    ]


def test_groupby_labels_remap(spark):
    """Reference utils.py:614-623: group codes remapped to display names
    via the labels dict; a missing code errors at evaluation."""
    import pytest

    from alphalens_spark.utils import get_clean_factor, period_label

    prices = _prices_df(spark)
    fwd = compute_forward_returns(prices, (1,))
    factor = prices.select("date", "asset", F.col("price").alias("factor"))
    groupby = spark.createDataFrame(
        [("A", 1), ("B", 1), ("C", 2), ("D", 2)], "asset string, group int"
    )
    fd = get_clean_factor(
        factor, fwd, [period_label(1)], groupby=groupby,
        quantiles=2, max_loss=None, quantize_method="ntile",
        groupby_labels={1: "tech", 2: "energy"},
    )
    got = {r["asset"]: r["group"] for r in fd.collect()}
    assert got == {"A": "tech", "B": "tech", "C": "energy", "D": "energy"}

    with pytest.raises(Exception, match="not in groupby_labels"):
        get_clean_factor(
            factor, fwd, [period_label(1)], groupby=groupby,
            quantiles=2, max_loss=None, quantize_method="ntile",
            groupby_labels={1: "tech"},  # code 2 missing
        ).collect()


# ---------------------------------------------------------------------------
# Reference quantize_factor golden matrix — literal port of all 27
# parameterized cases from reference tests/test_utils.py:122-186.
# Two fixtures (tests/test_utils.py:39-66): a 4-asset 2-date frame with
# factor [1,2,3,4]/[4,3,2,1] and group [1,1,2,2]; an 8-asset "biased"
# frame mixing signs for the zero_aware modes. Expected label vectors are
# in stacked (date, asset) order; NaN = reference drops the row, our
# engine carries a NULL label.
# ---------------------------------------------------------------------------

_QF_VALS = [[1, 2, 3, 4], [4, 3, 2, 1]]
_QF_GROUPS = ["1", "1", "2", "2"]
_QB_VALS = [[-1, 3, -2, 4, -5, 7, -6, 8], [-4, 2, -3, 1, -8, 6, -7, 5]]
_QB_GROUPS = ["1", "1", "2", "2", "1", "1", "2", "2"]
_N = None

_QUANTIZE_MATRIX = [
    # (biased?, quantiles, bins, by_group, zero_aware, expected stacked labels)
    (False, 4, _N, False, False, [1, 2, 3, 4, 4, 3, 2, 1]),
    (False, 2, _N, False, False, [1, 1, 2, 2, 2, 2, 1, 1]),
    (False, 2, _N, True, False, [1, 2, 1, 2, 2, 1, 2, 1]),
    (True, 4, _N, False, True, [2, 3, 2, 3, 1, 4, 1, 4, 2, 3, 2, 3, 1, 4, 1, 4]),
    (True, 2, _N, False, True, [1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2]),
    (True, 2, _N, True, True, [1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2]),
    (True, _N, 4, False, True, [2, 3, 2, 3, 1, 4, 1, 4, 2, 3, 2, 3, 1, 4, 1, 4]),
    (True, _N, 2, False, True, [1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2]),
    (True, _N, 2, True, True, [1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2]),
    (False, [0, .25, .5, .75, 1.], _N, False, False, [1, 2, 3, 4, 4, 3, 2, 1]),
    (False, [0, .5, .75, 1.], _N, False, False, [1, 1, 2, 3, 3, 2, 1, 1]),
    (False, [0, .25, .5, 1.], _N, False, False, [1, 2, 3, 3, 3, 3, 2, 1]),
    (False, [0, .5, 1.], _N, False, False, [1, 1, 2, 2, 2, 2, 1, 1]),
    (False, [.25, .5, .75], _N, False, False, [_N, 1, 2, _N, _N, 2, 1, _N]),
    (False, [0, .5, 1.], _N, True, False, [1, 2, 1, 2, 2, 1, 2, 1]),
    (False, [.5, 1.], _N, True, False, [_N, 1, _N, 1, 1, _N, 1, _N]),
    (False, [0, 1.], _N, True, False, [1, 1, 1, 1, 1, 1, 1, 1]),
    (False, _N, 4, False, False, [1, 2, 3, 4, 4, 3, 2, 1]),
    (False, _N, 2, False, False, [1, 1, 2, 2, 2, 2, 1, 1]),
    (False, _N, 3, False, False, [1, 1, 2, 3, 3, 2, 1, 1]),
    (False, _N, 8, False, False, [1, 3, 6, 8, 8, 6, 3, 1]),
    (False, _N, [0, 1, 2, 3, 5], False, False, [1, 2, 3, 4, 4, 3, 2, 1]),
    (False, _N, [1, 2, 3], False, False, [_N, 1, 2, _N, _N, 2, 1, _N]),
    (False, _N, [0, 2, 5], False, False, [1, 1, 2, 2, 2, 2, 1, 1]),
    (False, _N, [0.5, 2.5, 4.5], False, False, [1, 1, 2, 2, 2, 2, 1, 1]),
    (False, _N, [0.5, 2.5], True, False, [1, 1, _N, _N, _N, _N, 1, 1]),
    (False, _N, 2, True, False, [1, 2, 1, 2, 2, 1, 2, 1]),
]


@pytest.mark.parametrize("biased,quantiles,bins,by_group,zero_aware,expected",
                         _QUANTIZE_MATRIX)
def test_quantize_reference_golden_matrix(
    spark, biased, quantiles, bins, by_group, zero_aware, expected
):
    vals, grps = (_QB_VALS, _QB_GROUPS) if biased else (_QF_VALS, _QF_GROUPS)
    rows = [
        (D(d), chr(ord("A") + j), float(v), grps[j])
        for d, day in enumerate(vals)
        for j, v in enumerate(day)
    ]
    df = spark.createDataFrame(
        rows, "date timestamp, asset string, factor double, group string"
    )
    out = quantize_factor(
        df, quantiles=quantiles, bins=bins, by_group=by_group,
        zero_aware=zero_aware,
    )
    got = {(r["date"], r["asset"]): r["factor_quantile"] for r in out.collect()}
    want = {
        (D(d), chr(ord("A") + j)): expected[d * len(vals[0]) + j]
        for d in range(len(vals))
        for j in range(len(vals[0]))
    }
    assert got == want

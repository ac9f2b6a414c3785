"""Golden-value tests for the performance metrics (hand-computed expected
values following the reference test strategy, SURVEY §5 — e.g. scipy
spearmanr tie semantics, demean/normalize weight algebra, positional
turnover/autocorrelation alignment)."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from alphalens_spark import performance as perf
from alphalens_spark.calendar_ import trading_calendar

D = lambda i: dt.datetime(2020, 1, 1) + dt.timedelta(days=i)


def _fd(spark, rows, extra=""):
    """(date, asset, 1D, factor, factor_quantile) frame."""
    schema = (
        "date timestamp, asset string, `1D` double, factor double, factor_quantile int"
        + extra
    )
    return spark.createDataFrame(rows, schema)


def test_ic_perfect_and_inverse(spark):
    rows = [(D(0), a, r, f, 1) for a, f, r in
            zip("ABCD", [1.0, 2.0, 3.0, 4.0], [0.1, 0.2, 0.3, 0.4])]
    rows += [(D(1), a, r, f, 1) for a, f, r in
             zip("ABCD", [1.0, 2.0, 3.0, 4.0], [0.4, 0.3, 0.2, 0.1])]
    ic = {r["date"]: r["ic_1D"] for r in
          perf.factor_information_coefficient(_fd(spark, rows), ["1D"]).collect()}
    assert math.isclose(ic[D(0)], 1.0)
    assert math.isclose(ic[D(1)], -1.0)


def test_ic_average_tie_ranks_match_scipy(spark):
    # scipy.stats.spearmanr([1,1,2,2],[1,2,3,4]) = 0.894427...
    rows = [(D(0), a, r, f, 1) for a, f, r in
            zip("ABCD", [1.0, 1.0, 2.0, 2.0], [1.0, 2.0, 3.0, 4.0])]
    ic = perf.factor_information_coefficient(_fd(spark, rows), ["1D"]).collect()
    assert math.isclose(ic[0]["ic_1D"], 2 / math.sqrt(5), rel_tol=1e-12)


def test_factor_weights_demeaned(spark):
    rows = [(D(0), a, 0.0, f, 1) for a, f in zip("ABCD", [1.0, 2.0, 3.0, 4.0])]
    w = {r["asset"]: r["weights"] for r in
         perf.factor_weights(_fd(spark, rows)).collect()}
    assert w == {"A": -0.375, "B": -0.125, "C": 0.125, "D": 0.375}


def test_factor_weights_equal_weight(spark):
    rows = [(D(0), a, 0.0, f, 1) for a, f in zip("ABCD", [1.0, 2.0, 3.0, 4.0])]
    w = {r["asset"]: r["weights"] for r in
         perf.factor_weights(_fd(spark, rows), equal_weight=True).collect()}
    assert w == {"A": -0.25, "B": -0.25, "C": 0.25, "D": 0.25}


def test_factor_returns_golden(spark):
    rows = [(D(0), a, r, f, 1) for a, f, r in
            zip("ABCD", [1.0, 2.0, 3.0, 4.0], [0.1, 0.2, 0.3, 0.4])]
    out = perf.factor_returns(_fd(spark, rows), ["1D"]).collect()
    assert math.isclose(out[0]["ret_1D"], 0.125, rel_tol=1e-12)


def test_factor_alpha_beta_closed_form(spark):
    # universe mean return x_d; portfolio return y_d = 2·x_d + 0.01 exactly
    xs = [0.01, 0.02, 0.03, 0.04]
    rows = [(D(d), a, x, float(ord(a)), 1) for d, x in enumerate(xs) for a in "AB"]
    rets = spark.createDataFrame(
        [(D(d), 2 * x + 0.01) for d, x in enumerate(xs)],
        "date timestamp, ret_1D double",
    )
    out = perf.factor_alpha_beta(
        _fd(spark, rows), ["1D"], returns=rets, annualize=False
    ).collect()[0]
    assert math.isclose(out["beta_1D"], 2.0, rel_tol=1e-9)
    assert math.isclose(out["alpha_1D"], 0.01, rel_tol=1e-9)


def test_mean_return_by_quantile_two_level(spark):
    rows = []
    for d in range(2):
        rows += [(D(d), a, r, 0.0, q) for a, r, q in
                 zip("ABCD", [0.1, 0.2, 0.3, 0.4], [1, 1, 2, 2])]
    out = {r["factor_quantile"]: r for r in
           perf.mean_return_by_quantile(_fd(spark, rows), ["1D"], demeaned=False).collect()}
    assert math.isclose(out[1]["mean_1D"], 0.15, rel_tol=1e-12)
    assert math.isclose(out[2]["mean_1D"], 0.35, rel_tol=1e-12)
    assert out[1]["count_1D"] == 2          # two dates
    assert out[1]["std_1D"] == 0.0          # identical per-date means


def test_mean_return_spread(spark):
    rows = []
    for d in range(2):
        rows += [(D(d), a, r, 0.0, q) for a, r, q in
                 zip("ABCD", [0.1, 0.2, 0.3, 0.4], [1, 1, 2, 2])]
    by_date = perf.mean_return_by_quantile(
        _fd(spark, rows), ["1D"], by_date=True, demeaned=False
    )
    out = perf.compute_mean_returns_spread(by_date, 2, 1, ["1D"]).collect()
    assert len(out) == 2
    for r in out:
        assert math.isclose(r["spread_1D"], 0.2, rel_tol=1e-12)


def test_quantile_turnover(spark):
    # q1: {A,B} → {B,C}: one new name of two → 0.5
    rows = [(D(0), "A", 0.0, 0.0, 1), (D(0), "B", 0.0, 0.0, 1),
            (D(0), "C", 0.0, 0.0, 2), (D(0), "D", 0.0, 0.0, 2),
            (D(1), "B", 0.0, 0.0, 1), (D(1), "C", 0.0, 0.0, 1),
            (D(1), "A", 0.0, 0.0, 2), (D(1), "D", 0.0, 0.0, 2)]
    out = {(r["factor_quantile"], r["date"]): r["turnover"] for r in
           perf.quantile_turnover(_fd(spark, rows), periods=(1,)).collect()}
    assert out == {(1, D(1)): 0.5, (2, D(1)): 0.5}


def test_rank_autocorrelation_perfect(spark):
    rows = [(D(d), a, 0.0, f, 1) for d in range(3)
            for a, f in zip("ABCD", [1.0, 2.0, 3.0, 4.0])]
    out = perf.factor_rank_autocorrelation(_fd(spark, rows), 1).collect()
    assert len(out) == 2
    for r in out:
        assert math.isclose(r["autocorr"], 1.0, rel_tol=1e-12)


def test_cumulative_returns(spark):
    df = spark.createDataFrame(
        [(D(0), 0.1), (D(1), -0.5), (D(2), 0.2)], "date timestamp, r double"
    )
    out = {r["date"]: r["cum_r"] for r in perf.cumulative_returns(df, "r").collect()}
    # 1-based level, matching ep.cum_returns(starting_value=1)
    assert math.isclose(out[D(0)], 1.1, rel_tol=1e-12)
    assert math.isclose(out[D(1)], 0.55, rel_tol=1e-12)
    assert math.isclose(out[D(2)], 0.66, rel_tol=1e-12)


def test_cumulative_returns_below_minus_one_and_zero(spark):
    """Full cumprod parity beyond the r > -1 domain (ref empyrical
    (1+r).cumprod()): r < -1 flips the level's sign like pandas does,
    r == -1 pins the level (and everything after) to exactly 0.0."""
    rows = [(D(0), 1.0), (D(1), -2.5), (D(2), 0.5)]      # 2, 2*(-1.5)=-3, -4.5
    df = spark.createDataFrame(rows, "date timestamp, r double")
    out = {r["date"]: r["cum_r"] for r in perf.cumulative_returns(df, "r").collect()}
    assert math.isclose(out[D(0)], 2.0, rel_tol=1e-12)
    assert math.isclose(out[D(1)], -3.0, rel_tol=1e-12)
    assert math.isclose(out[D(2)], -4.5, rel_tol=1e-12)

    rows = [(D(0), 1.0), (D(1), -1.0), (D(2), 5.0)]      # 2, 0, 0 (hard zero)
    df = spark.createDataFrame(rows, "date timestamp, r double")
    out = {r["date"]: r["cum_r"] for r in perf.cumulative_returns(df, "r").collect()}
    assert out[D(1)] == 0.0 and out[D(2)] == 0.0


def test_average_cumulative_return_by_quantile(spark):
    prices = spark.createDataFrame(
        [(D(i), "A", float(2**i)) for i in range(5)],
        "date timestamp, asset string, price double",
    )
    fd = _fd(spark, [(D(2), "A", 0.0, 0.0, 1)])
    out = {r["offset"]: r["mean_ret"] for r in
           perf.average_cumulative_return_by_quantile(
               fd, prices, periods_before=1, periods_after=1, demeaned=False
           ).collect()}
    assert math.isclose(out[-1], -0.5)   # p1/p2 − 1
    assert out[0] == 0.0
    assert math.isclose(out[1], 1.0)     # p3/p2 − 1


def test_event_window_missing_date_not_skipped(spark):
    # asset A has no price on D3 (B keeps D3 on the calendar): A's
    # offset +1 from its D2 event is that absent slot → NULL, left out
    # of count_ret, NOT the D2→D4 return an order-by-existing-rows
    # lead would give (mirrors test_forward_returns_missing_dates_not_skipped)
    prices = spark.createDataFrame(
        [(D(i), "A", float(2**i)) for i in range(6) if i != 3]
        + [(D(i), "B", 1.0) for i in range(6)],
        "date timestamp, asset string, price double",
    )
    fd = _fd(spark, [(D(2), "A", 0.0, 0.0, 1)])
    out = {r["offset"]: (r["mean_ret"], r["count_ret"]) for r in
           perf.average_cumulative_return_by_quantile(
               fd, prices, periods_before=1, periods_after=2, demeaned=False
           ).collect()}
    assert out[1] == (None, 0)
    assert math.isclose(out[-1][0], -0.5) and out[-1][1] == 1   # p1/p2 − 1
    assert math.isclose(out[2][0], 3.0) and out[2][1] == 1      # p4/p2 − 1


def test_positions_interval_join(spark):
    weights = spark.createDataFrame(
        [(D(0), "A", 1.0), (D(1), "A", 1.0)],
        "date timestamp, asset string, weights double",
    )
    cal_src = spark.createDataFrame([(D(i),) for i in range(3)], "date timestamp")
    cal = trading_calendar(cal_src)
    out = {r["date"]: r["position"] for r in
           perf.positions(weights, period=2, calendar=cal).collect()}
    # D0 trade held D0,D1 at 1/2; D1 trade held D1,D2 at 1/2
    assert out == {D(0): 0.5, D(1): 1.0, D(2): 0.5}


def test_ic_by_group_and_group_adjust(spark):
    rows = [(D(0), a, r, f, 1, g) for a, f, r, g in
            zip("ABCD", [1.0, 2.0, 3.0, 4.0], [0.1, 0.2, 0.4, 0.3],
                ["g1", "g1", "g2", "g2"])]
    fd = _fd(spark, rows, extra=", group string")
    out = {r["group"]: r["ic_1D"] for r in
           perf.factor_information_coefficient(fd, ["1D"], by_group=True).collect()}
    assert math.isclose(out["g1"], 1.0)
    assert math.isclose(out["g2"], -1.0)


def test_mean_ic_bucketing(spark):
    rows = []
    for d in range(40):  # spans two months
        rows += [(D(d), a, r * (1 if d % 2 == 0 else -1), f, 1) for a, f, r in
                 zip("ABCD", [1.0, 2.0, 3.0, 4.0], [0.1, 0.2, 0.3, 0.4])]
    out = perf.mean_information_coefficient(
        _fd(spark, rows), ["1D"], by_time="month"
    ).collect()
    assert len(out) == 2  # Jan + Feb buckets
    for r in out:
        assert abs(r["ic_1D"]) <= 1.0


NAN = float("nan")
_GROUPS = {"A": "Group1", "B": "Group2", "C": "Group1", "D": "Group2", "E": "Group1"}

# the reference's full 8-combination factor_weights golden matrix
# (tests/test_performance.py:437-554): factor grid (rows=dates,
# cols=assets A..E, NaN cells dropped by stack()), flags
# (demeaned, group_adjust, equal_weight), expected weights in row-major
# order over the surviving cells.
_WEIGHT_CASES = [
    ([[3, 4, 2, 1, NAN], [3, 4, -2, -1, NAN], [3, NAN, NAN, 1, 4]],
     (False, False, False),
     [0.30, 0.40, 0.20, 0.10, 0.30, 0.40, -0.20, -0.10, 0.375, 0.125, 0.50]),
    ([[3, 4, 2, 1, NAN], [3, 4, -2, -1, NAN], [3, NAN, NAN, 1, 4]],
     (True, False, False),
     [0.125, 0.375, -0.125, -0.375, 0.20, 0.30, -0.30, -0.20, 0.10, -0.50, 0.40]),
    ([[3, 4, 2, 1, NAN], [-3, 4, -2, 1, NAN], [2, 2, 2, 3, 1]],
     (False, True, False),
     [0.30, 0.40, 0.20, 0.10, -0.30, 0.40, -0.20, 0.10, 0.20, 0.20, 0.20, 0.30, 0.10]),
    ([[3, 4, 2, 1, NAN], [3, 4, -2, -1, NAN], [3, NAN, NAN, 1, 4]],
     (True, True, False),
     [0.25, 0.25, -0.25, -0.25, 0.25, 0.25, -0.25, -0.25, -0.50, NAN, 0.50]),
    ([[3, 4, 2, 1, 5], [3, 4, -2, -1, 5], [3, NAN, NAN, 1, NAN]],
     (False, False, True),
     [0.20, 0.20, 0.20, 0.20, 0.20, 0.20, 0.20, -0.20, -0.20, 0.20, 0.50, 0.50]),
    ([[1, 4, 2, 3, NAN], [1, 4, -2, -3, NAN], [3, NAN, NAN, 2, 7]],
     (True, False, True),
     [-0.25, 0.25, -0.25, 0.25, 0.25, 0.25, -0.25, -0.25, 0.0, -0.50, 0.50]),
    ([[3, 4, 2, 1, NAN], [-3, 4, -2, 1, NAN], [3, NAN, NAN, 1, 4],
      [3, NAN, NAN, -1, 4], [3, NAN, NAN, 1, -4]],
     (False, True, True),
     [0.25, 0.25, 0.25, 0.25, -0.25, 0.25, -0.25, 0.25,
      0.25, 0.50, 0.25, 0.25, -0.50, 0.25, 0.25, 0.50, -0.25]),
    ([[1, 4, 2, 3, NAN], [3, 4, -2, -1, NAN], [3, NAN, NAN, 2, 7],
      [3, NAN, NAN, 2, -7]],
     (True, True, True),
     [-0.25, 0.25, 0.25, -0.25, 0.25, 0.25, -0.25, -0.25,
      -0.50, NAN, 0.50, 0.50, NAN, -0.50]),
]


@pytest.mark.parametrize("grid,flags,expected", _WEIGHT_CASES)
def test_factor_weights_reference_golden_matrix(spark, grid, flags, expected):
    demeaned, group_adjust, equal_weight = flags
    assets = ["A", "B", "C", "D", "E"]
    rows = [
        (D(i), a, float(v), _GROUPS[a])
        for i, vals in enumerate(grid)
        for a, v in zip(assets, vals)
        if not math.isnan(v)
    ]
    fd = spark.createDataFrame(
        rows, "date timestamp, asset string, factor double, group string"
    )
    got = {
        (r["date"], r["asset"]): r["weights"]
        for r in perf.factor_weights(fd, demeaned, group_adjust, equal_weight).collect()
    }
    keys = [(D(i), a) for i, vals in enumerate(grid)
            for a, v in zip(assets, vals) if not math.isnan(v)]
    for key, exp in zip(keys, expected):
        act = got[key]
        if math.isnan(exp):
            assert act is None or math.isnan(act), (key, act)
        else:
            assert act is not None and abs(act - exp) < 1e-9, (key, act, exp)


def test_avg_cumulative_return_reference_case3_normalized(spark):
    """Reference golden (tests/test_performance.py:898-907, the
    (3,0,False,4) case): geometric levels r**i per asset, events on 6
    dates, window [-3, 0] — normalized path p[o]/p[0]-1 is constant
    across events, so mean hits the golden exactly and std is 0."""
    ratios = {"A": 1.25, "B": 1.5, "C": 1.0, "D": 0.5}
    prices = spark.createDataFrame(
        [(D(i), a, float(r ** (i + 1))) for i in range(18) for a, r in ratios.items()],
        "date timestamp, asset string, price double",
    )
    # events: dates 6..11, quantile by factor [3,4,2,1] → D=1, C=2, A=3, B=4
    quant = {"A": 3, "B": 4, "C": 2, "D": 1}
    fd = spark.createDataFrame(
        [(D(i), a, q) for i in range(6, 12) for a, q in quant.items()],
        "date timestamp, asset string, factor_quantile int",
    )
    got = {
        (r["factor_quantile"], r["offset"]): (r["mean_ret"], r["std_ret"])
        for r in perf.average_cumulative_return_by_quantile(
            fd, prices, 3, 0, demeaned=False, by_date_mean=True
        ).collect()
    }
    expected = {
        1: [7.0, 3.0, 1.0, 0.0],            # D: 0.5**-o - 1
        2: [0.0, 0.0, 0.0, 0.0],            # C: flat
        3: [-0.488, -0.36, -0.2, 0.0],      # A: 1.25**o - 1
        4: [-0.703704, -0.555556, -0.333333, 0.0],  # B: 1.5**o - 1
    }
    for q, row in expected.items():
        for off, exp in zip(range(-3, 1), row):
            mean, std = got[(q, off)]
            assert abs(mean - exp) < 1e-5, (q, off, mean, exp)
            assert std == 0.0 or std is None or abs(std) < 1e-12


def test_quantile_turnover_reference_multi_period_bday(spark):
    """Reference golden (tests/test_performance.py:265-435): alternating
    factor ranks over a business-day calendar with a weekend hole —
    positional day_idx alignment makes '1B' and '1D' calendars identical,
    which the reference needed special freq handling for. Periods 1/2/3,
    top quantile: membership D,A,D,D →
    p=1: [1, 1, 0], p=2: [0, 1], p=3: [0]."""
    # Thu Jan 2, Fri Jan 3, (weekend), Mon Jan 6, Tue Jan 7 2020
    bdays = [dt.datetime(2020, 1, d) for d in (2, 3, 6, 7)]
    grids = [[1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0],
             [1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]]
    rows = [
        (bdays[i], a, 0.0, v, int(v))  # 4 quantiles = rank itself
        for i, vals in enumerate(grids)
        for a, v in zip("ABCD", vals)
    ]
    fd = _fd(spark, rows)
    for period, expected in [
        ((1,), {bdays[1]: 1.0, bdays[2]: 1.0, bdays[3]: 0.0}),
        ((2,), {bdays[2]: 0.0, bdays[3]: 1.0}),
        ((3,), {bdays[3]: 0.0}),
    ]:
        got = {
            r["date"]: r["turnover"]
            for r in perf.quantile_turnover(fd, periods=period)
            .where(F.col("factor_quantile") == 4)
            .collect()
        }
        assert got == expected, (period, got)


def test_rank_autocorrelation_reference_period3_golden(spark):
    """Reference golden (tests/test_performance.py:694-773, the 12-date
    period-3 case): permuted rank grids over a business calendar; expected
    autocorr [1, 1, 1, 0.6, -0.6, -1, 1, -0.6, -1] from date 4 on."""
    grids = [[1.0, 2.0, 3.0, 4.0], [2.0, 1.0, 4.0, 3.0], [4.0, 3.0, 2.0, 1.0],
             [1.0, 2.0, 3.0, 4.0], [2.0, 1.0, 4.0, 3.0], [4.0, 3.0, 2.0, 1.0],
             [2.0, 1.0, 4.0, 3.0], [4.0, 3.0, 2.0, 1.0], [1.0, 2.0, 3.0, 4.0],
             [2.0, 1.0, 4.0, 3.0], [2.0, 1.0, 4.0, 3.0], [4.0, 3.0, 2.0, 1.0]]
    # business days: Jan 2,3 then Mon-Fri weeks of Jan 2020
    bd = [dt.datetime(2020, 1, d) for d in (2, 3, 6, 7, 8, 9, 10, 13, 14, 15, 16, 17)]
    rows = [(bd[i], a, 0.0, v, 1) for i, vals in enumerate(grids)
            for a, v in zip("ABCD", vals)]
    got = {r["date"]: r["autocorr"] for r in
           perf.factor_rank_autocorrelation(_fd(spark, rows), 3).collect()}
    expected = [1.0, 1.0, 1.0, 0.6, -0.6, -1.0, 1.0, -0.6, -1.0]
    assert len(got) == 9
    for d, exp in zip(bd[3:], expected):
        assert abs(got[d] - exp) < 1e-9, (d, got[d], exp)


def test_cumulative_returns_reference_golden(spark):
    """Reference golden (tests/test_performance.py:615-692): identical
    values across Day/BDay/CustomBDay calendars — positional compounding,
    so the calendar never enters; [1,.5,1,.5,.5] → [2,3,6,9,13.5]."""
    rets = [1.0, 0.5, 1.0, 0.5, 0.5]
    expected = [2.0, 3.0, 6.0, 9.0, 13.5]
    # business-day calendar with a weekend hole (Jan 2,3,6,7,8 2020)
    days = [dt.datetime(2020, 1, d) for d in (2, 3, 6, 7, 8)]
    df = spark.createDataFrame(list(zip(days, rets)), "date timestamp, r double")
    out = {r["date"]: r["cum_r"] for r in perf.cumulative_returns(df, "r").collect()}
    for d, exp in zip(days, expected):
        assert math.isclose(out[d], exp, rel_tol=1e-12)


def test_ic_reference_four_case_golden(spark):
    """Reference golden (tests/test_performance.py:66-107): factor
    [1,2,3,4] per date over two group halves; the four
    (group_adjust, by_group) combinations all give IC ±1."""
    # factor 1..4 on assets A..D; groups: A,B -> 1, C,D -> 2
    grp = {"A": "1", "B": "1", "C": "2", "D": "2"}
    def fd_with_returns(ret_pattern):
        rows = [
            (D(d), a, float(ret_pattern[i]), float(i + 1), i + 1, grp[a])
            for d in range(2)
            for i, a in enumerate("ABCD")
        ]
        return spark.createDataFrame(
            rows,
            "date timestamp, asset string, `1D` double, factor double,"
            " factor_quantile int, group string",
        )

    # inverse returns → IC -1; aligned returns → IC +1
    inv = fd_with_returns([4, 3, 2, 1])
    got = perf.factor_information_coefficient(inv, ["1D"]).collect()
    assert all(abs(r["ic_1D"] + 1.0) < 1e-12 for r in got) and len(got) == 2

    aligned = fd_with_returns([1, 2, 3, 4])
    got = perf.factor_information_coefficient(aligned, ["1D"]).collect()
    assert all(abs(r["ic_1D"] - 1.0) < 1e-12 for r in got)

    # by_group: within each group the 2-point rank corr is still 1
    got = perf.factor_information_coefficient(aligned, ["1D"], by_group=True).collect()
    assert len(got) == 4 and all(abs(r["ic_1D"] - 1.0) < 1e-12 for r in got)

    # group_adjust + by_group: demeaning within group preserves order
    got = perf.factor_information_coefficient(
        aligned, ["1D"], group_adjust=True, by_group=True
    ).collect()
    assert len(got) == 4 and all(abs(r["ic_1D"] - 1.0) < 1e-12 for r in got)


CSR_GOLDEN = [
    # (before, after, mean_by_date, demeaned, [[mean, std] per offset])
    (
        2, 3, False, False,
        [[4.93048307, 8.68843922], [6.60404312, 12.22369139],
         [8.92068367, 17.1794088], [12.1275523, 24.12861778],
         [16.5694159, 33.8740100], [22.7273233, 47.53995233]],
    ),
    (
        3, 2, False, True,
        [[0.0, 5.63219176], [0.0, 7.96515233],
         [0.0, 11.2420646], [0.0, 15.8458720],
         [0.0, 22.3134160], [0.0, 31.3970961]],
    ),
    (
        3, 5, True, False,
        [[3.7228318, 2.6210478], [4.9304831, 3.6296796],
         [6.6040431, 5.0193734], [8.9206837, 6.9404046],
         [12.127552, 9.6023405], [16.569416, 13.297652],
         [22.727323, 18.434747], [31.272682, 25.584180],
         [34.358565, 25.497254]],
    ),
    (
        1, 4, True, True,
        [[0.0, 0.0], [0.0, 0.0], [0.0, 0.0],
         [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]],
    ),
    (
        6, 6, False, False,
        [[2.02679565, 2.38468223], [2.38769454, 3.22602748],
         [2.85413029, 4.36044469], [3.72283181, 6.16462715],
         [4.93048307, 8.68843922], [6.60404312, 12.2236914],
         [8.92068367, 17.1794088], [12.1275523, 24.1286178],
         [16.5694159, 33.8740100], [22.7273233, 47.5399523],
         [31.2726821, 66.7013483], [34.3585654, 70.1828776],
         [37.9964585, 74.3294620]],
    ),
    (
        6, 6, False, True,
        [[0.0, 2.20770299], [0.0, 2.95942924], [0.0, 3.97022414],
         [0.0, 5.63219176], [0.0, 7.96515233], [0.0, 11.2420646],
         [0.0, 15.8458720], [0.0, 22.3134160], [0.0, 31.3970962],
         [0.0, 44.1512888], [0.0, 62.0533954], [0.0, 65.8668371],
         [0.0, 70.4306483]],
    ),
    (
        6, 6, True, False,
        [[2.0267957, 0.9562173], [2.3876945, 1.3511898],
         [2.8541303, 1.8856194], [3.7228318, 2.6210478],
         [4.9304831, 3.6296796], [6.6040431, 5.0193734],
         [8.9206837, 6.9404046], [12.127552, 9.6023405],
         [16.569416, 13.297652], [22.727323, 18.434747],
         [31.272682, 25.584180], [34.358565, 25.497254],
         [37.996459, 25.198051]],
    ),
    (
        6, 6, True, True,
        [[0.0, 0.0]] * 13,
    ),
]


@pytest.mark.parametrize("before,after,mean_by_date,demeaned,expected", CSR_GOLDEN)
def test_common_start_returns_reference_golden(
    spark, before, after, mean_by_date, demeaned, expected
):
    """The reference's full common_start_returns golden matrix
    (tests/test_performance.py:775-870): cumulative levels r**i for four
    assets, events on the middle 9 dates, raw (normalize=False) window
    slices — per-offset mean/std across all window series must reproduce
    the hand-recorded values, including the boundary-clamped windows at
    the edges of the price axis."""
    base = dt.datetime(2015, 1, 17)
    rates = {"A": 1.20, "B": 1.40, "C": 0.90, "D": 0.80}
    prices = spark.createDataFrame(
        [(base + dt.timedelta(days=i), a, float(r ** (i + 1)))
         for i in range(17) for a, r in rates.items()],
        "date timestamp, asset string, price double",
    )
    events = spark.createDataFrame(
        [(base + dt.timedelta(days=4 + i), a) for i in range(9) for a in "ABCD"],
        "date timestamp, asset string",
    )
    got = (
        perf.common_start_returns(
            events, prices, before, after,
            mean_by_date=mean_by_date,
            demean_by=events if demeaned else None,
            normalize=False,
        )
        .groupBy("offset")
        .agg(F.avg("cum_ret").alias("m"), F.stddev_samp("cum_ret").alias("s"))
        .collect()
    )
    got = {r["offset"]: (r["m"], r["s"]) for r in got}
    offsets = list(range(-before, after + 1))
    assert set(got) == set(offsets)
    for o, (em, es) in zip(offsets, expected):
        m, s = got[o]
        assert math.isclose(m, em, rel_tol=1e-6, abs_tol=1e-7), (o, m, em)
        assert math.isclose(s, es, rel_tol=1e-6, abs_tol=1e-7), (o, s, es)


def test_common_start_returns_mean_by_date_and_demean(spark):
    """mean_by_date collapses to per-(event date, offset) means;
    demean_by subtracts the universe's mean path (a self-demean must be
    identically zero)."""
    ratios = {"A": 1.25, "B": 0.8}
    prices = spark.createDataFrame(
        [(D(i), a, float(r ** i)) for i in range(8) for a, r in ratios.items()],
        "date timestamp, asset string, price double",
    )
    events = spark.createDataFrame(
        [(D(3), "A"), (D(3), "B")], "date timestamp, asset string"
    )
    md = perf.common_start_returns(events, prices, 1, 1, mean_by_date=True)
    got = {r["offset"]: r["cum_ret"] for r in md.collect()}
    # mean over A,B of r**o - 1 at each offset
    for o in (-1, 0, 1):
        exp = (1.25 ** o - 1 + 0.8 ** o - 1) / 2
        assert abs(got[o] - exp) < 1e-12

    self_demeaned = perf.common_start_returns(
        events, prices, 1, 1, demean_by=events, mean_by_date=True
    )
    assert all(abs(r["cum_ret"]) < 1e-12 for r in self_demeaned.collect())


def test_ewma_matches_pandas(spark):
    """performance.ewma == pandas ewm(span, adjust=False).mean() per
    group, bit-for-bit (same multiply-add recurrence), including a
    group with a single observation and NULL exclusion."""
    import numpy as np
    import pandas as pd

    from alphalens_spark import performance as perf

    rng = np.random.RandomState(7)
    rows = []
    for a in ["x", "y", "z"]:
        n = {"x": 25, "y": 1, "z": 10}[a]
        for i in range(n):
            v = float(rng.randn()) if not (a == "z" and i == 3) else None
            rows.append((a, i, v))
    df = spark.createDataFrame(rows, "asset string, t int, v double")
    got = {
        (r["asset"], r["t"]): r["ewma"]
        for r in perf.ewma(df, "v", order_col="t", by="asset", span=10.0)
        .collect()
    }
    pdf = pd.DataFrame(rows, columns=["asset", "t", "v"]).dropna(subset=["v"])
    for a, g in pdf.groupby("asset"):
        want = g["v"].ewm(span=10.0, adjust=False).mean()
        for t, w in zip(g["t"], want):
            assert got[(a, t)] == w, (a, t)
    assert ("z", 3) not in got  # NULL excluded


def test_holt_linear_matches_reference(spark):
    """performance.holt_linear == the pure-Python Holt recurrence per
    group, bit-for-bit (pinned multiply-add order), including a
    single-observation group (level = x, trend = 0) and NULL
    exclusion."""
    import numpy as np

    from alphalens_spark import performance as perf

    rng = np.random.RandomState(11)
    rows = []
    for a in ["x", "y", "z"]:
        n = {"x": 25, "y": 1, "z": 10}[a]
        for i in range(n):
            v = float(rng.randn()) if not (a == "z" and i == 3) else None
            rows.append((a, i, v))
    df = spark.createDataFrame(rows, "asset string, t int, v double")
    alpha, beta = 0.5, 0.3
    got = {
        (r["asset"], r["t"]): (r["level"], r["trend"])
        for r in perf.holt_linear(
            df, "v", order_col="t", by="asset", alpha=alpha, beta=beta
        ).collect()
    }
    for a in ["x", "y", "z"]:
        series = [
            (t, v) for (aa, t, v) in rows if aa == a and v is not None
        ]
        level = trend = None
        for t, v in series:
            if level is None:
                level, trend = v, 0.0
            else:
                new_l = v * alpha + (level + trend) * (1.0 - alpha)
                trend = (
                    v * alpha + (level + trend) * (1.0 - alpha) - level
                ) * beta + trend * (1.0 - beta)
                level = new_l
            assert got[(a, t)] == (level, trend), (a, t)
    assert ("z", 3) not in got  # NULL excluded

"""One lookup for "the value k trading periods away":
:func:`alphalens_spark.calendar_.at_offset`.

Forward returns, event windows, quantile turnover and rank
autocorrelation all read an asset's value at calendar slot
``day_idx + k`` through that helper. These tests pin that there is no
second way to write it in the metric modules, that the lookup keeps plan
construction cheap in Py4J round trips, and that the signal-decay profile
builds without a job or a ``day_idx`` join."""

import ast
import datetime as dt
import gc
import pathlib
import re
from contextlib import contextmanager

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from alphalens_spark import calendar_
from alphalens_spark import performance as perf
from alphalens_spark import utils

PKG = pathlib.Path(__file__).resolve().parent.parent / "alphalens_spark"
# lead/lag windows, CASE-ladder column names, and hand-written frames
SECOND_LOOKUP = re.compile(
    r"\b(lead|lag)\(|\"_(ld|lp|bd|bp)\d*|_(ld|lp|bd|bp)\{|rangeBetween|RANGE BETWEEN"
)
PY4J_CEILINGS = {
    "forward_returns_1_5_10": 1_000,
    "event_window_10_15": 4_500,
}


def _D(i: int) -> dt.datetime:
    return dt.datetime(2020, 1, 1) + dt.timedelta(days=i)


@pytest.fixture(scope="module")
def prices(spark):
    rows = [(_D(d), f"A{a}", 100.0 + d * (a + 1) % 13) for d in range(40) for a in range(6)]
    return spark.createDataFrame(rows, "date timestamp, asset string, price double")


@pytest.fixture(scope="module")
def fd(prices):
    factor = prices.select("date", "asset", (F.col("price") % 5).alias("factor"))
    return utils.get_clean_factor_and_forward_returns(
        factor, prices, periods=(1, 5), quantiles=2,
        filter_zscore=None, max_loss=None, quantize_method="ntile",
    ).persist()


def test_metric_modules_have_no_second_calendar_lookup():
    """utils.py and performance.py read "k periods away" only through
    at_offset: no lead/lag window, no CASE-ladder column, no frame of
    their own. The one RANGE frame lives in calendar_.at_offset."""
    for name in ("utils.py", "performance.py"):
        text = (PKG / name).read_text()
        hits = [
            f"{name}:{i}: {line.strip()}"
            for i, line in enumerate(text.splitlines(), 1)
            if SECOND_LOOKUP.search(line)
        ]
        assert hits == []
    tree = ast.parse((PKG / "calendar_.py").read_text())
    helper = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "at_offset"
    )
    lines = (PKG / "calendar_.py").read_text().splitlines()
    frames = [i for i, line in enumerate(lines, 1) if "RANGE BETWEEN" in line]
    assert frames and all(helper.lineno <= i <= helper.end_lineno for i in frames)


@contextmanager
def _py4j_calls():
    """Count Py4J round trips inside the block (the same
    ``send_command`` wrapper the benchmark's tracer installs). Garbage
    left by earlier code is collected first: a collection that fires
    inside the block sends one memory-release command per freed Java
    proxy, which is not plan construction."""
    gc.collect()
    count = [0]
    original = ClientServerConnection.send_command

    def send_command(conn, command, *args, **kwargs):
        count[0] += 1
        return original(conn, command, *args, **kwargs)

    ClientServerConnection.send_command = send_command
    try:
        yield count
    finally:
        ClientServerConnection.send_command = original


@pytest.mark.parametrize("name", sorted(PY4J_CEILINGS))
def test_plan_construction_py4j_ceiling(prices, fd, name):
    build = {
        "forward_returns_1_5_10": lambda: utils.compute_forward_returns(prices, (1, 5, 10)),
        "event_window_10_15": lambda: perf.average_cumulative_return_by_quantile(
            fd, prices, 10, 15
        ),
    }[name]
    build()  # warm the Python-side JVM member caches
    with _py4j_calls() as count:
        build()
    assert count[0] <= PY4J_CEILINGS[name], (name, count[0])


def test_at_offset_null_on_absent_slot(spark):
    """The value at day_idx + k of the same asset, NULL when that slot
    has no row: a gap is not skipped over."""
    df = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 2, 20.0), ("A", 4, 40.0), ("B", 3, 3.0)],
        "asset string, day_idx int, x double",
    )
    out = {
        (r["asset"], r["day_idx"]): (r["p1"], r["m2"], r["z"])
        for r in df.select(
            "asset", "day_idx",
            calendar_.at_offset("x", 1).alias("p1"),
            calendar_.at_offset("x", -2).alias("m2"),
            calendar_.at_offset("x", 0).alias("z"),
        ).collect()
    }
    assert out == {
        ("A", 1): (20.0, None, 10.0),
        ("A", 2): (None, None, 20.0),
        ("A", 4): (None, 20.0, 40.0),
        ("B", 3): (None, None, 3.0),
    }


def test_rank_autocorr_profile_builds_without_job_or_day_idx_join(spark, fd):
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup("profile_build", "profile_build")
    try:
        out = perf.rank_autocorr_profile(fd, (1, 2, 5))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("profile_build")
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    assert list(jobs) == []  # no checkpoint at construction
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert joins and not [line for line in joins if "day_idx" in line], joins
    # the profile and the one-lag metric share one kernel: each lag's
    # profile row is the mean of that lag's per-date autocorrelations
    got = {r["period"]: (r["mean_autocorr"], r["n_dates"]) for r in out.collect()}
    for p in (1, 2, 5):
        per_date = [
            r["autocorr"] for r in perf.factor_rank_autocorrelation(fd, p).collect()
            if r["autocorr"] is not None
        ]
        assert got[p][1] == len(per_date) > 0
        assert got[p][0] == pytest.approx(sum(per_date) / len(per_date), abs=1e-6)

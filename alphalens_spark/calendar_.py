"""Trading-calendar dimension table.

The reference stores the trading calendar as a pandas CustomBusinessDay
offset on the MultiIndex (reference utils.py:173-213 infer_trading_calendar;
utils.py:340 attaches it; utils.py:971-1039 does offset arithmetic with it).
Spark DataFrames carry no index metadata, so the calendar becomes a proper
**dimension table** ``(date, day_idx)`` where ``day_idx`` densely numbers
the distinct trading timestamps in order. Every row-positional operation in
the reference (``shift``, ``pct_change(periods=k)``) becomes integer
arithmetic on ``day_idx``, and "this asset's value k trading periods
away" is one lookup, :func:`at_offset`: a RANGE frame ``[k, k]`` over the
asset's ``day_idx`` order, NULL when the asset has no row at that slot.

The table is tiny (one row per distinct timestamp: thousands of rows even
for decades of intraday data), so it is always broadcast; attaching
``day_idx`` to a fact table is a map-side broadcast-hash join — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DAY_IDX = "day_idx"


def trading_calendar(df: DataFrame, date_col: str = "date") -> DataFrame:
    """Build the calendar dim table from observed timestamps.

    Returns a DataFrame ``(date, day_idx int)`` with day_idx = 1..N in
    timestamp order. Replaces reference infer_trading_calendar
    (utils.py:173-213): instead of materializing a CustomBusinessDay freq,
    downstream ops consume day_idx directly, which makes holidays /
    business-day / intraday calendars all fall out of the same design.

    Plan: ``array_sort(collect_set(date))`` → ``posexplode``. The
    aggregate dedups AND orders in one pass with map-side partials, so no
    all-rows-to-one-partition window runs (WindowExec would warn) — the
    only single-point state is the final array of distinct dates, a few
    thousand elements at any scale. day_idx = pos+1 matches row_number
    over the date order (the oracle's CAL_CTE) exactly.
    """
    dates_arr = df.select(F.col(date_col).alias("date")).agg(
        F.array_sort(F.collect_set("date")).alias("_ds")
    )
    return dates_arr.select(F.posexplode("_ds").alias("_pos", "date")).select(
        "date", (F.col("_pos") + 1).cast("int").alias(DAY_IDX)
    )


def with_day_idx(df: DataFrame, cal: DataFrame, date_col: str = "date") -> DataFrame:
    """Attach day_idx via a broadcast join on the calendar dim."""
    return df.join(
        F.broadcast(cal.withColumnRenamed("date", date_col)), on=date_col, how="inner"
    )


def at_offset(col: str, k: int) -> Column:
    """Column ``col`` at calendar slot ``day_idx + k`` of the same asset;
    NULL when the asset has no row there (a missing observation is NOT
    skipped, as in the reference's wide-frame ``shift``).

    ``last(col)`` over a RANGE frame ``[k, k]`` on the asset's
    ``day_idx`` order: given one row per (asset, day_idx), the frame
    holds at most the row of that slot. All lookups of one select share
    the asset exchange and sort, whatever their offsets, and each is one
    sliding frame, so a window of w offsets costs w frames (a lead/lag
    CASE ladder costs O(w²) branches). Built as one parsed SQL string:
    3 Py4J calls, against 38 for the same window through the Column
    API, with the identical analyzed plan.
    """
    b = "CURRENT ROW" if k == 0 else f"{abs(k)} {'FOLLOWING' if k > 0 else 'PRECEDING'}"
    return F.expr(
        f"last(`{col}`) OVER (PARTITION BY asset ORDER BY {DAY_IDX} "
        f"RANGE BETWEEN {b} AND {b})"
    )


def add_trading_periods(
    df: DataFrame, n: int, cal: DataFrame, date_col: str = "date"
) -> DataFrame:
    """Shift each row's date by N trading periods on the calendar.

    Replaces reference add_custom_calendar_timedelta (utils.py:971-991):
    two broadcast joins (date→day_idx, day_idx+n→date); rows shifted past
    the calendar edge drop (the reference would raise past its range).
    Output: original columns with ``date`` replaced by the shifted date.
    """
    others = [c for c in df.columns if c != date_col]
    shifted = with_day_idx(df, cal, date_col).withColumn(
        DAY_IDX, F.col(DAY_IDX) + F.lit(n)
    )
    return (
        shifted.drop(date_col)
        .join(F.broadcast(cal.withColumnRenamed("date", date_col)), DAY_IDX)
        .select(date_col, *others)
    )


def diff_trading_periods(
    cal: DataFrame, start_col: F.Column, end_col: F.Column
) -> F.Column:
    """Number of trading periods between two date columns — meant to be
    used after joining day_idx for both sides; the reference's
    diff_custom_calendar_timedeltas (utils.py:994-1039) becomes plain
    integer subtraction of day_idx values. Provided for API parity; the
    idiomatic form is ``end.day_idx - start.day_idx``."""
    return end_col - start_col


def infer_holidays(cal_dates: DataFrame, date_col: str = "date") -> DataFrame:
    """Weekday gaps in the observed calendar = holidays.

    Mirrors reference utils.py:196-210: generate the full daily range
    between min and max observed date, keep weekdays whose day-of-week is
    ever observed, anti-join the observed dates. Returns (holiday date).
    """
    # persist: the date-dimension frame feeds the observed day-of-weeks,
    # the min/max bounds AND the final anti-join — unpersisted, each
    # consumer re-planned the full fact scan + distinct (three fact
    # scans for a |dates|-row frame; guide §5)
    days = cal_dates.select(F.to_date(date_col).alias("d")).distinct().persist()
    observed_dows = days.select(F.dayofweek("d").alias("dow")).distinct()
    bounds = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    full = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).join(F.broadcast(observed_dows), F.dayofweek("d") == F.col("dow"), "left_semi")
    return full.join(days, "d", "left_anti").select(F.col("d").alias("holiday"))

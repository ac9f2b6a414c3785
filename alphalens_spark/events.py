"""Event-stream analytics operators (batch forms).

The reference is a factor library; a production deployment of it sits
next to an event stream (signups, orders, clicks) that feeds the factor
pipeline, so the engine carries the standard event-analytics operators
as first-class API: gap sessionization, ordered funnels, cohort
retention, rolling distinct actives, as-of alignment
(:mod:`alphalens_spark.joins`), and the streaming twins in
:mod:`alphalens_spark.streaming`.

Every operator here is a fixed number of linear, key-partitioned
shuffles — no driver loops, no per-user collect, no all-pairs joins —
and each has a DuckDB value oracle via the driver queries in
:mod:`alphalens_spark.entry_queries`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark.performance import _explode_series, _ordered_series
from alphalens_spark.session import checkpoint


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Gap-based sessions per user: lag window → boundary flag → running
    sum = session id → per-session stats. Interval comparison only
    (TIMESTAMP and TIMESTAMP_NTZ both valid under ANSI). One shuffle on
    the user key. Output: (user, session_id, n_events, session_start,
    session_end)."""
    wu = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    gap = F.col(ts_col) - F.lag(ts_col).over(wu)
    new_s = F.when(gap > F.expr(f"INTERVAL {gap_minutes} MINUTES"), 1).otherwise(0)
    s = events.withColumn("_new", new_s).withColumn(
        "session_id", F.sum("_new").over(wu).cast("long")
    )
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def funnel(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_hours: float | None = None,
) -> DataFrame:
    """Ordered conversion funnel: stage k's time is the MIN event time
    strictly after stage k-1's — and, with ``within_hours``, no later
    than that many hours after it (the Amplitude-style conversion
    window: a purchase a month after the click is not a funnel
    conversion). ONE conditional aggregation over one scan: stage 0 is a
    plain conditional min; every later stage collects that user's sorted
    event times once, and "min time strictly after t_prev (and inside
    the window)" is the first surviving element of the sorted array — a
    row-local filter, so the former per-stage rescan+rejoin chain
    (N scans, N shuffles, N−1 joins) collapses to one user-keyed
    exchange (guide §2.4; §5 — the per-user time lists are bounded by
    that user's event count, the same bound the join form shuffled).
    Output: (user, t_<stage>..., stage int = how far the user got)."""
    if not stages:
        raise ValueError("at least one stage required")
    aggs = [
        F.min(F.when(F.col(type_col) == stages[0], F.col(ts_col))).alias(
            f"t_{stages[0]}"
        )
    ] + [
        F.sort_array(
            F.collect_list(F.when(F.col(type_col) == s, F.col(ts_col)))
        ).alias(f"_ts_{s}")
        for s in stages[1:]
    ]
    acc = events.groupBy(user_col).agg(*aggs)
    def _after(lo: Column, hi: Column | None):
        if hi is None:
            return lambda x: x > lo
        return lambda x: (x > lo) & (x <= hi)

    for prev, cur in zip(stages, stages[1:]):
        t_prev = F.col(f"t_{prev}")
        hi = (
            None
            if within_hours is None
            else t_prev + F.expr(f"INTERVAL {int(within_hours * 3600)} SECONDS")
        )
        cond = _after(t_prev, hi)
        # F.get (not element_at): NULL on the empty array under ANSI mode
        acc = acc.withColumn(
            f"t_{cur}", F.get(F.filter(F.col(f"_ts_{cur}"), cond), 0)
        )
    acc = acc.drop(*[f"_ts_{s}" for s in stages[1:]])
    stage = F.lit(0)
    for i, s in enumerate(stages):
        stage = F.when(F.col(f"t_{s}").isNotNull(), i + 1).otherwise(stage)
    return acc.select(
        user_col, *[f"t_{s}" for s in stages], stage.cast("int").alias("stage")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "week",
) -> DataFrame:
    """Cohort = the user's first-ever active period; retention = distinct
    actives per (cohort, periods since) over cohort size. ONE scan: the
    per-user aggregation carries the cohort (min period) AND the distinct
    active-period set in the same user-keyed exchange, so the former
    second scan + distinct shuffle + cohort join disappear (guide §2.4;
    the per-user set is bounded by the number of periods, the same bound
    the distinct shuffled). The user-dimension frame is checkpointed:
    the cohort sizes and the exploded actives both read it (guide §5).
    Output: (cohort_week, weeks_since, n_active, n_cohort, retention)."""
    per = F.date_trunc(grain, ts_col).cast("date")
    days = {"week": 7, "day": 1}[grain]
    peru = checkpoint(
        events.groupBy(user_col)
        .agg(F.min(per).alias("cohort_week"), F.collect_set(per).alias("_weeks"))
    )
    sizes = peru.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    ret = (
        peru.select("cohort_week", F.explode("_weeks").alias("week"))
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / days).cast("int").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling N-day distinct actives per day. Sliding DISTINCT cannot
    ride a window frame; the scalable shape is dedupe to (user, day),
    explode each day to the N window-ends it contributes to (fixed xN
    fan-out), one countDistinct shuffle. Output: (win_end, n_active)."""
    active = events.select(user_col, F.to_date(ts_col).alias("d")).distinct()
    fan = active.select(
        user_col,
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("win_end"),
    )
    return fan.groupBy("win_end").agg(
        F.countDistinct(user_col).alias(f"n_active_{window_days}d")
    )


def rolling_active_users_kmv(
    events: DataFrame,
    window_days: int = 7,
    k: int = 64,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Approximate rolling N-day distinct actives from mergeable KMV
    sketches — the 100 TB path for :func:`rolling_active_users`: the
    exact form fans every (user, day) row out ×N into a countDistinct
    shuffle (N× the full active set in flight), while here only the
    per-day BOTTOM-K user hashes (≤ k·N rows per window, bytes not
    users) fan out, because the bottom-k of a union of KMV sketches is
    the KMV sketch of the union. Deterministic (60-bit md5 prefix
    hashes, Bar-Yossef et al. 2002 estimator, the kmv_distinct
    conventions), so the estimate value-oracles in SQL. Windows with
    fewer than k distinct hashes report their exact count — accuracy
    degrades (±~1/√k) only where exact counting would hurt.

    Scale shape: one (day, hash) distinct shuffle of the raw events,
    a per-day bottom-k sort window, then everything downstream is
    sketch-sized. Output: (win_end, n_mins, est_active_{N}d) — same
    win_end fan-out semantics as the exact form.
    """
    from pyspark.sql import Window

    from alphalens_spark.scale.dedup import md5_long

    h = md5_long(F.col(user_col).cast("string"), 15)
    dh = events.select(F.to_date(ts_col).alias("d"), h.alias("_h")).distinct()
    wd = Window.partitionBy("d").orderBy("_h")
    daily = (
        dh.withColumn("_rn", F.row_number().over(wd))
        .where(F.col("_rn") <= k)
        .select("d", "_h")
    )
    fan = daily.select(
        "_h",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("win_end"),
    ).distinct()
    wk = Window.partitionBy("win_end").orderBy("_h")
    topk = (
        fan.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
    )
    from alphalens_spark.scale.profile import kmv_estimate

    est = kmv_estimate(F.col("n_mins"), F.col("_kth"), k)
    return (
        topk.groupBy("win_end")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_mins"),
            F.max("_h").alias("_kth"),
        )
        .select(
            "win_end",
            "n_mins",
            F.col("_kth").alias("kth_hash"),
            est.alias(f"est_active_{window_days}d"),
        )
    )


def decayed_activity(
    events: DataFrame,
    half_life_hours: float = 24.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exponentially time-decayed per-user activity score at the stream's
    snapshot instant (max ts): each event contributes
    ``value · 2^(−age/half_life)`` — the standard recency-weighted
    engagement / fraud-velocity feature, where a full half-life halves an
    event's weight.

    Scale shape: the 1-row snapshot aggregate broadcasts back onto the
    stream (no second scan ordering dependency), ages come from integer
    ``timestampdiff`` MICROSECONDS — exact for micro-precision parquet
    timestamps, where SECOND granularity diverges across engines (Spark
    counts complete intervals, DuckDB counts boundary crossings) — valid
    for TIMESTAMP and TIMESTAMP_NTZ alike (ANSI-clean under the driver
    session), and the decay-weighted sums fold in ONE groupBy shuffle on
    the user key with map-side partials. Output: (user, n_events,
    decayed_count, decayed_value).
    """
    snap = events.agg(F.max(ts_col).alias("_t_max"))
    j = events.crossJoin(F.broadcast(snap))
    age_us = F.expr(f"timestampdiff(MICROSECOND, {ts_col}, _t_max)").cast("double")
    w = F.pow(F.lit(0.5), age_us / F.lit(half_life_hours * 3600.0 * 1e6))
    return (
        j.groupBy(user_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(F.sum(w), 6).alias("decayed_count"),
            F.round(F.sum(w * F.col(value_col)), 6).alias("decayed_value"),
        )
    )


def rolling_anomaly_zscores(
    events: DataFrame,
    window_days: int = 7,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Volume-anomaly detection over the event stream: each (type, day)'s
    count scored against the mean/std of the PRECEDING ``window_days``
    observed days of the same type — the trailing-baseline z-score every
    monitoring pipeline derives (the day being scored is excluded from
    its own baseline, or a spike would suppress itself).

    Scale shape: the raw stream collapses to (type, day) counts in one
    map-side-combined shuffle; the rolling window then runs over that
    tiny per-type daily series, never the raw events. Days with no
    baseline (fewer than 2 preceding days) or zero variance yield NULL.
    Output: (type, day, n_events, base_mean, base_std, zscore).
    """
    from pyspark.sql import Window

    daily = events.groupBy(
        F.col(type_col).alias("event_type"), F.to_date(ts_col).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    base_mean = F.avg("n_events").over(w)
    base_std = F.stddev_samp(F.col("n_events").cast("double")).over(w)
    z = F.try_divide(F.col("n_events") - F.col("base_mean"), F.col("base_std"))
    return (
        daily.withColumn("base_mean", F.round(base_mean, 6))
        .withColumn("base_std", F.round(base_std, 6))
        .withColumn(
            "zscore",
            F.round(
                F.when(F.col("base_std") > 0, z), 6
            ),
        )
    )


def seasonal_decompose_daily(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    window: int = 7,
) -> DataFrame:
    """STL-lite additive decomposition of the daily value series:
    ``value = trend + seasonal(weekday) + resid``, defined ENTIRELY on
    the 1e-4 integer grid so every component is cross-engine exact.

    - daily value: per-row ``round(value·1e4)`` summed (exact integers,
      summation-order-proof);
    - trend: centered ``window``-day moving average of those integers,
      truncated at the series edges (avg = one division of an exact
      integer sum — deterministic), rounded back to the grid;
    - seasonal: mean detrended value per weekday (same one-division
      contract), rounded to the grid;
    - resid: exact integer remainder, so the three components re-add to
      the original by construction.

    Scale shape: the raw stream collapses to one row per DAY in a
    map-side-combined shuffle before any window runs; the centered
    window and the weekday means operate on that date-dimension-sized
    series (the bounded contract the date-axis cumulatives use), never
    on raw events. The 7-row seasonal table broadcasts back.

    Output: (day, weekday, value_e4, trend_e4, seasonal_e4, resid_e4);
    weekday is 0=Monday (Spark ``weekday`` == DuckDB ``isodow − 1``).
    """
    from pyspark.sql import Window

    half = window // 2
    daily = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(F.to_date(ts_col).alias("day"))
        .agg(
            F.sum(
                F.round(F.col(value_col) * 1e4).cast("long")
            ).alias("value_e4")
        )
    )
    w = Window.orderBy("day").rowsBetween(-half, half)
    tr = daily.withColumn(
        "trend_e4", F.round(F.avg("value_e4").over(w)).cast("long")
    )
    det = tr.withColumn(
        "detrended", F.col("value_e4") - F.col("trend_e4")
    ).withColumn("weekday", F.weekday("day"))
    seas = det.groupBy("weekday").agg(
        F.round(F.avg("detrended")).cast("long").alias("seasonal_e4")
    )
    return (
        det.join(F.broadcast(seas), "weekday")
        .select(
            "day",
            "weekday",
            "value_e4",
            "trend_e4",
            "seasonal_e4",
            (
                F.col("value_e4") - F.col("trend_e4") - F.col("seasonal_e4")
            ).alias("resid_e4"),
        )
    )


def sessionize_native(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap sessionization via Spark's built-in ``session_window`` — the
    engine-native form of :func:`sessionize`: Catalyst owns the session
    merge (UpdatingSessionsExec + merging aggregate), the same expression
    works under ``readStream`` with a watermark (state eviction for
    free), and there is no lag/running-sum window pair to maintain.

    Session BOUNDS differ from :func:`sessionize` by definition, not by
    bug: session_window's end is ``last_event + gap`` (the close
    deadline), while the lag-form reports the last EVENT time. n_events
    and membership are identical (equality-tested); subtract the gap
    from ``session_end`` to translate.

    Output: (user, session_start, session_end, n_events).
    """
    sw = F.session_window(F.col(ts_col), f"{gap_minutes} minutes")
    return (
        events.groupBy(sw.alias("sw"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def concurrent_sessions(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Peak concurrent sessions per day — the classic sweep-line
    concurrency count (capacity planning / load sizing): each
    gap-session contributes a +1 at its (day-clipped) start and a −1
    just after its inclusive end; the running sum's maximum is the
    day's peak simultaneous-session count.

    Scale shape: sessions explode into one row per OVERLAPPED DAY (the
    interval_join day-bucket rewrite), so the sweep window partitions
    by day — never a global window; a session spanning midnight is
    clipped into both days and counts toward each day's concurrency
    from 00:00. Determinism: the running sum orders by
    (instant, delta DESC) with the default RANGE frame, so tied
    instants resolve as one group on every engine — +1s apply before
    −1s at the same instant (inclusive-end semantics: a session ending
    exactly when another starts overlaps it).

    Output: (day, n_sessions, peak_concurrent) — sessions touching the
    day, and the max simultaneous count within it.
    """
    sess = sessionize(events, gap_minutes, user_col, ts_col, order_tiebreak)
    ts_type = sess.schema["session_start"].dataType
    day_ts = F.col("day").cast(ts_type)
    next_day_ts = F.date_add(F.col("day"), 1).cast(ts_type)
    spans = sess.select(
        F.explode(
            F.sequence(
                F.to_date("session_start"), F.to_date("session_end")
            )
        ).alias("day"),
        F.greatest(F.col("session_start"), day_ts).alias("t_on"),
        F.least(F.col("session_end"), next_day_ts).alias("t_off"),
    )
    deltas = spans.select(
        "day", F.col("t_on").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            "day", F.col("t_off").alias("t"), F.lit(-1).alias("delta")
        )
    )
    # pre-combine deltas per instant BEFORE the sweep window: the RANGE
    # frame already resolves tied (t, delta) rows as one group, so
    # summing them first is semantics-identical — and the per-day sort
    # then sees |distinct instants| rows with map-side partial
    # aggregation, not 2·|sessions| (the lever that matters when one
    # day holds millions of sessions)
    combined = deltas.groupBy("day", "t", "delta").agg(
        F.sum("delta").alias("d"),
        F.count(F.when(F.col("delta") == 1, 1)).alias("n_on"),
    )
    w = Window.partitionBy("day").orderBy(F.col("t"), F.col("delta").desc())
    running = combined.withColumn("running", F.sum("d").over(w))
    return (
        running.groupBy("day")
        .agg(
            F.sum("n_on").cast("long").alias("n_sessions"),
            F.max("running").cast("long").alias("peak_concurrent"),
        )
    )


def scd2_from_snapshots(
    snapshots: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Collapse periodic dimension snapshots into SCD2 validity intervals
    — the slowly-changing-dimension build every warehouse needs when the
    upstream only ships full daily states: one row per (key, run of
    identical attributes) with ``valid_from`` (first snapshot of the
    run) and ``valid_to`` (first snapshot of the NEXT run; NULL = still
    current).

    Change detection is a per-key lag window (attributes differ from the
    previous snapshot), run-grouping a cumulative sum of change flags,
    the interval a per-(key, run) min + lead — two windows and one
    groupBy, all partitioned by the dimension key (linear shuffles; at
    100 TB the key count is the dimension's, not the fact table's).

    Output: key_cols + attr_cols + (valid_from, valid_to).
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    changed = F.lit(False)
    for a in attrs:
        prev = F.lag(a).over(w)
        # null-safe: NULL→value (or value→NULL) IS a change
        changed = changed | ~F.col(a).eqNullSafe(prev)
    changed = F.when(F.lag(ts_col).over(w).isNull(), F.lit(True)).otherwise(
        changed
    )
    runs = (
        snapshots.withColumn("_chg", changed.cast("int"))
        .withColumn(
            "_run",
            F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(*keys, F.col("_run"), *attrs)
        .agg(F.min(ts_col).alias("valid_from"))
    )
    wk = Window.partitionBy(*keys).orderBy("valid_from")
    return runs.select(
        *keys,
        *attrs,
        "valid_from",
        F.lead("valid_from").over(wk).alias("valid_to"),
    )


def attribute_conversions(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("click", "view"),
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """LAST-TOUCH marketing attribution: each conversion event is
    credited to the same user's most recent preceding touch event — a
    backward as-of join, so it reuses :func:`alphalens_spark.joins.
    asof_join` (ONE key shuffle, zero join operators) rather than a
    bespoke window. Conversions with no prior touch stay unattributed
    (NULL touch columns) — the left as-of contract.

    Output: (conversion_id, user, conversion ts, touch_event_id,
    touch_type, touch ts, seconds_to_convert).
    """
    from alphalens_spark.joins import asof_join

    conv = events.where(F.col("event_type") == conversion_type).select(
        F.col("event_id").alias("conversion_id"), user_col, ts_col
    )
    touch = events.where(F.col("event_type").isin(list(touch_types))).select(
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        user_col,
        F.col(ts_col).alias("touch_ts"),
    )
    out = asof_join(
        conv,
        touch.withColumnRenamed("touch_ts", ts_col),
        on=ts_col,
        by=[user_col],
    )
    touch_ts = F.col(f"{ts_col}_right")
    # MICROSECOND diff: SECOND-granularity timestampdiff counts complete
    # intervals in Spark but boundary crossings in DuckDB (STATE playbook)
    micros = F.expr(f"timestampdiff(MICROSECOND, {ts_col}_right, {ts_col})")
    return out.select(
        "conversion_id",
        user_col,
        ts_col,
        "touch_event_id",
        "touch_type",
        touch_ts.alias("touch_ts"),
        micros.alias("micros_to_convert"),
    )


def attribute_conversions_multitouch(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("click", "view"),
    lookback_hours: int = 72,
    half_life_hours: float = 12.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """MULTI-TOUCH attribution: every touch in the ``lookback_hours``
    window before a conversion gets fractional credit under three
    standard models at once —

    - ``credit_linear``: 1/n equal split,
    - ``credit_position``: U-shaped 40/20/40 (first and last touch 40%
      each, middles share 20%; n=1 → 1.0, n=2 → 0.5/0.5),
    - ``credit_decay``: exponential time decay, weight
      0.5^(age/half_life), normalized per conversion.

    Credits of each model sum to 1 per attributed conversion;
    conversions with no touch in the window emit nothing (inner
    contract — the last-touch variant keeps them as NULL rows).

    Scale shape: one user-key equi-join (conversions ⋈ touches) with
    the window predicate applied inside the join — fan-out is bounded
    by per-user activity in the lookback, the same bound the event
    interval joins document — then one conversion-key window to rank
    touches and one broadcast-free projection for the credits. Touch
    order (ts, event_id) matches the sessionize tiebreak.
    """
    conv = events.where(F.col("event_type") == conversion_type).select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("conv_ts"),
    )
    touch = events.where(F.col("event_type").isin(list(touch_types))).select(
        F.col(id_col).alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("touch_ts"),
    )
    j = conv.join(touch, "_u").where(
        (F.col("touch_ts") <= F.col("conv_ts"))
        & (
            F.col("touch_ts")
            > F.col("conv_ts") - F.expr(f"INTERVAL {lookback_hours} HOURS")
        )
    )
    wc = Window.partitionBy("conversion_id")
    wo = wc.orderBy("touch_ts", "touch_event_id")
    n = F.count(F.lit(1)).over(wc)
    pos = F.row_number().over(wo)
    age_us = F.expr("timestampdiff(MICROSECOND, touch_ts, conv_ts)")
    half_us = half_life_hours * 3_600_000_000.0
    w_decay = F.pow(F.lit(0.5), age_us / F.lit(half_us))
    sum_decay = F.sum(w_decay).over(wc)
    position = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return j.select(
        "conversion_id",
        F.col("_u").alias(user_col),
        "conv_ts",
        "touch_event_id",
        "touch_type",
        "touch_ts",
        F.round(F.lit(1.0) / n, 6).alias("credit_linear"),
        F.round(position, 6).alias("credit_position"),
        F.round(w_decay / sum_decay, 6).alias("credit_decay"),
    )


def ohlc_bars(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    unit: str = "day",
    by: Sequence[str] = (),
) -> DataFrame:
    """Resample a point series into OHLC bars: per ``unit`` bucket (and
    ``by`` keys), the first/max/min/last observed value plus count and
    sum — the candlestick aggregation every market/telemetry dashboard
    runs. First/last tie-break inside a bucket is (ts, id), the same
    total order sessionize uses.

    ONE groupBy, with open/close as ``min_by``/``max_by`` over the
    (ts, id) struct — no window, no self-join, map-side combinable.
    Output: (bar_ts, by…, open, high, low, close, n, volume).
    """
    keys = [F.date_trunc(unit, F.col(ts_col)).alias("bar_ts")] + [
        F.col(c) for c in by
    ]
    return events.groupBy(*keys).agg(*_ohlc_aggs(ts_col, value_col, id_col))


def _ohlc_aggs(ts_col: str, value_col: str, id_col: str) -> list[Column]:
    """The six OHLC bar aggregates (open, high, low, close, n, volume),
    shared by :func:`ohlc_bars` and its watermarked streaming twin
    ``streaming.ops.stream_ohlc``. Open/close are ``min_by``/``max_by``
    over the (ts, id) order struct — declarative, so they also maintain
    incrementally inside streaming window state."""
    order = F.struct(F.col(ts_col), F.col(id_col))
    v = F.col(value_col)
    return [
        F.round(F.min_by(v, order), 6).alias("open"),
        F.round(F.max(v), 6).alias("high"),
        F.round(F.min(v), 6).alias("low"),
        F.round(F.max_by(v, order), 6).alias("close"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(v), 6).alias("volume"),
    ]


def common_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    top_n: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Most common session PATHS — the ordered event-type sequence each
    session walks, counted corpus-wide (the path/clickstream analysis
    behind funnel discovery: which journeys actually happen, not which
    one you hypothesized).

    Sessions come from the same gap rule as :func:`sessionize`; the path
    is the '>'-joined type sequence ordered by (ts, event_id) — the
    deterministic tiebreak every engine reproduces. One user-key window
    + one (user, session) aggregation + one path count, then a
    TakeOrderedAndProject top-n. Per-session state is the session's own
    events (bounded by session length, not corpus size).

    Output: (rank, path, n_sessions).
    """
    wu = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    gap = F.col(ts_col) - F.lag(ts_col).over(wu)
    new_s = F.when(
        gap > F.expr(f"INTERVAL {gap_minutes} MINUTES"), 1
    ).otherwise(0)
    s = events.withColumn("_new", new_s).withColumn(
        "session_id", F.sum("_new").over(wu).cast("long")
    )
    paths = s.groupBy(user_col, "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(ts_col), F.col("event_id"), F.col(type_col))
                    )
                ),
                lambda x: x[type_col],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    top = counted.orderBy(F.col("n_sessions").desc(), "path").limit(top_n)
    w = Window.orderBy(F.col("n_sessions").desc(), "path")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "path", "n_sessions"
    )


def user_activity_features(
    events: DataFrame,
    windows_days: Sequence[int] = (7, 30),
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-(user, day) trailing activity features — the feature-store
    primitive behind churn/abuse/engagement models: for each day a user
    was active, event counts and value sums over each trailing window,
    plus recency (days since the previous active day).

    Two stages, both linear: a daily pre-aggregation (one shuffle on
    (user, day) — the raw event stream is touched once, window state
    then spans DAYS not events), then per-user RANGE windows over the
    integer day number (``rangeBetween(-(w-1), 0)``, so calendar gaps
    count as real elapsed days — a rows-window would wrongly treat the
    k-th previous ACTIVE day as k days ago).

    Output: (user, day, n_events_<w>d, value_sum_<w>d per window,
    days_since_prev).
    """
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        events.groupBy(F.col(user_col), day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(value_col).alias("_v"),
        )
        .withColumn("_dn", F.unix_date(F.to_date("day")))
    )
    out = daily
    # integral value columns stay exact LONG end-to-end (the micro-unit
    # contract: a 0.0 + round(...) detour through double would lose low
    # bits past 2^53); float values keep the 6-dp/-0.0 normalization
    vt = events.schema[value_col].dataType.simpleString()
    integral = vt in ("tinyint", "smallint", "int", "bigint")
    for w in windows_days:
        rw = (
            Window.partitionBy(user_col)
            .orderBy("_dn")
            .rangeBetween(-(w - 1), 0)
        )
        vs = F.sum("_v").over(rw)
        out = out.withColumn(f"n_events_{w}d", F.sum("_n").over(rw)).withColumn(
            f"value_sum_{w}d",
            vs if integral else F.lit(0.0) + F.round(vs, 6),
        )
    wo = Window.partitionBy(user_col).orderBy("_dn")
    out = out.withColumn(
        "days_since_prev", F.col("_dn") - F.lag("_dn").over(wo)
    )
    return out.select(
        user_col,
        "day",
        *[c for w in windows_days for c in (f"n_events_{w}d", f"value_sum_{w}d")],
        "days_since_prev",
    )


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap_minutes: int | None = None,
) -> DataFrame:
    """Event-type transition graph: one weighted edge per ordered pair of
    CONSECUTIVE events in a user's stream (same (ts, id) tiebreak as
    :func:`common_paths`). With ``gap_minutes`` set, transitions across a
    session gap are dropped — edges then live within sessions, matching
    the :func:`sessionize` boundary rule.

    One user-key window + one (src, dst) aggregation; feeds
    :func:`alphalens_spark.graph.pagerank` (journey centrality) or any
    Markov-chain analysis. Output: (src, dst, weight).
    """
    wu = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_type = F.lag(type_col).over(wu)
    prev_ts = F.lag(ts_col).over(wu)
    e = events.select(
        prev_type.alias("src"),
        F.col(type_col).alias("dst"),
        prev_ts.alias("_pts"),
        F.col(ts_col).alias("_ts"),
    ).where(F.col("src").isNotNull())
    if gap_minutes is not None:
        e = e.where(
            F.col("_ts") - F.col("_pts") <= F.expr(f"INTERVAL {gap_minutes} MINUTES")
        )
    return (
        e.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def ab_test_ztest(
    events: DataFrame,
    assignment: Column,
    success_type: str = "purchase",
    exposure_type: str = "view",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-proportion z-test over an experiment assignment — the classic
    A/B readout: per variant, exposed users and converted users
    (user-level, not event-level: a user converts once no matter how
    many purchases), then the pooled two-proportion z statistic between
    every variant pair.

    ``assignment`` is any deterministic Column over the user key (e.g. a
    hash-bucket expression — pass ``F.pmod(xxhash64(user), 2)`` — or a
    real variant column). Output: one row per ordered variant pair
    (variant_a, variant_b, n_a, conv_a, n_b, conv_b, rate_a, rate_b,
    z) with z = (p_a − p_b) / sqrt(p(1−p)(1/n_a + 1/n_b)), p pooled;
    NULL when a variant has no exposure (try_divide contract).

    Scale shape: one user-level aggregation (exposed/converted flags by
    max — map-side combinable), one variant groupBy on its output, and
    a variant×variant join over the VARIANT DIMENSION (a handful of
    rows). Nothing user-sized past the first aggregation.
    """
    per_user = (
        events.where(F.col(type_col).isin([success_type, exposure_type]))
        .select(
            F.col(user_col).alias("_u"),
            assignment.alias("variant"),
            (F.col(type_col) == exposure_type).cast("int").alias("_e"),
            (F.col(type_col) == success_type).cast("int").alias("_s"),
        )
        .groupBy("_u", "variant")
        .agg(F.max("_e").alias("_exposed"), F.max("_s").alias("_conv"))
        .where(F.col("_exposed") == 1)
    )
    return _ab_readout(per_user, "_conv")


def _ab_readout(per_user: DataFrame, conv_col: str) -> DataFrame:
    """The A/B readout from exposed users (one row per (user, variant),
    ``conv_col`` the 0/1 conversion flag) to the pair z-table: per-variant
    counts, then the pooled two-proportion z per variant pair. Shared by
    :func:`ab_test_ztest` and ``streaming.ops.ab_store_ztest``, whose
    incremental == one-shot equality rests on it."""
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(conv_col).alias("conv"),
    )
    a = per_variant.select(
        F.col("variant").alias("variant_a"),
        F.col("n").alias("n_a"),
        F.col("conv").alias("conv_a"),
    )
    b = per_variant.select(
        F.col("variant").alias("variant_b"),
        F.col("n").alias("n_b"),
        F.col("conv").alias("conv_b"),
    )
    j = a.join(b, F.col("variant_a") < F.col("variant_b"))
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return j.select(
        "variant_a", "variant_b", "n_a", "conv_a", "n_b", "conv_b",
        (F.round(p_a, 6) + F.lit(0.0)).alias("rate_a"),
        (F.round(p_b, 6) + F.lit(0.0)).alias("rate_b"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def seasonal_naive_eval(
    events: DataFrame,
    season_days: int = 7,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Forecast-baseline evaluation: score the seasonal-naive predictor
    (count(day) ≈ count(day − season)) per event type — the sanity
    baseline every volume-forecasting pipeline must beat, and a drift
    alarm when a series stops being seasonal.

    Per (type, day): actual count and the season-lagged prediction
    (calendar LAG via a self-join on day − season, so missing days
    predict nothing rather than silently shifting the series); then per
    type: n scored days, MAE, RMSE and sMAPE over days with a
    prediction. One date-dimension-sized aggregation after the daily
    rollup — nothing event-sized past the first groupBy.
    """
    daily = events.groupBy(
        F.col(type_col).alias("etype"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    pred = daily.select(
        "etype",
        (F.col("day") + F.expr(f"INTERVAL {season_days} DAYS")).alias("day"),
        F.col("n").alias("n_pred"),
    )
    scored = daily.join(pred, ["etype", "day"])
    err = F.col("n") - F.col("n_pred")
    smape_term = F.abs(err) / ((F.abs(F.col("n")) + F.abs(F.col("n_pred"))) / 2)
    return scored.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(F.avg(F.abs(err)), 6) + F.lit(0.0)).alias("mae"),
        (F.round(F.sqrt(F.avg(err * err)), 6) + F.lit(0.0)).alias("rmse"),
        (F.round(F.avg(smape_term), 6) + F.lit(0.0)).alias("smape"),
    )


def gap_fill_daily(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value_e4",
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Dense-calendar gap filling with LOCF and linear interpolation —
    the TimescaleDB ``time_bucket_gapfill``/``locf``/``interpolate``
    shape (reference has only the pyfolio daily resample+ffill,
    `alphalens/performance.py:900`-ish positions path; this is the
    generic keyed form).

    Input is an already-aggregated series: one row per (*key_cols,
    day_col) with an INTEGER-GRID value in ``value_col`` (quantize
    floats to micro-units first — the STL/Holt contract), so every
    filled value is cross-engine exact:

    - LOCF: last observed integer carried forward (exact copy);
    - linear: ``round((prev·(d_next−d) + next·(d−d_prev)) / span)`` —
      an exact-integer numerator and ONE division, so both engines
      round the identical double (away-from-zero on both for the
      negative half);
    - leading-edge rows (no prior observation) stay NULL in both
      columns; trailing-edge rows LOCF but do not extrapolate.

    By default each key fills its own observed [min, max] span (no
    edge rows); pass ``start``/``end`` ('YYYY-MM-DD') to align every
    key onto one common calendar — that is where leading/trailing gap
    rows appear. Observations outside [start, end] are excluded; a key
    with no in-window observations produces no rows.

    Scale shape: ONE scan. Each observation explodes into the segment
    of grid days it governs ([day, next_day−1], clipped to the window;
    the first observation also emits the leading segment), so the
    operator is one ordered key window (row_number + both leads share
    a single sort) and one segment explode — linear in OUTPUT rows,
    zero joins, no second derivation of the input aggregate (the first
    draft's span-groupBy + grid join re-computed the daily aggregate
    from the fact scan twice — PLANS.md caught it). Nothing global,
    nothing quadratic; a key's cost is bounded by its calendar span.

    Output: (*key_cols, day, value_e4 [NULL on gap days], locf_e4,
    interp_e4, is_observed).
    """
    keys = list(key_cols)
    s_lit = F.lit(start).cast("date") if start is not None else None
    e_lit = F.lit(end).cast("date") if end is not None else None
    # a NULL value is a GAP, not an observation (matches the oracle's
    # `value_e4 IS NOT NULL` semantics and every sibling integer-grid op)
    d = daily.where(F.col(value_col).isNotNull())
    if s_lit is not None:
        d = d.where(F.col(day_col) >= s_lit)
    if e_lit is not None:
        d = d.where(F.col(day_col) <= e_lit)
    w = Window.partitionBy(*keys).orderBy("_d")
    base = (
        d.select(
            *keys,
            F.col(day_col).alias("_d"),
            F.col(value_col).alias("_v"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_nd", F.lead("_d").over(w))
        .withColumn("_nv", F.lead("_v").over(w))
    )
    next_minus1 = F.date_sub(F.col("_nd"), 1)
    if e_lit is not None:
        seg_end = F.least(F.coalesce(next_minus1, e_lit), e_lit)
    else:
        seg_end = F.coalesce(next_minus1, F.col("_d"))
    days = F.sequence(F.col("_d"), seg_end)
    if s_lit is not None:
        lead_seg = F.when(
            (F.col("_rn") == 1) & (s_lit < F.col("_d")),
            F.sequence(s_lit, F.date_sub(F.col("_d"), 1)),
        ).otherwise(F.array().cast("array<date>"))
        days = F.concat(lead_seg, days)
    # two-step select: materialize the segment array below the explode
    # (Generate re-evaluates projected expressions per exploded row)
    staged = base.select(
        *keys, "_d", "_v", "_nd", "_nv", days.alias("_days")
    )
    ex = staged.select(
        *keys, "_d", "_v", "_nd", "_nv", F.explode("_days").alias(day_col)
    )
    g = F.col(day_col)
    observed = g == F.col("_d")
    next_ok = F.col("_nv").isNotNull() & (
        F.lit(True) if e_lit is None else (F.col("_nd") <= e_lit)
    )
    interp = F.when(observed, F.col("_v")).otherwise(
        F.when(
            next_ok & (g > F.col("_d")),
            F.round(
                (
                    F.col("_v") * F.datediff(F.col("_nd"), g)
                    + F.col("_nv") * F.datediff(g, F.col("_d"))
                )
                / F.datediff(F.col("_nd"), F.col("_d"))
            ).cast("long"),
        )
    )
    return ex.select(
        *keys,
        day_col,
        F.when(observed, F.col("_v")).alias(value_col),
        F.when(g >= F.col("_d"), F.col("_v")).alias("locf_e4"),
        interp.alias("interp_e4"),
        observed.alias("is_observed"),
    )


def cusum_changepoints(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value_e4",
    baseline: int = 7,
    drift_frac: float = 0.05,
    threshold_frac: float = 0.5,
) -> DataFrame:
    """Two-sided CUSUM mean-shift detection per key — the Page (1954)
    drift monitor every production data pipeline wants on its volume /
    revenue / quality series (extension; no reference counterpart).

    Works ENTIRELY in exact integer arithmetic on an integer-grid input
    series (quantize floats to micro-units first — the STL/Holt
    contract): the target mean ``μ`` is the half-up-rounded mean of the
    first ``baseline`` observations (one division of exact integers),
    the allowance ``k = round(drift_frac·|μ|)`` and alarm threshold
    ``h = round(threshold_frac·|μ|)`` are integers, and the recursion

    ``g⁺_t = max(0, g⁺_{t−1} + (v_t − μ − k))``;
    ``g⁻_t = max(0, g⁻_{t−1} + (μ − v_t − k))``;
    alarm when either exceeds ``h``, then BOTH sides restart at 0

    never touches a float — so the whole alarm series is bit-exact
    against a recursive-CTE replay with no rounding caveats at all.

    Execution contract == :func:`~alphalens_spark.performance.ewma`:
    a sequential recurrence has no shuffle-native form, but the series
    per key is bounded by the order dimension, so ONE groupBy collects
    the ordered array and a single map-side fold computes the whole
    monitor — no window, no per-step shuffle, no Python.

    Output: ``key_cols`` + (day, value, gpos, gneg, alarm_side) — one
    row per observation; alarm_side ∈ {1, −1, 0} (which side fired).
    """
    keys = list(key_cols)
    arr = _ordered_series(daily, keys, day_col, value_col, "long")
    base_sum = F.aggregate(
        F.slice("xs", 1, baseline), F.lit(0).cast("long"), lambda a, x: a + x["v"]
    )
    base_n = F.least(F.size("xs"), F.lit(baseline))
    mu = F.round(base_sum / base_n).cast("long")
    k, h = _cusum_limits(mu, drift_frac, threshold_frac)
    staged = arr.select(
        *keys, "xs", mu.alias("_mu"), k.alias("_k"), h.alias("_h")
    )
    # fold from the (0, 0, no-alarm) seed — the first real element then
    # computes max(0, 0 + (v − μ − k)) etc., which IS the head-row rule,
    # so no first-element special case exists (the streaming store's
    # seeded-continuation proof); the seed itself is sliced off
    ys = F.slice(
        F.aggregate(F.col("xs"), F.array(_cusum_zero_state()), _cusum_step),
        2,
        F.size("xs"),
    )
    return _explode_series(
        staged, keys, ys, day_col, value_col,
        {"gpos": ".gp", "gneg": ".gn", "alarm_side": ".alarm"},
    )


def _cusum_limits(mu: Column, drift_frac: float, threshold_frac: float):
    """CUSUM allowance ``k = round(drift_frac·|μ|)`` and alarm threshold
    ``h = round(threshold_frac·|μ|)`` as exact longs — shared with the
    streaming store ``streaming.ops.cusum_store_update``."""
    k = F.round(F.abs(mu) * F.lit(drift_frac)).cast("long")
    h = F.round(F.abs(mu) * F.lit(threshold_frac)).cast("long")
    return k, h


def _cusum_zero_state() -> Column:
    """The CUSUM fold's (g⁺, g⁻, alarm) = (0, 0, none) start state."""
    zero = F.lit(0).cast("long")
    return F.struct(
        zero.alias("gp"), zero.alias("gn"), F.lit(0).cast("int").alias("alarm")
    )


def _cusum_step(acc, x):
    """One two-sided CUSUM step over (o, v) elements against the row's
    ``_mu`` / ``_k`` / ``_h`` columns; the accumulator is an
    array<struct<gp, gn, alarm>>. Shared by :func:`cusum_changepoints`
    and ``streaming.ops.cusum_store_update``, so a seeded continuation
    executes the identical integer operation sequence."""
    zero = F.lit(0).cast("long")
    prev = F.element_at(acc, -1)
    # alarm restarts both sides
    pgp = F.when(prev["alarm"] != 0, zero).otherwise(prev["gp"])
    pgn = F.when(prev["alarm"] != 0, zero).otherwise(prev["gn"])
    gp = F.greatest(zero, pgp + (x["v"] - F.col("_mu") - F.col("_k")))
    gn = F.greatest(zero, pgn + (F.col("_mu") - x["v"] - F.col("_k")))
    alarm = (
        F.when(gp > F.col("_h"), F.lit(1))
        .when(gn > F.col("_h"), F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    return F.concat(
        acc,
        F.array(F.struct(gp.alias("gp"), gn.alias("gn"), alarm.alias("alarm"))),
    )


def mann_kendall_trend(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value_e4",
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per key — the nonparametric
    "is this series drifting?" statistic that pairs with
    :func:`cusum_changepoints` (CUSUM localizes WHEN a shift happened;
    Mann-Kendall scores WHETHER a sustained trend exists at all).

    ``S = Σ_{i<j} sign(v_j − v_i)`` over time-ordered pairs,
    ``Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18`` with the tie
    correction, and the continuity-corrected
    ``z = (S∓1)/sqrt(Var(S))`` (0 when S = 0, NULL when Var = 0).

    Integer-grid input (the STL/CUSUM contract) makes S and the tie
    term exact cross-engine integers with no snapping; z exports as
    1e-6 micro-units from one correctly-rounded op sequence.

    Scale shape: ONE scan, two key shuffles (the daily rollup + one
    collect), ZERO joins — the first draft computed n, ties and the
    pair sum as four separate derivations of the daily aggregate and
    PLANS.md showed the fact scanned four times. Here each key's
    ordered (day, v) array folds once: n = size, the tie term from a
    run-length fold over the sorted values, and S from a nested
    pair fold — O(d²) in the DATE dimension per key (the bounded
    date-axis contract; a 10-year daily series is ~6.7M sign
    evaluations), never data-sized. For multi-decade per-second
    series, the kendall_tau_ic 'sorted' Arrow merge-count is the
    drop-in upgrade (S = n0 − tie_pairs − 2·inversions when the time
    axis has no ties).

    Output: ``key_cols`` + (n, s, tie_term, z_e6) — all exact integers.
    """
    keys = list(key_cols)
    arr = _ordered_series(daily, keys, day_col, value_col, "long")
    xs = F.col("xs")
    long0 = F.lit(0).cast("long")
    # S: for each position i, sum sign(v_j − v_i) over the tail j > i
    partials = F.transform(
        xs,
        lambda x, i: F.aggregate(
            F.slice(xs, i + F.lit(2), F.size(xs) - i - F.lit(1)),
            long0,
            lambda a, y: a + F.signum(y["v"] - x["v"]).cast("long"),
        ),
    )
    s_expr = F.aggregate(partials, long0, lambda a, b: a + b)
    # tie term Σ t(t−1)(2t+5): run-length fold over the SORTED values
    vs = F.array_sort(F.transform(xs, lambda x: x["v"]))
    run_closed = lambda st: st["acc"] + st["run"] * (st["run"] - 1) * (
        2 * st["run"] + 5
    )
    tie_expr = F.aggregate(
        vs,
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            long0.alias("run"),
            long0.alias("acc"),
        ),
        lambda st, y: F.when(
            st["prev"].isNull(),
            F.struct(
                y.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                long0.alias("acc"),
            ),
        )
        .when(
            y == st["prev"],
            F.struct(
                y.alias("prev"),
                (st["run"] + 1).alias("run"),
                st["acc"].alias("acc"),
            ),
        )
        .otherwise(
            F.struct(
                y.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                run_closed(st).alias("acc"),
            )
        ),
        run_closed,
    )
    staged = arr.select(
        *keys,
        F.size(xs).cast("long").alias("n"),
        s_expr.alias("s"),
        tie_expr.alias("tie_term"),
    )
    nn = F.col("n")
    var = (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term")) / F.lit(18)
    s = F.col("s")
    z = (
        F.when(s > 0, (s - 1) / F.sqrt(var))
        .when(s < 0, (s + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return staged.select(
        *keys,
        "n",
        "s",
        "tie_term",
        F.when(var > 0, F.round(z * 1e6).cast("long")).alias("z_e6"),
    )


def conformal_interval_eval(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value_e4",
    season_days: int = 7,
    alpha_pct: int = 10,
    cal_pct: int = 70,
) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecast, with held-out coverage — the distribution-free
    uncertainty band (Vovk; Lei et al.) that turns the point forecasts
    in :func:`seasonal_naive_eval` into calibrated intervals, and the
    standard pre-deployment check that the band actually covers.

    Per key, in day order: prediction for day d is the value at
    d − season — a RANGE-frame calendar lag (the frame [−s, −s] over
    the integer day number holds exactly the row s days earlier, or
    nothing), so a missing day never shifts the season the way a ROW
    lag would (a first draft's lag(7)+datediff check silently
    UNDER-scored every day after a gap — the unit test caught it); the
    first ``cal_pct``% of scored days calibrate, the rest test. The interval half-width ``q̂`` is
    the k-th smallest calibration |residual| with
    ``k = ⌈(n_cal + 1)(1 − α)⌉`` — computed in EXACT integer
    arithmetic (``((n_cal+1)·(100−alpha_pct) + 99) div 100``; a float
    ``ceil((n+1)·0.9)`` lands on 18.000000000000004-style doubles and
    silently selects the wrong order statistic). When k > n_cal the
    interval is infinite (q̂ NULL) and every test day counts covered —
    the honest conformal convention. Coverage ≥ 1 − α holds in
    expectation by exchangeability; the report shows the realized
    count.

    Integer-grid input (the STL/CUSUM contract) makes residuals,
    order statistics and coverage counts exact integers — no float
    anywhere. Scale shape: one key-ordered lag window + ONE groupBy
    collecting the (day-dim bounded) scored series per key; the split,
    the order statistic and the coverage count are array expressions
    on that collected series. No joins, one scan.

    Output: ``key_cols`` + (n_scored, n_cal, n_test, qhat_e4,
    n_covered) — all exact integers.
    """
    keys = list(key_cols)
    day_num = F.datediff(F.col(day_col), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(day_num)
        .rangeBetween(-season_days, -season_days)
    )
    scored = (
        daily.where(F.col(value_col).isNotNull())
        .withColumn("_pred", F.max(value_col).over(w))
        .where(F.col("_pred").isNotNull())
        .select(
            *keys,
            F.col(day_col).alias("_d"),
            F.abs(F.col(value_col).cast("long") - F.col("_pred").cast("long"))
            .alias("_r"),
        )
    )
    arr = scored.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_d").alias("d"), F.col("_r").alias("r")))
        ).alias("_a")
    )
    n = F.size("_a").cast("long")
    n_cal = F.expr(f"(size(_a) * {cal_pct} + 99) div 100").cast("long")
    n_test = n - n_cal
    staged = arr.select(
        *keys,
        "_a",
        n.alias("_n"),
        n_cal.alias("_nc"),
        n_test.alias("_nt"),
    )
    k = F.expr(f"((_nc + 1) * (100 - {alpha_pct}) + 99) div 100")
    cal_r = F.array_sort(
        F.transform(
            F.slice("_a", 1, F.col("_nc").cast("int")), lambda x: x["r"]
        )
    )
    staged2 = staged.select(
        *keys,
        "_a",
        "_n",
        "_nc",
        "_nt",
        F.when(k <= F.col("_nc"), F.get(cal_r, (k - 1).cast("int"))).alias(
            "_qhat"
        ),
    )
    covered = F.aggregate(
        F.slice(
            "_a", (F.col("_nc") + 1).cast("int"), F.col("_nt").cast("int")
        ),
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.when(
            F.col("_qhat").isNull() | (x["r"] <= F.col("_qhat")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return staged2.select(
        *keys,
        F.col("_n").alias("n_scored"),
        F.col("_nc").alias("n_cal"),
        F.col("_nt").alias("n_test"),
        F.col("_qhat").alias("qhat_e4"),
        covered.alias("n_covered"),
    )


def theil_sen_slope(
    daily: DataFrame,
    key_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value_e4",
) -> DataFrame:
    """Theil-Sen robust trend slope per key — the magnitude companion
    to :func:`mann_kendall_trend` (MK says WHETHER a monotone trend
    exists; Theil-Sen says HOW STEEP, robust to ~29% outliers where an
    OLS slope is wrecked by one bad day).

    slope = median over all i<j of ``(v_j − v_i)·1e6 / (days_j −
    days_i)`` — micro-units per day. Each pair slope is ONE division
    of exact integers (deterministic cross-engine double), the median
    is exact order-statistic selection on the sorted slopes (even
    count: the mean of the two middles — one more exactly-rounded op),
    and the export rounds that single double to a BIGINT.

    Requires unique (key, day) rows (an aggregated series — the
    STL/CUSUM input contract), so pair day spans are strictly positive
    and no division-by-zero path exists.

    Scale shape: same as mann_kendall_trend — ONE scan, one collect
    per key, the O(d²) pair slopes built and sorted inside a single
    array expression (date-dimension bounded: a 10-year daily series
    is ~6.7M pair slopes ≈ 54 MB transient per key — bounded by the
    date axis, never by data volume; beyond that, sample pairs or
    bucket by year). No joins.

    Output: ``key_cols`` + (n, n_pairs, slope_e6_per_day).
    """
    keys = list(key_cols)
    day_num = F.datediff(F.col(day_col), F.lit("1970-01-01").cast("date"))
    arr = (
        daily.where(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        day_num.cast("long").alias("dn"),
                        F.col(value_col).cast("long").alias("v"),
                    )
                )
            ).alias("xs")
        )
    )
    xs = F.col("xs")
    slopes = F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + F.lit(2), F.size(xs) - i - F.lit(1)),
                lambda y: (y["v"] - x["v"]) * F.lit(1e6) / (y["dn"] - x["dn"]),
            ),
        )
    )
    staged = arr.select(
        *keys,
        F.size(xs).cast("long").alias("n"),
        F.array_sort(slopes).alias("_ms"),
    )
    m = F.size("_ms")
    odd = F.element_at("_ms", ((m + 1) / 2).cast("int"))
    even = (
        F.element_at("_ms", (m / 2).cast("int"))
        + F.element_at("_ms", (m / 2).cast("int") + 1)
    ) / 2
    median = F.when(m == 0, F.lit(None).cast("double")).otherwise(
        F.when(m % 2 == 1, odd).otherwise(even)
    )
    return staged.select(
        *keys,
        "n",
        m.cast("long").alias("n_pairs"),
        F.round(median).cast("long").alias("slope_e6_per_day"),
    )


def kaplan_meier(
    subjects: DataFrame,
    group_cols: Sequence[str],
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier survival curve per group (Kaplan & Meier JASA'58) —
    the right-censoring-aware "what fraction survives past t" that a
    naive duration histogram gets wrong the moment open-ended subjects
    exist: churn/retention ("how long do users stay"), fulfillment
    ("how long until an order fully ships"), incident MTTR — any
    duration analysis where some subjects haven't finished yet.

    Input: one row per subject with an integer ``duration_col`` (time
    units survived, ≥ 0) and ``event_col`` = 1 if the terminal event
    was OBSERVED at that duration, 0 if the subject was CENSORED there
    (still alive when observation stopped). Estimator:
    Ŝ(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with dᵢ events and nᵢ the at-risk
    count at event time tᵢ; censored subjects leave the risk set AFTER
    their time passes (the standard convention — they are at risk AT
    their censor time).

    Parity shape: dᵢ/nᵢ and the at-risk arithmetic are exact integers;
    the product is a RUNNING ordered-window sum of ln(1 − d/n) terms
    (sequential accumulation in frame order — deterministic on both
    engines, unlike a groupBy float sum) exponentiated once at the end,
    with the d = n extinction case pinned to a hard 0.0 via a running
    flag instead of ln(0) (the cumulative-returns sign/zero-pin
    lesson). All magnitudes live in [0, 1] — no large-argument exp.

    Scale shape: one groupBy on (group, t), then windows PARTITIONED BY
    group over the duration dimension (rows per group ≤ distinct
    durations — bounded by the time axis, never subject count). One
    shuffle on the group key. Output: group… + (t, n_risk, n_events,
    n_censored, survival), one row per distinct duration in the group.
    """
    keys = list(group_cols)
    ev = F.col(event_col).cast("int")
    per_t = (
        subjects.where(
            F.col(duration_col).isNotNull() & ev.isNotNull()
        )
        .groupBy(*keys, F.col(duration_col).cast("long").alias("t"))
        .agg(
            F.sum(ev).alias("n_events"),
            F.sum(F.lit(1) - ev).alias("n_censored"),
        )
    )
    return km_from_counts(per_t, keys)


def km_from_counts(per_t: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """The Kaplan-Meier estimator applied to an aggregated per-time
    count table (group… + t, n_events, n_censored) — shared by
    :func:`kaplan_meier` (which aggregates subjects first) and the
    streaming survival-counter store readout (which reads the persisted
    counters), so estimator fixes land once. Same windows-over-the-
    duration-dimension shape and log-space parity discipline as
    documented on :func:`kaplan_meier`."""
    keys = list(group_cols)
    w_all = Window.partitionBy(*keys)
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    removed = F.col("n_events") + F.col("n_censored")
    staged = per_t.withColumn(
        "n_risk",
        F.sum(removed).over(w_all)
        - F.coalesce(F.sum(removed).over(w_prev), F.lit(0)),
    )
    frac = F.col("n_events").cast("double") / F.col("n_risk").cast("double")
    term = F.when(
        F.col("n_events") < F.col("n_risk"), F.log(F.lit(1.0) - frac)
    ).otherwise(F.lit(0.0))
    extinct = F.max(
        (F.col("n_events") == F.col("n_risk")).cast("int")
    ).over(w_run)
    surv = F.when(extinct == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(term).over(w_run))
    )
    return staged.select(
        *keys,
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        (F.round(surv, 6) + F.lit(0.0)).alias("survival"),
    )


def welch_ttest(
    a: DataFrame,
    b: DataFrame,
    value_int_col: str,
    scale: float = 1.0,
) -> DataFrame:
    """Welch's two-sample t-test for MEANS (unequal variances) — the
    continuous-metric companion to :func:`ab_test_ztest`'s proportion
    test: revenue per order, latency, tokens per document. Reports the
    t statistic and the Welch-Satterthwaite degrees of freedom; attach
    a p-value driver-side with ``performance.student_t_sf`` (the
    ic_summary precedent — the incomplete beta is not SQL-expressible,
    everything else is).

    Contract: ``value_int_col`` is an INTEGER-grid metric (e.g.
    ``round(price·100)``; ``scale`` converts means back). Each side is
    ONE 1-row aggregate with DECIMAL(38,0)-exact Σv and Σv² (a BIGINT
    Σv² overflows at ~3e9·√rows), so both engines see identical exact
    integers and the t/df doubles evaluate identically. Output: one row
    (n_a, n_b, mean_a, mean_b, t_stat, df).
    """

    def side(df, tag):
        v = F.col(value_int_col).cast("decimal(38,0)")
        return df.agg(
            F.count(value_int_col).cast("long").alias(f"n_{tag}"),
            F.sum(v).alias(f"s1_{tag}"),
            F.sum(v * v).alias(f"s2_{tag}"),
        )

    row = side(a, "a").crossJoin(F.broadcast(side(b, "b")))  # 1×1 rows
    return _welch_from_sums(row, scale)


def welch_ttest_flagged(
    df: DataFrame,
    flag_a: Column,
    flag_b: Column,
    value_int_col: str,
    scale: float = 1.0,
) -> DataFrame:
    """:func:`welch_ttest` for two cohorts that are FILTERS of one frame
    — the ks_from_counts pattern: ONE scan and ONE 1-row conditional
    aggregate (``sum(if flag_a)`` / ``sum(if flag_b)``) instead of two
    scans and two aggregates (guide §2.4). The per-side Σv/Σv²/n are the
    same exact DECIMAL/BIGINT values the two-frame front computes, so
    t and df are bit-identical."""
    v = F.col(value_int_col).cast("decimal(38,0)")
    row = df.agg(
        F.count(F.when(flag_a, F.col(value_int_col))).cast("long").alias("n_a"),
        F.sum(F.when(flag_a, v)).alias("s1_a"),
        F.sum(F.when(flag_a, v * v)).alias("s2_a"),
        F.count(F.when(flag_b, F.col(value_int_col))).cast("long").alias("n_b"),
        F.sum(F.when(flag_b, v)).alias("s1_b"),
        F.sum(F.when(flag_b, v * v)).alias("s2_b"),
    )
    return _welch_from_sums(row, scale)


def _welch_from_sums(row: DataFrame, scale: float) -> DataFrame:
    """Closed-form Welch t/df from the 1-row exact-sum frame
    ``(n_a, s1_a, s2_a, n_b, s1_b, s2_b)`` — the shared tail of
    :func:`welch_ttest` and :func:`welch_ttest_flagged`."""

    def stats(tag):
        n = F.col(f"n_{tag}").cast("double")
        s1 = F.col(f"s1_{tag}").cast("double")
        s2 = F.col(f"s2_{tag}").cast("double")
        mean = s1 / n
        var = (s2 - (s1 * s1) / n) / (n - F.lit(1.0))
        return n, mean, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    inv = F.lit(1.0 / scale)
    return row.select(
        F.col("n_a"),
        F.col("n_b"),
        (F.round(ma * inv, 6) + F.lit(0.0)).alias("mean_a"),
        (F.round(mb * inv, 6) + F.lit(0.0)).alias("mean_b"),
        (F.round(t, 6) + F.lit(0.0)).alias("t_stat"),
        (F.round(dof, 6) + F.lit(0.0)).alias("df"),
    )

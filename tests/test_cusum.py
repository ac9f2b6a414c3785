"""cusum_changepoints: exact-integer two-sided CUSUM with alarm restart."""

import random

from pyspark.sql import functions as F

from alphalens_spark.events import cusum_changepoints


def _py_cusum(vals, baseline, drift_frac, threshold_frac):
    import decimal

    nb = min(len(vals), baseline)
    mu = int(
        decimal.Decimal(repr(sum(vals[:nb]) / nb)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )
    k = int(
        decimal.Decimal(repr(abs(mu) * drift_frac)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )
    h = int(
        decimal.Decimal(repr(abs(mu) * threshold_frac)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )
    out, gp, gn = [], 0, 0
    for v in vals:
        gp = max(0, gp + (v - mu - k))
        gn = max(0, gn + (mu - v - k))
        alarm = 1 if gp > h else (-1 if gn > h else 0)
        out.append((v, gp, gn, alarm))
        if alarm:
            gp, gn = 0, 0
    return out


def _run(spark, vals, **kw):
    rows = [("k", d, v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "key string, offset int, value_e4 long"
    ).select(
        "key",
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("offset")).alias(
            "day"
        ),
        "value_e4",
    )
    out = cusum_changepoints(df, ["key"], "day", "value_e4", **kw)
    return [
        (r["value_e4"], r["gpos"], r["gneg"], r["alarm_side"])
        for r in out.orderBy("day").collect()
    ]


def test_upward_shift_alarms_and_restarts(spark):
    # baseline 100; shift to 180 -> g+ grows by ~75/day past k; alarm at
    # >50 then restart accumulates again
    vals = [100, 101, 99, 100, 180, 180, 180, 180]
    got = _run(
        spark, vals, baseline=4, drift_frac=0.05, threshold_frac=0.5
    )
    assert got == _py_cusum(vals, 4, 0.05, 0.5)
    alarms = [g[3] for g in got]
    assert 1 in alarms  # upward side fired
    # after each alarm the accumulator restarted (next gpos starts fresh)
    first = alarms.index(1)
    if first + 1 < len(got):
        v, gp, _, _ = got[first + 1]
        assert gp == max(0, v - 100 - 5)


def test_downward_shift_fires_negative_side(spark):
    vals = [1000, 1000, 1000, 100, 100]
    got = _run(spark, vals, baseline=3, drift_frac=0.0, threshold_frac=0.5)
    assert got == _py_cusum(vals, 3, 0.0, 0.5)
    assert -1 in [g[3] for g in got]
    assert 1 not in [g[3] for g in got]


def test_stable_series_never_alarms(spark):
    vals = [100, 102, 98, 101, 99, 100, 103, 97, 100]
    got = _run(spark, vals, baseline=7, drift_frac=0.05, threshold_frac=0.5)
    assert got == _py_cusum(vals, 7, 0.05, 0.5)
    assert all(g[3] == 0 for g in got)


def test_short_series_baseline_truncates(spark):
    vals = [10, 30]  # fewer rows than the baseline window
    got = _run(spark, vals, baseline=7, drift_frac=0.05, threshold_frac=0.5)
    assert got == _py_cusum(vals, 7, 0.05, 0.5)


def test_random_series_match_python_reference(spark):
    rng = random.Random(99)
    vals = [rng.randint(-500, 1500) for _ in range(60)]
    got = _run(spark, vals, baseline=7, drift_frac=0.02, threshold_frac=0.3)
    assert got == _py_cusum(vals, 7, 0.02, 0.3)


def test_stream_cusum_equals_batch(spark, tmp_path):
    """Store #14: incremental CUSUM state after N micro-batches == the
    one-shot events.cusum_changepoints final row per key, exactly
    (all-integer recursion) — including a baseline split across the
    batch boundary, a replayed order, a mid-stream new key, and a key
    that never completes its baseline (stays pending)."""
    from alphalens_spark.streaming.ops import cusum_store_update, stream_store

    rng = random.Random(5)
    src = str(tmp_path / "vals")
    # key a: baseline=4 completes inside batch 2 (split mid-baseline)
    # key b: established in batch 1, continues in batch 2
    # key c: appears mid-stream (batch 2) with a full baseline
    # key d: only 2 rows ever -> pending
    batch1 = (
        [("a", i, 100 + rng.randint(-3, 3)) for i in range(2)]
        + [("b", i, 50 + rng.randint(-2, 2)) for i in range(6)]
        + [("d", 0, 7)]
    )
    batch2 = (
        [("a", i, 100 + rng.randint(-3, 3)) for i in range(2, 9)]
        + [("a", 1, 999)]  # replay of an already-buffered order
        + [("b", i, 200) for i in range(6, 10)]  # drift -> alarms
        + [("c", i, 10 * i) for i in range(5)]
        + [("d", 1, 8)]
    )
    for rows in (batch1, batch2):
        spark.createDataFrame(
            rows, "kk string, t long, v long"
        ).coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "cusum_store")
    stream = (
        spark.readStream.schema("kk string, t long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_store(
        stream, str(tmp_path / "ck"), cusum_store_update, store,
        ["kk"], "v", "t", baseline=4, drift_frac=0.05, threshold_frac=0.5,
        available_now=True,
    )
    q.awaitTermination(120)

    got = {
        r["kk"]: (
            r["last_o"], r["mu"], r["gp"], r["gn"], r["alarm"],
            None if r["pending"] is None else len(r["pending"]),
        )
        for r in spark.read.parquet(store).collect()
    }

    # one-shot reference over everything except the replayed row
    all_rows = [
        (k, t, v)
        for (k, t, v) in batch1 + batch2
        if not (k == "a" and t == 1 and v == 999)
    ]
    full = spark.createDataFrame(all_rows, "kk string, t long, v long")
    batch = cusum_changepoints(
        full, ["kk"], "t", "v", baseline=4, drift_frac=0.05,
        threshold_frac=0.5,
    )
    last = {}
    for r in batch.collect():
        cur = last.get(r["kk"])
        if cur is None or r["t"] > cur[0]:
            last[r["kk"]] = (r["t"], r["gpos"], r["gneg"], r["alarm_side"])

    for k in ("a", "b", "c"):
        t, gp, gn, al = last[k]
        assert got[k][0] == t and got[k][2] == gp
        assert got[k][3] == gn and got[k][4] == al, k
        assert got[k][5] is None  # no pending buffer
    # the drifted key actually alarmed at some point: final gp resets
    # keep the monitor live (sanity that thresholds were exercised)
    assert any(
        r["alarm_side"] == 1
        for r in batch.where(F.col("kk") == "b").collect()
    )
    # short key: still pending, no state
    assert got["d"][1] is None and got["d"][2] is None
    assert got["d"][5] == 2


def test_store_rejects_reserved_key_names(spark, tmp_path):
    import pytest

    from alphalens_spark.streaming.ops import cusum_store_update

    df = spark.createDataFrame([("a", 1, 10)], "k string, t long, v long")
    with pytest.raises(ValueError, match="collide"):
        cusum_store_update(df, str(tmp_path / "s"), ["k"], "v", "t")

"""Incremental factor_data maintenance (the 100 TB operational path).

The reference recomputes its whole in-memory pipeline on every run — it
has no persistence layer at all (inputs are caller-built pandas frames,
SURVEY §2.1; reference utils.py:666-841 rebuilds everything eagerly). At
100 TB that's the difference between a nightly job over ~max(periods)
trading days of new data and a full re-scan of history.

The design exploits two structural facts of the factor_data DAG
(SURVEY §3):

1. Every cross-sectional stage (quantize, per-date metrics) depends only
   on rows of its own date.
2. Forward returns for date t read prices STRICTLY FORWARD
   (t+1 .. t+max(periods) trading periods, reference utils.py:286-293),
   so a date's cleaned row is immutable once max(periods) future trading
   dates exist in the data.

Therefore the cleaned store is append-only with a bounded "pending tail":
dates within max(periods) of the data's edge are not in the store yet
(their forward returns are incomplete, so cleaning drops them), and an
update only needs panel rows strictly AFTER the last stored date — their
forward prices are also after it. Work scales with the tail, never with
history.

Store layout: parquet partitioned by ``date_key`` (one partition per
trading date) written with dynamic partition overwrite — re-running the
same update rewrites exactly the same partitions, so the operation is
idempotent. Day-level partitions keep the overwrite unit = the recompute
unit; cold months can be compacted/re-bucketed offline without touching
this path (see storage.write_bucketed).

Limits: per-asset full-history operators break the immutability argument;
incremental mode therefore requires ``filter_zscore=None`` (the z-score
outlier filter, reference utils.py:295-299, reads each asset's whole
series — run it in the batch path instead).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alphalens_spark.storage import read_parquet_if_exists

DATE_KEY = "date_key"


def store_last_date(spark: SparkSession, store_path: str):
    """Max stored date, or None when the store doesn't exist yet (a store
    that exists but cannot be read raises).

    One partition-pruned aggregate over the store's partition column —
    reads directory names, not data files.
    """
    stored = read_parquet_if_exists(spark, store_path)
    if stored is None:
        return None
    row = stored.select(F.max(DATE_KEY).alias("mx")).first()
    if row is None or row["mx"] is None:
        return None
    return row["mx"]


def incremental_update(
    spark: SparkSession,
    panel: DataFrame,
    store_path: str,
    periods: Sequence[int] = (1, 5),
    quantiles: int = 5,
) -> dict:
    """Bring a partitioned factor_data store up to date with ``panel``.

    ``panel`` is the (date, asset, price, factor) long panel (same input
    as datasets.factor_data). Only panel dates strictly after the last
    stored date are read; the resulting complete rows are written into
    per-date partitions with dynamic overwrite.

    Returns {"since": last stored date key or None,
             "rows_written": int, "dates_written": int}.
    """
    from alphalens_spark.datasets import _factor_data_from_panel

    last = store_last_date(spark, store_path)
    src = panel
    if last is not None:
        src = panel.where(F.date_format("date", "yyyy-MM-dd") > F.lit(last))

    fd = _factor_data_from_panel(src, periods, quantiles)
    out = fd.withColumn(DATE_KEY, F.date_format("date", "yyyy-MM-dd")).persist()
    rows = out.count()
    dates = out.select(DATE_KEY).distinct().count()
    if rows > 0:
        (
            out.repartition(DATE_KEY)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DATE_KEY)
            .parquet(store_path)
        )
    out.unpersist()
    return {"since": last, "rows_written": rows, "dates_written": dates}


def read_store(
    spark: SparkSession, store_path: str, since=None, until=None
) -> DataFrame:
    """The maintained factor_data table (partition column dropped).

    ``since``/``until`` (dates, timestamps, or 'yyyy-MM-dd' strings,
    inclusive) are applied to the PARTITION column, so they prune to the
    matching ``date_key`` directories at the source — a predicate on the
    ``date`` data column alone would only reach parquet row-group
    filters, not directory pruning (verified by plan assertion in
    tests/test_incremental.py).
    """
    def _key(v) -> str:
        return v if isinstance(v, str) else v.strftime("%Y-%m-%d")

    df = spark.read.parquet(store_path)
    if since is not None:
        df = df.where(F.col(DATE_KEY) >= _key(since))
    if until is not None:
        df = df.where(F.col(DATE_KEY) <= _key(until))
    return df.drop(DATE_KEY)


def incremental_event_rollup(
    spark: SparkSession,
    events: DataFrame,
    store_path: str,
    grain: str = "day",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> dict:
    """Continuous-aggregate maintenance of a time-bucketed event rollup —
    the hypertable/continuous-aggregate pattern (TimescaleDB-style) in
    plain partitioned parquet.

    The store holds one row per (bucket_start, event type) with count /
    sum / min / max, partitioned by bucket key. An update re-aggregates
    ONLY buckets at or after the last stored bucket: earlier buckets are
    immutable once the stream has moved past them (same bounded-tail
    argument as the factor_data store — here the tail is one open
    bucket), and the last stored bucket itself is re-aggregated because
    it may have been partial when written. Dynamic partition overwrite
    rewrites exactly those bucket partitions, so replaying an update is
    idempotent and the store always equals the full batch rollup over
    everything ingested so far (asserted in tests).

    Late data caveat: an event older than the last stored bucket lands in
    an already-final partition; pass it through a re-run with the store's
    affected bucket removed, or bound lateness upstream with the
    streaming path's watermark (streaming.stream_event_counts).

    Returns {"since": last bucket key or None, "buckets_written": int}.
    """
    bucket = F.date_trunc(grain, F.col(ts_col))
    stored = read_parquet_if_exists(spark, store_path)
    last = None
    if stored is not None:
        # partition-type inference may read the key back as TIMESTAMP;
        # cast to string restores the written 'yyyy-MM-dd HH:mm:ss' form
        last = stored.select(
            F.max(F.col("bucket_key").cast("string")).alias("mx")
        ).first()["mx"]
    src = events
    if last is not None:
        src = events.where(
            F.date_format(F.date_trunc(grain, F.col(ts_col)), "yyyy-MM-dd HH:mm:ss")
            >= F.lit(last)
        )
    agg = (
        src.groupBy(bucket.alias("bucket_start"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .withColumn(
            "bucket_key", F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss")
        )
        .persist()
    )
    buckets = agg.select("bucket_key").distinct().count()
    if buckets > 0:
        (
            agg.repartition("bucket_key")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_key")
            .parquet(store_path)
        )
    agg.unpersist()
    return {"since": last, "buckets_written": buckets}

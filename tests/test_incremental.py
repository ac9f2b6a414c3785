"""Incremental factor_data maintenance: the partitioned store after a
catch-up run must equal the full batch recompute, and re-running the same
update must be a no-op (idempotent dynamic partition overwrite)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
    )


def test_incremental_store_matches_full_recompute(spark, tmp_path):
    from alphalens_spark import datasets
    from alphalens_spark.incremental import incremental_update, read_store

    panel = datasets.price_factor_panel(spark, SF_DIR).persist()
    dates = [r["date"] for r in panel.select("date").distinct().orderBy("date").collect()]
    assert len(dates) > 12
    cutoff = dates[-9]  # initial load stops 8 trading dates before the edge
    store = str(tmp_path / "fd_store")

    r1 = incremental_update(spark, panel.where(F.col("date") <= cutoff), store)
    assert r1["since"] is None and r1["rows_written"] > 0

    # catch-up: only dates after the stored maximum are recomputed
    r2 = incremental_update(spark, panel, store)
    assert r2["since"] is not None and r2["rows_written"] > 0
    # the tail the first run could not complete (max period = 5) plus the
    # newly completable dates: strictly fewer dates than a full recompute
    assert r2["dates_written"] < len(dates)

    got = _collect_sorted(read_store(spark, store))
    want = _collect_sorted(datasets.factor_data(spark, SF_DIR))
    assert got == want

    # idempotency: nothing new to complete → no partitions rewritten
    r3 = incremental_update(spark, panel, store)
    assert r3["rows_written"] == 0
    assert _collect_sorted(read_store(spark, store)) == want

    # since= must prune to the matching date_key directories at the
    # source (the 100 TB read path) — a NON-empty PartitionFilters list
    import re

    pruned = read_store(spark, store, since=dates[-12])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m is not None and "date_key" in m.group(1), plan
    assert pruned.count() < read_store(spark, store).count()
    panel.unpersist()


def test_incremental_event_rollup_equals_full_recompute(spark, tmp_path):
    """Feed the events table in three chronological chunks; after each
    update the store must equal the full batch rollup over everything
    ingested so far, and replaying an update must change nothing."""
    from pyspark.sql import functions as F

    from alphalens_spark import datasets
    from alphalens_spark.incremental import incremental_event_rollup

    ev = datasets.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    cuts = ["2024-01-10", "2024-01-20", "2099-01-01"]
    store = str(tmp_path / "rollup")

    def full(upto):
        return {
            (r["bucket_key"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in (
                ev.where(F.col("ts") < F.lit(upto).cast("timestamp"))
                .groupBy(
                    F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss")
                    .alias("bucket_key"),
                    "event_type",
                )
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            ).collect()
        }

    def stored():
        return {
            (r["bucket_key"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in spark.read.parquet(store)
            .withColumn(
                "bucket_key",
                F.date_format(F.col("bucket_key").cast("timestamp"),
                              "yyyy-MM-dd HH:mm:ss"),
            )
            .collect()
        }

    prev_done = None
    for upto in cuts:
        chunk = ev.where(F.col("ts") < F.lit(upto).cast("timestamp"))
        rep = incremental_event_rollup(spark, chunk, store)
        assert stored() == full(upto)
        if prev_done is not None:
            assert rep["since"] is not None
        prev_done = upto
    # idempotent replay of the final state
    rep2 = incremental_event_rollup(spark, ev, store)
    assert stored() == full("2099-01-01")


def test_unreadable_store_raises_not_treated_as_missing(spark, tmp_path):
    """Only a missing store path means "no store yet". A directory that
    exists but holds no readable parquet must fail the update, not be
    taken for a first run that recomputes from scratch."""
    from alphalens_spark.incremental import incremental_event_rollup, store_last_date

    assert store_last_date(spark, str(tmp_path / "missing")) is None
    bad = tmp_path / "bad_store"
    bad.mkdir()
    (bad / "notes.txt").write_text("not parquet\n")
    with pytest.raises(Exception, match="(?i)parquet"):
        store_last_date(spark, str(bad))
    events = spark.createDataFrame(
        [("2024-01-01 10:00:00", "click", 1.0)], "ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(Exception, match="(?i)parquet"):
        incremental_event_rollup(spark, events, str(bad))

"""Streaming factor_data maintenance: panel rows arriving as file batches
must leave the partitioned store equal to the full batch recompute."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
    )


def test_stream_maintenance_matches_batch(spark, tmp_path):
    from alphalens_spark import datasets
    from alphalens_spark.incremental import read_store
    from alphalens_spark.streaming.ops import factor_data_store_update, stream_store

    panel = datasets.price_factor_panel(spark, SF_DIR).persist()
    dates = [r["date"] for r in panel.select("date").distinct().orderBy("date").collect()]
    cutoff = dates[len(dates) // 2]

    src = str(tmp_path / "arrivals")
    # two arrival waves, one file each (arrivals must be date-monotonic
    # across micro-batches — see factor_data_store_update docstring)
    panel.where(F.col("date") <= cutoff).coalesce(1).write.mode("append").parquet(src)
    panel.where(F.col("date") > cutoff).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(panel.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_store(
        stream,
        str(tmp_path / "ckpt"),
        factor_data_store_update,
        store_path=str(tmp_path / "store"),
        raw_path=str(tmp_path / "raw"),
        available_now=True,
    )
    q.awaitTermination(180)

    got = _collect_sorted(read_store(spark, str(tmp_path / "store")))
    want = _collect_sorted(datasets.factor_data(spark, SF_DIR))
    assert got == want
    panel.unpersist()


def test_minhash_store_update_suppresses_across_batches(spark, tmp_path):
    from alphalens_spark.scale.dedup import connected_components, minhash_lsh_duplicates
    from alphalens_spark.streaming.ops import minhash_store_update

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1
        (3, "completely different text about spark query engines and analytics"),
        (4, base + " extra!"),         # near-dup of 1/2, arrives in batch 2
        (5, "another unrelated document mentioning weather patterns and rainfall"),
        (6, "completely different text about spark query engines and analytics!!"),  # near-dup of 3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    store, out = str(tmp_path / "store"), str(tmp_path / "out")

    b1 = df.where("doc_id <= 3")
    b2 = df.where("doc_id > 3")
    minhash_store_update(b1, store, out, threshold=0.5)
    minhash_store_update(b2, store, out, threshold=0.5)
    kept_stream = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # batch analogue over the SAME corpus with the SAME keeper rule
    # (min id per near-dup cluster)
    pairs = minhash_lsh_duplicates(df, threshold=0.5)
    comps = connected_components(pairs)
    losers = {r["node"] for r in comps.collect() if r["node"] != r["comp"]}
    kept_batch = sorted(i for i, _ in docs if i not in losers)

    assert kept_stream == kept_batch
    assert 1 in kept_stream and 3 in kept_stream
    assert 2 not in kept_stream and 4 not in kept_stream and 6 not in kept_stream
    # replayed batch is suppressed by its own store entries (idempotent
    # for the store; at-least-once for out)
    n_before = spark.read.parquet(out).count()
    minhash_store_update(b2, store, out, threshold=0.5)
    assert spark.read.parquet(out).count() == n_before


def test_stream_dedup_minhash_availablenow(spark, tmp_path):
    from alphalens_spark.streaming.ops import minhash_store_update, stream_store

    src = str(tmp_path / "src")
    docs = [(i, f"document number {i} with shared boilerplate text " * 3) for i in range(6)]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src + "/*.parquet")
    q = stream_store(
        stream,
        str(tmp_path / "ckpt"),
        minhash_store_update,
        str(tmp_path / "store2"),
        str(tmp_path / "out2"),
        threshold=0.9,
        available_now=True,
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(str(tmp_path / "out2"))
    # high threshold: the numeric token differs per doc → all admitted
    assert kept.count() == 6

"""Streaming operators over an event-time factor / event stream.

Two kinds of operator live here.

* **Stream transforms** (``stream_factor_stats``, ``stream_sessionize``,
  ``stream_ohlc``, ...) take a *streaming* DataFrame
  (``spark.readStream...``) and return the transformed streaming
  DataFrame; the caller picks the sink (``writeStream``). They are also
  valid on batch DataFrames — the logical plans are identical, which is
  how the tests validate semantics (Trigger.AvailableNow vs batch
  equality).
* **Mergeable stores**: a parquet directory that summarizes everything
  a stream has ever delivered. Each store family has
    - a ``*_store_update(batch_df, store_path, ...)`` step, which writes
      ``merge(store ∪ summary(batch))`` back to the store;
    - no starter of its own: :func:`stream_store` runs any update on
      every micro-batch of a stream and returns the started query;
    - for most families a ``merge_*_stores`` compaction, which writes
      ``merge(∪ generations)``: the same merge rule, applied across N
      independently-maintained stores;
    - a readout (``*_store_estimate``, ``*_store_quantiles``, ...) or a
      plain ``spark.read.parquet(store_path)``.

  Every store is read by :func:`storage.read_parquet_if_exists` and written by
  :func:`_write_store`; each merge rule is one function shared by the
  update and its compaction, so incremental == one-shot holds by
  construction.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint
from alphalens_spark.storage import read_parquet_if_exists


def _write_store(df: DataFrame, path: str, one_file: bool = True) -> None:
    """The self-path overwrite every store uses: materialize off the
    source files first (storage.compact_partitions pattern), then
    overwrite. ``one_file=False`` keeps the key-partitioned
    layout for stores that grow with a key universe (co-occurrence
    pairs, A/B users, IVF-PQ ids): single-file would serialize every
    merge through one task at scale."""
    checkpoint(df.coalesce(1) if one_file else df).write.mode(
        "overwrite"
    ).parquet(path)


def _fold_store(
    part: DataFrame,
    path: str,
    merge: Callable[[DataFrame], DataFrame],
    one_file: bool = True,
) -> None:
    """Write ``merge(store ∪ part)`` to the store at ``path``; on the
    first batch ``part`` is written as is."""
    old = read_parquet_if_exists(part.sparkSession, path)
    merged = part if old is None else merge(old.unionByName(part))
    _write_store(merged, path, one_file)


def _read_union(spark: SparkSession, store_paths: list[str]) -> DataFrame:
    """Union the rows of N persisted store generations — the shared
    first step of every merge_*_stores compaction."""
    return reduce(DataFrame.unionByName, map(spark.read.parquet, store_paths))


def _agg_by(
    keys: list[str], fn: Callable, cols: list[str]
) -> Callable[[DataFrame], DataFrame]:
    """The merge rule of the aggregate stores: per key, ``fn`` over each
    state column — ``F.sum`` for counters (CM, histogram, KM,
    expectations, co-occurrence, DSIR), ``F.max`` for registers and flags
    (HLL, A/B), ``F.bit_or`` for Bloom words."""
    return lambda df: df.groupBy(*keys).agg(*[fn(c).alias(c) for c in cols])


def _kmv_bottom_k(
    hashes: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Distinct → per-group bottom-k by hash — the KMV merge rule,
    shared by in-stream maintenance (kmv_store_update) and
    cross-generation compaction (merge_kmv_stores) so a tie-break or
    rule change lands in one place."""
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        hashes.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _reservoir_top_k(
    rows: DataFrame, k: int, group_cols: list[str], id_col: str
) -> DataFrame:
    """Dedup by id → per-group top-k by A-ES priority — the weighted
    reservoir merge rule, shared by sample_store_update and
    merge_reservoir_stores (one id = one item)."""
    both = rows.dropDuplicates(group_cols + [id_col])
    w = Window.partitionBy(*(group_cols or [F.lit(1)])).orderBy(
        F.col("priority_key").desc(), F.col(id_col)
    )
    return (
        both.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _ivfpq_dedup(rows: DataFrame, id_col: str) -> DataFrame:
    """The IVF-PQ merge rule: one id means one vector, which encodes to
    one index row under the store's frozen quantizers, so any-wins dedup
    by id is exact."""
    return rows.dropDuplicates([id_col])


# HLL registers merge by per-register max, Bloom words by bit OR; each
# rule is shared by its store update and its merge_*_stores
def _hll_merge(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    return _agg_by([*group_cols, "bucket"], F.max, ["max_rho"])


_BLOOM_MERGE = _agg_by(["word"], F.bit_or, ["bits"])


def stream_store(
    stream_df: DataFrame,
    checkpoint_location: str,
    update: Callable[..., None],
    *args,
    available_now: bool = False,
    **kwargs,
):
    """Run ``update(batch_df, *args, **kwargs)`` on every micro-batch of
    ``stream_df`` and return the started query — the one starter of
    every store, e.g.
    ``stream_store(events, ck, hh_store_update, store_path, k=5)``.

    ``available_now=True`` only for sources that honor
    Trigger.AvailableNow (file/kafka); Python DataSource streams degrade
    it to a single batch — drain those with the default trigger +
    ``query.processAllAvailable()`` instead."""
    w = stream_df.writeStream.foreachBatch(
        lambda batch_df, _bid: update(batch_df, *args, **kwargs)
    ).option("checkpointLocation", checkpoint_location)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_factor_stats(
    factor_stream: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
    date_col: str = "date",
) -> DataFrame:
    """Per-event-time-window cross-sectional factor statistics.

    Tumbling window + watermark for late data: the streaming analogue of
    the per-date groupBy that dominates the batch engine (SURVEY §2.4).
    Output: (window, n, mean_factor, std_factor, min_factor, max_factor).
    """
    return (
        factor_stream.withWatermark(date_col, watermark)
        .groupBy(F.window(date_col, window).alias("win"))
        .agg(
            F.count("factor").alias("n"),
            F.avg("factor").alias("mean_factor"),
            F.stddev_samp("factor").alias("std_factor"),
            F.min("factor").alias("min_factor"),
            F.max("factor").alias("max_factor"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n", "mean_factor", "std_factor", "min_factor", "max_factor",
        )
    )


def stream_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 day",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Windowed event distribution (streaming form of plotting.py:903-933)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), type_col)
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(type_col),
            "n",
            "avg_value",
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Stateful gap-based sessionization with ``applyInPandasWithState``.

    The custom-stateful-operator escape hatch (SURVEY steering): per-user
    state holds the open session (start, end, count); each micro-batch
    merges its events in timestamp order, EMITS sessions closed by a
    ``gap_minutes`` silence, and keeps the still-open session in state
    for the next batch. Batch-mode equivalent: the window/running-sum
    plan of ``entry_queries.q_event_sessionize`` — the state here computes
    the same partition incrementally.

    Output (append mode): (user_id, session_start, session_end, n_events)
    for CLOSED sessions only.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    # key column keeps the INPUT's type (string/int/uuid user keys all
    # valid) — hardcoding 'long' would corrupt or reject any non-bigint
    # key while the batch twin accepts them all
    key_ddl = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {key_ddl}, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    state_schema = "session_start long, session_end long, n_events long"

    def fn(key, pdfs, state: GroupState):
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col]))
        ts_us.sort()
        if state.exists:
            start, end, n = state.get
        else:
            start = end = None
            n = 0
        closed = []
        for t in ts_us:
            if start is None:
                start, end, n = t, t, 1
            elif t - end > gap_us:
                closed.append((start, end, n))
                start, end, n = t, t, 1
            else:
                end = t
                n += 1
        if start is not None:
            state.update((start, end, n))
        if closed:
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_running_quantile_counts(
    quantized_stream: DataFrame,
    watermark: str = "2 days",
    window: str = "1 day",
    date_col: str = "date",
) -> DataFrame:
    """Per-window membership counts per factor_quantile — the incremental
    feed for turnover-style monitoring (batch engine recomputes membership
    joins; the stream maintains the per-window counts as managed state)."""
    return (
        quantized_stream.withWatermark(date_col, watermark)
        .groupBy(F.window(date_col, window).alias("win"), "factor_quantile")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.approx_count_distinct("asset").alias("n_assets"),
        )
        .select(
            F.col("win.start").alias("window_start"), "factor_quantile",
            "n_members", "n_assets",
        )
    )


def factor_data_store_update(
    batch_df: DataFrame,
    store_path: str,
    raw_path: str,
    periods=(1, 5),
    quantiles: int = 5,
) -> None:
    """One incremental maintenance step of the canonical factor_data store.

    factor_data is not expressible as a pure streaming aggregation: the
    forward-looking lead means the output row for date t only finalizes
    at t+max(periods) (SURVEY §2.9, reference utils.py:286-293). The
    Spark-idiomatic resolution is micro-batch incremental view
    maintenance (run it under :func:`stream_store`): each batch of
    newly-arrived panel rows is appended to a date-partitioned raw
    (bronze) table at ``raw_path``, then
    ``incremental.incremental_update`` recomputes exactly the
    newly-completable dates into the cleaned store. Work per batch scales
    with the pending tail (≤ max(periods) trading dates), not history —
    the raw re-read is partition-pruned to dates after the store's
    watermark. The update is idempotent (dynamic per-date partition
    overwrite) and the raw re-read drops duplicate (date, asset) rows, so
    checkpoint-replayed batches are safe.

    REQUIREMENT: arrivals must be date-monotonic across micro-batches.
    Rows for dates at or before the store's watermark are ignored — this
    is forced by the row-positional forward-return semantics (reference
    utils.py:286-293): inserting a missing PAST trading date would shift
    every day_idx after it and invalidate already-stored rows. Historical
    backfills therefore go through a windowed batch rebuild
    (incremental_update on a truncated store), not this stream.
    """
    from alphalens_spark.incremental import DATE_KEY, incremental_update

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    (
        batch_df.withColumn(DATE_KEY, F.date_format("date", "yyyy-MM-dd"))
        .write.mode("append")
        .partitionBy(DATE_KEY)
        .parquet(raw_path)
    )
    panel = (
        spark.read.parquet(raw_path)
        .drop(DATE_KEY)
        .dropDuplicates(["date", "asset"])
    )
    incremental_update(spark, panel, store_path, periods, quantiles)


def stream_dedup_exact(
    doc_stream: DataFrame,
    watermark: str = "1 hour",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: emit only the first arrival of each text.

    ``dropDuplicatesWithinWatermark`` on the md5 digest — state stores
    one 16-byte digest per distinct document inside the watermark
    horizon, evicted as event time advances (bounded state, the property
    that makes this run forever at ingest scale; plain dropDuplicates
    would grow state without bound). The batch analogue is
    scale.dedup.exact_duplicates keep_id = first arrival.

    Output: the input rows, first-arrival-per-text only.
    """
    hashed = doc_stream.withColumn("_th", F.md5(F.col(text_col)))
    if doc_stream.isStreaming:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_th"]
        ).drop("_th")
    # batch-equivalence path for tests: same "keep first arrival" rule
    w = Window.partitionBy("_th").orderBy(ts_col)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_th", "_rn")
    )


def stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    every right event of the same key in ``(l.ts - lookback, l.ts]``.

    This is Spark's canonical bounded-state stream-stream join — the
    event-time range condition plus both watermarks lets the engine
    discard right-side state older than ``watermark + lookback``, so
    state is O(key-rate x window), never the full history. It is the
    streaming analogue of :func:`alphalens_spark.joins.asof_join` with a
    tolerance, minus the "latest only" pick (stream-stream join state
    cannot express per-row argmax; complete as-of semantics downstream
    with a groupBy max over the joined rows, or use
    ``applyInPandasWithState`` as stream_sessionize does).

    Right columns come back suffixed. Valid on batch frames too (same
    logical plan) — the tests exercise AvailableNow vs batch equality.
    """
    rcols = [c for c in right_stream.columns if c != by]
    r = right_stream.select(
        F.col(by), *[F.col(c).alias(c + suffix) for c in rcols]
    )
    lw = left_stream.withWatermark(on, watermark)
    rw = r.withWatermark(on + suffix, watermark)
    cond = (
        (lw[by] == rw[by])
        & (rw[on + suffix] <= lw[on])
        & (rw[on + suffix] > lw[on] - F.expr(f"INTERVAL {lookback}"))
    )
    joined = lw.join(rw, cond, how)
    # drop the duplicate right-side key column
    return joined.drop(rw[by])


def _band_rows(
    sigs: DataFrame, bands: int, num_hashes: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_id, band_hash) — the same banding as
    scale.dedup.minhash_lsh_duplicates (xxhash64 over the signature
    slice, seeded by band_id)."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
        F.col("minhash"),
    ).select(
        "id",
        "band_id",
        F.xxhash64(
            F.slice("minhash", F.col("band_id") * rows_per_band + 1, rows_per_band),
            "band_id",
        ).alias("band_hash"),
    )


def minhash_store_update(
    batch_df: DataFrame,
    store_path: str,
    out_path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_hash: str = "xxhash64",
) -> None:
    """One incremental near-dup maintenance step: suppress arriving docs
    that are near-duplicates of anything already ACCEPTED, then admit the
    survivors to ``out_path`` — the LSH upgrade of
    :func:`stream_dedup_exact`: under :func:`stream_store` an arriving
    doc is admitted only if no previously-admitted doc (any batch, ever)
    is MinHash-similar above ``threshold``; callable directly for
    backfills. The state is a persisted signature store because
    near-dup state — band tables probed by equi-join — is exactly a
    growing relation, which the engine's keyed state stores don't model
    but a parquet store does. Accept-first-arrival semantics: earlier
    micro-batches win; within a batch the min id per duplicate cluster
    wins.

    1. within-batch: LSH pairs → connected components → keep the min-id
       doc per duplicate cluster (deterministic keeper);
    2. vs history: probe the persisted signature store's band table with
       the survivors' bands (equi-join on (band_id, band_hash) — linear,
       uniform keys), verify candidates by signature agreement ≥
       threshold, drop matches;
    3. admit: append survivors' docs to ``out_path`` and their
       (sigs, band rows) to the store.

    Work per batch = O(|batch| + |band collisions vs store|); the store
    probe never scans stored TEXT, only 8-byte band hashes. At 100 TB the
    store's bands table is the big side: keep it bucketed on band_hash
    (storage.write_bucketed) so the probe co-locates, and the batch side
    (tiny) broadcasts.
    """
    from alphalens_spark.scale.dedup import (
        connected_components,
        minhash_lsh_duplicates,
        minhash_signatures,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    docs = batch_df.persist()

    # 1. within-batch keep-first (min id per near-dup cluster)
    pairs = minhash_lsh_duplicates(
        docs, text_col, id_col, num_hashes, bands, shingle_k, threshold,
        shingle_hash=shingle_hash,
    )
    comps = connected_components(pairs)  # (node, comp=min reachable id)
    losers = comps.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    survivors = docs.join(F.broadcast(losers), id_col, "left_anti")

    sigs = minhash_signatures(
        survivors, text_col, id_col, num_hashes, shingle_k,
        shingle_hash=shingle_hash,
    ).persist()
    sigs.count()
    new_bands = _band_rows(sigs, bands, num_hashes, id_col)

    # 2. probe accepted history
    store_bands = read_parquet_if_exists(spark, f"{store_path}/bands")
    store_sigs = read_parquet_if_exists(spark, f"{store_path}/sigs")
    sigs_out = sigs
    if store_bands is not None and store_sigs is not None:
        cand = (
            new_bands.join(
                store_bands.select(
                    F.col("id").alias("_old"), "band_id", "band_hash"
                ),
                ["band_id", "band_hash"],
            )
            .select("id", "_old")
            .dropDuplicates(["id", "_old"])
        )
        agree = F.size(
            F.filter(
                F.zip_with("minhash", "_old_sig", lambda x, y: x == y),
                lambda m: m,
            )
        )
        dup_vs_store = (
            sigs.join(F.broadcast(cand), sigs[id_col] == cand["id"])
            .join(
                store_sigs.select(
                    F.col(id_col).alias("_old"),
                    F.col("minhash").alias("_old_sig"),
                ),
                "_old",
            )
            .where(agree.cast("double") / num_hashes >= threshold)
            .select(F.col("id").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(F.broadcast(dup_vs_store), id_col, "left_anti")
        sigs_out = sigs.join(F.broadcast(dup_vs_store), id_col, "left_anti")

    # 3. admit survivors (persist sigs_out's plan result once: it feeds
    # three writes)
    sigs_out = sigs_out.persist()
    survivors.join(sigs_out.select(id_col), id_col, "left_semi").write.mode(
        "append"
    ).parquet(out_path)
    sigs_out.write.mode("append").parquet(f"{store_path}/sigs")
    _band_rows(sigs_out, bands, num_hashes, id_col).write.mode("append").parquet(
        f"{store_path}/bands"
    )
    sigs_out.unpersist()
    sigs.unpersist()
    docs.unpersist()


def cm_store_update(
    batch_df: DataFrame,
    store_path: str,
    item_col: str = "item",
    depth: int = 4,
    width: int = 1024,
) -> None:
    """One incremental count-min maintenance step: sketch the arriving
    micro-batch and MERGE it into the persisted counters — CM merge is
    counter addition, which is why the sketch (unlike an exact top-k
    heap) can be maintained by any number of independent writers and
    stays exactly equal to the sketch of the full history (tested:
    incremental == one-shot).

    The store stays ≤ depth×width rows forever, so the merge cost is
    O(|batch| + depth·width) per batch regardless of history size — the
    100 TB answer to "how many distinct user-agents did we ever see per
    count bucket" style frequency queries.
    """
    from alphalens_spark.scale.profile import cm_sketch

    if batch_df.isEmpty():
        return
    _fold_store(
        cm_sketch(batch_df, item_col, depth, width),
        store_path,
        _agg_by(["row", "col"], F.sum, ["count"]),
    )


def kmv_store_update(
    batch_df: DataFrame,
    store_path: str,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> None:
    """One incremental KMV maintenance step: hash the batch's values and
    keep, per group, the k smallest DISTINCT hashes of store ∪ batch —
    the KMV merge rule (union → bottom-k), under which the maintained
    sketch is exactly the sketch of the full history. Store size is
    bounded at k rows per group. Read estimates off the store with
    :func:`kmv_store_estimate`."""
    from alphalens_spark.scale.dedup import md5_long

    if batch_df.isEmpty():
        return
    h = md5_long(F.col(value_col).cast("string"), 15)
    # bottom-k is idempotent, so folding the batch's bottom-k equals
    # bottom-k over store ∪ batch
    _fold_store(
        _kmv_bottom_k(batch_df.select(*group_cols, h.alias("_h")), group_cols, k),
        store_path,
        lambda df: _kmv_bottom_k(df, group_cols, k),
    )


def kmv_store_estimate(
    spark: SparkSession, store_path: str, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimates off a maintained KMV store — the same
    estimator as scale.profile.kmv_distinct, applied to the persisted
    bottom-k hashes."""
    h_max = float(1 << 60)
    est = F.when(
        F.col("n_mins") < k, F.col("n_mins").cast("double")
    ).otherwise(F.lit(float(k - 1)) / (F.col("_kth").cast("double") / F.lit(h_max)))
    return (
        spark.read.parquet(store_path)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("int").alias("n_mins"), F.max("_h").alias("_kth"))
        .select(*group_cols, "n_mins", F.round(est, 6).alias("est_distinct"))
    )


def hll_store_update(
    batch_df: DataFrame,
    store_path: str,
    group_cols: list[str],
    value_col: str,
    p: int = 6,
) -> None:
    """One incremental HyperLogLog maintenance step — the SIXTH
    mergeable-store algebra (element-wise MAX): sketch the arriving
    micro-batch's values into (group, bucket, max_rho) registers and
    merge them into the persisted store by per-register max. Register
    max over disjoint histories IS the register of the concatenated
    history (max is associative, commutative, idempotent), so the
    maintained store equals the one-shot sketch of everything ever seen
    — bit-exactly, regardless of batching, and idempotent under batch
    REPLAY (unlike the addition family, a re-delivered batch cannot
    inflate it). State stays ≤ 2^p rows per group forever. Read
    estimates off the store with :func:`hll_store_estimate`; compact
    generations with :func:`merge_hll_stores`. ``p`` is the store's
    contract — registers hashed under one precision cannot be re-binned.
    The streaming answer to "how many distinct X per group, ever" when
    per-group bottom-k hashes (the KMV store) is already too much state.
    """
    from alphalens_spark.scale.profile import hll_registers

    if batch_df.isEmpty():
        return
    _fold_store(
        hll_registers(batch_df, group_cols, value_col, p),
        store_path,
        _hll_merge(group_cols),
    )


def hll_store_estimate(
    spark: SparkSession,
    store_path: str,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """Distinct-count estimates off a maintained HLL store — the same
    estimator expression as scale.profile.hll_distinct
    (scale.profile.hll_estimate is shared by both), applied to the
    persisted registers."""
    from alphalens_spark.scale.profile import hll_estimate

    return hll_estimate(spark.read.parquet(store_path), group_cols, p)


def merge_hll_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
    group_cols: list[str],
) -> None:
    """Compact N independently-maintained HLL store GENERATIONS into one
    — the element-wise-max compaction (the six are listed at
    :func:`merge_counter_stores`): per-register max over the union of
    generations is exactly the register set of the concatenated
    histories, so the compacted store answers with the same numbers one
    big stream would have. Cost O(Σ store sizes) ≤ O(N·2^p·|groups|),
    independent of the data the stores summarize."""
    _write_store(_hll_merge(group_cols)(_read_union(spark, store_paths)), out_path)


def km_store_update(
    batch_df: DataFrame,
    store_path: str,
    group_cols: list[str],
    duration_col: str = "duration",
    event_col: str = "event",
) -> None:
    """One incremental survival-counter maintenance step — the
    Kaplan-Meier store, an ADDITION-algebra member: per (group, t) the
    observed-event and censored counts, which sum over disjoint subject
    batches (each subject's final (duration, event) arrives exactly
    once — the same exactly-once group contract as the co-occurrence
    store's basket-complete batches). The store stays bounded by
    |groups| × duration-domain rows forever; the KM curve is a pure
    function of the counters, read with :func:`km_store_survival`.
    Compaction across generations is plain
    :func:`merge_counter_stores` on (n_events, n_censored)."""
    if batch_df.isEmpty():
        return
    ev = F.col(event_col).cast("int")
    batch_c = (
        batch_df.where(F.col(duration_col).isNotNull() & ev.isNotNull())
        .groupBy(*group_cols, F.col(duration_col).cast("long").alias("t"))
        .agg(
            F.sum(ev).alias("n_events"),
            F.sum(F.lit(1) - ev).alias("n_censored"),
        )
    )
    _fold_store(
        batch_c,
        store_path,
        _agg_by([*group_cols, "t"], F.sum, ["n_events", "n_censored"]),
    )


def km_store_survival(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> DataFrame:
    """Kaplan-Meier curves off a maintained survival-counter store —
    the same estimator as events.kaplan_meier (events.km_from_counts is
    shared by both), applied to the persisted per-(group, t) counts."""
    from alphalens_spark.events import km_from_counts

    return km_from_counts(spark.read.parquet(store_path), group_cols)


def hist_store_update(
    batch_df: DataFrame,
    store_path: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> None:
    """One incremental fixed-grid histogram maintenance step — the third
    mergeable sketch store (CM = counter add, KMV = union→bottom-k,
    histogram = per-bin counter add). Streaming fixes the bin GRID up
    front (lo/hi/bins are the store's contract — batch
    histogram_quantiles can derive the range from data; a stream cannot
    revisit history to re-bin), values clamp into the edge bins. State
    ≤ bins rows forever; incremental == one-shot by construction. Read
    quantiles any time with :func:`hist_store_quantiles`, without
    stopping the stream.
    """
    if batch_df.isEmpty():
        return
    v = F.col(value_col).cast("double")
    width = (hi - lo) / float(bins)
    idx = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    batch_h = (
        batch_df.where(v.isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    _fold_store(batch_h, store_path, _agg_by(["bin"], F.sum, ["count"]))


def hist_store_quantiles(
    spark: SparkSession,
    store_path: str,
    probs: list[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Quantile readout off a maintained histogram store: cumulative bin
    counts → linear interpolation inside the bin crossing each target
    rank — the same estimator family as
    scale.profile.histogram_quantiles, on the store's fixed grid.
    Deterministic (a pure function of the counters). Output:
    (prob, est_quantile)."""
    width = (hi - lo) / float(bins)
    h = spark.read.parquet(store_path)
    n = h.agg(F.sum("count").alias("_n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # ≤ bins rows: the ordered window is bounded by the grid, not data
    cum = h.withColumn("_cum", F.sum("count").over(w)).crossJoin(F.broadcast(n))
    probs_df = spark.createDataFrame([(float(p),) for p in probs], "prob double")
    pj = cum.join(
        F.broadcast(probs_df), F.col("prob") * F.col("_n") <= F.col("_cum")
    )
    pick = Window.partitionBy("prob").orderBy("bin")
    first = pj.withColumn("_rn", F.row_number().over(pick)).where(F.col("_rn") == 1)
    frac = (F.col("prob") * F.col("_n") - (F.col("_cum") - F.col("count"))) / F.col(
        "count"
    )
    est = F.lit(lo) + (F.col("bin") + frac) * F.lit(width)
    return first.select("prob", F.round(est, 6).alias("est_quantile"))


def hh_store_update(
    batch_df: DataFrame,
    store_path: str,
    item_col: str = "item",
    k: int = 10,
    depth: int = 4,
    width: int = 1024,
    slack: int = 8,
) -> None:
    """One streaming heavy-hitters maintenance step: CM counters +
    bounded candidate set (the classic CM-plus-heap structure, kept
    relational).

    Two sub-stores under ``store_path``: ``cm/`` is the exact mergeable
    count-min of the full history (:func:`cm_store_update`); ``cand/``
    holds at most k·slack candidate items — each batch unions the
    batch's distinct items into the candidates, re-estimates every
    candidate against the MERGED sketch (so a returning item's estimate
    reflects its whole history, not just batches where it was a
    candidate), and prunes back to the k·slack best. State is
    O(depth·width + k·slack) forever. The pruning is the one
    approximation beyond CM noise: an item can only be lost while its
    running estimate is below the current (k·slack)-th candidate —
    growing ``slack`` buys the usual space-for-recall trade. Read the
    answer any time with :func:`hh_store_topk`, without stopping the
    stream.
    """
    from alphalens_spark.scale.profile import cm_estimate

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    cm_path = f"{store_path}/cm"
    cand_path = f"{store_path}/cand"
    cm_store_update(batch_df, cm_path, item_col, depth, width)
    new_items = batch_df.select(
        F.col(item_col).cast("string").alias("item")
    ).distinct()
    old = read_parquet_if_exists(spark, cand_path)
    cand = (
        new_items
        if old is None
        else old.select("item").unionByName(new_items).distinct()
    )
    sketch = spark.read.parquet(cm_path)
    pruned = (
        cm_estimate(sketch, cand, width=width, depth=depth)
        .orderBy(F.col("est_count").desc(), F.col("item"))
        .limit(k * slack)
    )
    _write_store(pruned, cand_path)


def hh_store_topk(
    spark: SparkSession,
    store_path: str,
    k: int = 10,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Current top-k heavy hitters off a maintained store: re-estimate
    the persisted candidates against the persisted counters (so the
    readout always reflects the latest merge) and keep the k best —
    same (est_count desc, item) order contract as the batch twin
    :func:`alphalens_spark.scale.profile.heavy_hitters`."""
    from alphalens_spark.scale.profile import cm_estimate

    sketch = spark.read.parquet(f"{store_path}/cm")
    cand = spark.read.parquet(f"{store_path}/cand").select("item")
    return (
        cm_estimate(sketch, cand, width=width, depth=depth)
        .orderBy(F.col("est_count").desc(), F.col("item"))
        .limit(k)
    )


def merge_kmv_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
    group_cols: list[str],
    k: int = 64,
) -> None:
    """Compact N independently-maintained KMV store GENERATIONS into one
    store (round-8: the stores proved incremental == one-shot within a
    stream, but a deployment also shards streams — per-region sidecars,
    blue/green checkpoints, backfill + live — and must be able to fold
    the resulting store generations back into one). The KMV merge rule
    is closed under this: union of bottom-k sets → distinct → bottom-k
    per group IS the sketch of the concatenated histories, exactly —
    so the compacted store answers with the same numbers the one big
    stream would have. Cost: O(Σ store sizes) = O(N·k·|groups|),
    independent of the data the stores summarize."""
    topk = _kmv_bottom_k(_read_union(spark, store_paths), group_cols, k)
    _write_store(topk, out_path)


def merge_counter_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
    key_cols: list[str],
    count_cols: list[str],
) -> None:
    """Compact N generations of any ADDITION-merge store (count-min
    counters, fixed-grid histogram bins, Kaplan-Meier counters,
    expectations violation counters, pair co-occurrence counts, DSIR
    bucket counts) into one: counters over disjoint histories sum. One
    of six compactions, one per merge algebra: union→bottom-k
    (:func:`merge_kmv_stores`), addition (this one), priority top-k
    (:func:`merge_reservoir_stores`), id-dedup
    (:func:`merge_ivfpq_stores`), bit OR (:func:`merge_bloom_stores`)
    and element-wise max (:func:`merge_hll_stores`)."""
    _write_store(
        _agg_by(key_cols, F.sum, count_cols)(_read_union(spark, store_paths)),
        out_path,
    )


def bloom_store_update(
    batch_df: DataFrame,
    store_path: str,
    key_cols: list[str],
    n_bits: int = 1 << 16,
    depth: int = 4,
) -> None:
    """One incremental Bloom membership-filter maintenance step — the
    FIFTH mergeable-store algebra (bit OR): the filter of the full
    history is the bitwise OR of per-batch filters under the same hash
    family (Bloom insertion is set union on the bit array), so
    incremental == one-shot BIT-EXACTLY regardless of batching. Store
    stays ≤ n_bits/64 (word, bits) rows forever; read it back with
    :func:`bloom_store_prefilter` to prune a fact table's shuffle to
    only possibly-tracked keys — the sharded-deployment form of
    joins.bloom_filtered_join, without ever re-reading the tracked set.
    ``n_bits``/``depth`` are the store's contract (a filter cannot be
    re-hashed from its bits) — keep them fixed across the store's life.
    Under :func:`stream_store` it answers 'have we EVER seen this key'
    at O(n_bits/8) state: no false negatives, with a false-positive rate
    set by n_bits/depth vs the tracked cardinality.
    """
    from alphalens_spark.joins import bloom_words

    if batch_df.isEmpty():
        return
    _fold_store(
        bloom_words(batch_df, key_cols, n_bits=n_bits, depth=depth),
        store_path,
        _BLOOM_MERGE,
    )


def bloom_store_prefilter(
    spark: SparkSession,
    store_path: str,
    big: DataFrame,
    key_cols: list[str],
    n_bits: int = 1 << 16,
    depth: int = 4,
) -> DataFrame:
    """Rows of ``big`` whose key MAY be in the maintained Bloom store
    (no false negatives — every truly-tracked key survives; false
    positives ride through to whatever verification join follows). The
    store rows re-assemble into keyed_bloom's 1-row map and probe via
    joins.bloom_prune — constant-time bit tests per row against a
    broadcast that is n_bits/8 bytes no matter how large the tracked
    set grew."""
    from alphalens_spark.joins import bloom_prune

    bf = (
        spark.read.parquet(store_path)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("_bf")
        )
    )
    return bloom_prune(big, bf, key_cols, n_bits=n_bits, depth=depth)


def merge_bloom_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
) -> None:
    """Compact N Bloom store generations into one: bit OR per word —
    the same closure :func:`bloom_store_update` relies on within a
    stream (generations must share n_bits/depth, the store contract)."""
    _write_store(_BLOOM_MERGE(_read_union(spark, store_paths)), out_path)


def merge_reservoir_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
    k: int = 100,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> None:
    """Compact N weighted-reservoir store generations into one: A-ES
    priorities are deterministic functions of (id, weight), so the
    top-k of the union of the generations' kept rows IS the sample of
    the concatenated histories — the same closure
    :func:`sample_store_update` relies on within a stream, applied
    across stores. Ids colliding across generations dedupe by id
    (same contract as the store update: one id = one item)."""
    topk = _reservoir_top_k(
        _read_union(spark, store_paths), k, list(group_cols or []), id_col
    )
    _write_store(topk, out_path)


def merge_ivfpq_stores(
    spark: SparkSession,
    store_paths: list[str],
    out_path: str,
    id_col: str = "vec_id",
) -> None:
    """Compact N IVF-PQ index store generations into one — the
    APPEND-SET merge algebra (the third after union→bottom-k and
    counter addition): index rows are pure functions of the vector
    under the generations' SHARED frozen quantizers, so the merged
    index is just the union deduped by id (an id colliding across
    generations must be the same vector and encodes identically, so
    any-wins dedup is exact). Completes the sharded-ANN deployment
    story: per-shard streams maintain per-shard indexes; this folds
    them into the one searchable store."""
    _write_store(
        _ivfpq_dedup(_read_union(spark, store_paths), id_col),
        out_path,
        one_file=False,
    )


def sketch_store_update(
    batch_df: DataFrame,
    cm_path: str,
    kmv_path: str,
    item_col: str = "item",
    group_col: str = "g",
    depth: int = 4,
    width: int = 1024,
    k: int = 64,
) -> None:
    """Maintain BOTH mergeable sketches (count-min counters at
    ``cm_path`` + per-group KMV bottom-k at ``kmv_path``) from one
    micro-batch, read once — the streaming analytics sidecar: bounded
    state, exact equality with the batch sketch of everything ever seen,
    queryable at any time without stopping the stream."""
    batch_df = batch_df.persist()
    cm_store_update(batch_df, cm_path, item_col, depth, width)
    kmv_store_update(batch_df, kmv_path, [group_col], item_col, k)
    batch_df.unpersist()


def stream_decayed_activity(
    events: DataFrame,
    half_life_hours: float = 24.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Stateful streaming twin of :func:`alphalens_spark.events.
    decayed_activity`: per-user exponential-decay state maintained with
    ``applyInPandasWithState``.

    The algebra that makes the state O(1) per user: a decayed sum is
    *time-shiftable* — S(t') = S(t)·2^(−(t'−t)/hl) — so the state is
    just (anchor_ts, decayed_count, decayed_value, n) re-anchored to
    each batch's newest event. Every micro-batch: shift the old state to
    the new anchor, add the batch's contributions (each weighted to the
    anchor), emit the updated row. Late events need no special case —
    their weight 2^(−age/hl) is simply > the weight an on-time arrival
    would have had, exactly as the batch op computes it.

    Output (update mode): one row per user seen in the batch with the
    decayed totals at that user's newest-event anchor. Rescale to a
    global snapshot T by multiplying 2^(−(T − anchor)/hl) — a pure
    projection the reader owns (anchors differ per user).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hl_us = half_life_hours * 3600.0 * 1e6
    # key column keeps the INPUT's type (string/int/uuid user keys all
    # valid) — hardcoding e.g. 'long' would corrupt or reject any
    # non-bigint key while the batch twin accepts them all
    key_ddl = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {key_ddl}, anchor timestamp, n_events long, "
        "decayed_count double, decayed_value double"
    )
    state_schema = "anchor long, n long, dcount double, dvalue double"

    def fn(key, pdfs, state: GroupState):
        rows = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col])
            for t, v in zip(ts, pdf[value_col]):
                rows.append((int(t.value // 1000), float(v)))
        if not rows:
            return
        if state.exists:
            anchor, n, dcount, dvalue = state.get
        else:
            anchor, n, dcount, dvalue = None, 0, 0.0, 0.0
        new_anchor = max(t for t, _ in rows)
        if anchor is not None and anchor > new_anchor:
            new_anchor = anchor  # batch entirely late: keep the anchor
        if anchor is not None:
            shift = 2.0 ** (-(new_anchor - anchor) / hl_us)
            dcount *= shift
            dvalue *= shift
        for t, v in rows:
            w = 2.0 ** (-(new_anchor - t) / hl_us)
            dcount += w
            dvalue += w * v
            n += 1
        state.update((new_anchor, n, dcount, dvalue))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "anchor": [pd.Timestamp(new_anchor, unit="us")],
                "n_events": [n],
                "decayed_count": [dcount],
                "decayed_value": [dvalue],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def expectations_store_update(
    batch_df: DataFrame, store_path: str, rules: dict[str, str]
) -> None:
    """One incremental data-quality maintenance step: evaluate the named
    SQL expectations over the arriving micro-batch
    (scale.profile.validate_expectations) and MERGE the per-rule
    violation counters into the persisted store — counts merge by
    addition, so the store always equals the one-shot evaluation of the
    full history (the CM-store discipline applied to quality gates: a
    stream answers "has anything EVER violated rule X" without
    reprocessing history). State is ≤ |rules| rows forever. Read the
    verdict any time with ``spark.read.parquet(store_path)`` (pass =
    n_violations == 0)."""
    from alphalens_spark.scale.profile import validate_expectations

    if batch_df.isEmpty():
        return
    _fold_store(
        validate_expectations(batch_df, rules).select(
            "rule", "n_rows", "n_violations"
        ),
        store_path,
        _agg_by(["rule"], F.sum, ["n_rows", "n_violations"]),
    )


def scd2_store_update(
    batch_df: DataFrame,
    store_path: str,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "day",
) -> None:
    """One incremental SCD2 maintenance step over a snapshot stream.

    The store is the full SCD2 table (keys + attrs + valid_from +
    valid_to, NULL = open). Each micro-batch of snapshots touches ONLY
    its own keys: the store splits into untouched rows (pass through
    unchanged — at scale this is a partition-pruned anti-set, not a
    rewrite) and affected keys, whose OPEN rows re-enter the run
    computation as pseudo-snapshots at their own valid_from — so a
    state that continues across the batch boundary extends its open
    interval instead of opening a duplicate, and a changed state closes
    it at the new snapshot's time. Closed history rows are immutable by
    construction (SCD2's defining property), so the merge never revisits
    them. The store always equals the batch
    :func:`alphalens_spark.events.scd2_from_snapshots` of every snapshot
    seen (tested).

    REQUIREMENT: snapshots must arrive time-monotonic per key (the same
    watermark contract as :func:`factor_data_store_update`) — a late
    snapshot BEFORE a closed interval would have to rewrite history,
    which is a batch rebuild (events.scd2_from_snapshots), not a stream.
    """
    from alphalens_spark.events import scd2_from_snapshots

    if batch_df.isEmpty():
        return
    keys = list(key_cols)
    snap = batch_df.select(*keys, *attr_cols, ts_col)
    store = read_parquet_if_exists(batch_df.sparkSession, store_path)
    if store is None:
        merged = scd2_from_snapshots(snap, keys, list(attr_cols), ts_col)
    else:
        bkeys = snap.select(*keys).distinct()
        affected = store.join(bkeys, keys, "left_semi")
        untouched = store.join(bkeys, keys, "left_anti")
        # open rows of affected keys re-enter as pseudo-snapshots at
        # their valid_from; closed rows are immutable history
        reopened = affected.where(F.col("valid_to").isNull()).select(
            *keys, *attr_cols, F.col("valid_from").alias(ts_col)
        )
        closed = affected.where(F.col("valid_to").isNotNull())
        recomputed = scd2_from_snapshots(
            reopened.unionByName(snap), keys, list(attr_cols), ts_col
        )
        merged = untouched.unionByName(closed).unionByName(recomputed)
    _write_store(merged, store_path)


def holt_store_update(
    batch_df: DataFrame,
    store_path: str,
    key_cols: list[str],
    value_col: str,
    order_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> None:
    """One incremental Holt level+trend smoothing step — store #13.

    The store holds ONE row per key: (keys, last_o, level, trend) — the
    current smoothing state. Each micro-batch folds only its NEW rows
    (order > stored last_o, the same monotone contract as the SCD2/CDC
    stores) per key, SEEDED from the stored state, so applying batches
    split at any boundary reproduces the one-shot
    :func:`alphalens_spark.performance.holt_linear` final state
    BIT-EXACTLY: the recurrence is a left-to-right fold with a pinned
    multiply-add order, and a seeded continuation executes the
    identical operation sequence the full fold does. Unseen keys start
    fresh (level = x₀, trend = 0). Untouched store keys pass through.
    """
    from alphalens_spark.performance import _holt_step

    if batch_df.isEmpty():
        return
    keys = list(key_cols)
    snap = batch_df.select(
        *keys,
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())
    store = read_parquet_if_exists(batch_df.sparkSession, store_path)
    if store is None:  # first batch: empty store
        store = (
            snap.select(*keys)
            .where(F.lit(False))
            .withColumn(
                "last_o", F.lit(None).cast(snap.schema["_o"].dataType)
            )
            .withColumn("level", F.lit(None).cast("double"))
            .withColumn("trend", F.lit(None).cast("double"))
        )
    bkeys = snap.select(*keys).distinct()
    untouched = store.join(bkeys, keys, "left_anti")
    seeded = snap.join(store, keys, "left")
    # drop already-folded rows (replays under at-least-once delivery)
    seeded = seeded.where(
        F.col("last_o").isNull() | (F.col("_o") > F.col("last_o"))
    )
    arr = seeded.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_o").alias("o"), F.col("_v").alias("v")))
        ).alias("xs"),
        F.first("level", ignorenulls=True).alias("_l0"),
        F.first("trend", ignorenulls=True).alias("_b0"),
    )

    seed = F.when(
        F.col("_l0").isNotNull(),
        F.array(F.struct(F.col("_l0").alias("l"), F.col("_b0").alias("b"))),
    ).otherwise(F.array().cast("array<struct<l:double,b:double>>"))
    folded = arr.select(
        *keys,
        F.element_at("xs", -1)["o"].alias("last_o"),
        F.element_at(
            F.aggregate(F.col("xs"), seed, _holt_step(alpha, beta)), -1
        ).alias("_st"),
    ).select(
        *keys,
        "last_o",
        F.col("_st.l").alias("level"),
        F.col("_st.b").alias("trend"),
    )
    # keys whose batch rows were ALL replays keep their stored state
    replay_only = (
        store.join(bkeys, keys, "left_semi")
        .join(folded.select(*keys), keys, "left_anti")
    )
    _write_store(
        untouched.unionByName(replay_only).unionByName(folded), store_path
    )


def cusum_store_update(
    batch_df: DataFrame,
    store_path: str,
    key_cols: list[str],
    value_col: str,
    order_col: str,
    baseline: int = 7,
    drift_frac: float = 0.05,
    threshold_frac: float = 0.5,
) -> None:
    """One incremental two-sided CUSUM monitoring step — store #14, the
    streaming twin of :func:`alphalens_spark.events.cusum_changepoints`
    (drift alarms on a LIVE series is the op's natural deployment).

    The store holds ONE row per key: (keys, last_o, mu, k, h, gp, gn,
    alarm, pending). Until a key has seen ``baseline`` observations its
    rows BUFFER in ``pending`` (bounded: at most ``baseline`` rows per
    key) because the batch op's target mean μ is defined over the first
    ``baseline`` observations — g values cannot be emitted before μ is
    fixed without breaking exactness. Once the baseline completes, μ/k/h
    freeze and the whole buffered+new history folds; afterwards each
    micro-batch folds only its NEW rows (order > last_o, the monotone
    replay contract) seeded from (gp, gn, alarm). The recursion is
    all-integer, so N split batches equal the one-shot batch op's final
    state EXACTLY — the seeded fold executes the identical op sequence
    (a fresh fold from seed (0,0,0) reproduces the batch head row too,
    so no first-row special case exists).

    Honest boundary: a key whose TOTAL history never reaches
    ``baseline`` stays pending here (a stream cannot know a series
    ended), while the batch op truncates the baseline window instead —
    the equality proof covers keys that complete their baseline.
    """
    from alphalens_spark.events import (
        _cusum_limits,
        _cusum_step,
        _cusum_zero_state,
    )

    if batch_df.isEmpty():
        return
    keys = list(key_cols)
    reserved = {"last_o", "mu", "k", "h", "gp", "gn", "alarm", "pending"}
    clash = reserved & set(keys)
    if clash:
        raise ValueError(
            f"key column(s) {sorted(clash)} collide with the store's state "
            f"columns {sorted(reserved)}; rename the key column(s)"
        )
    snap = batch_df.select(
        *keys,
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("long").alias("_v"),
    ).where(F.col("_v").isNotNull())
    o_type = snap.schema["_o"].dataType.simpleString()
    pend_type = f"array<struct<o:{o_type},v:bigint>>"
    store = read_parquet_if_exists(batch_df.sparkSession, store_path)
    if store is None:  # first batch: empty store
        store = (
            snap.select(*keys)
            .where(F.lit(False))
            .withColumn("last_o", F.lit(None).cast(o_type))
            .withColumn("mu", F.lit(None).cast("long"))
            .withColumn("k", F.lit(None).cast("long"))
            .withColumn("h", F.lit(None).cast("long"))
            .withColumn("gp", F.lit(None).cast("long"))
            .withColumn("gn", F.lit(None).cast("long"))
            .withColumn("alarm", F.lit(None).cast("int"))
            .withColumn("pending", F.lit(None).cast(pend_type))
        )
    bkeys = snap.select(*keys).distinct()
    untouched = store.join(bkeys, keys, "left_anti")
    seeded = snap.join(store, keys, "left")
    seeded = seeded.where(
        F.col("last_o").isNull() | (F.col("_o") > F.col("last_o"))
    )
    arr = seeded.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_o").alias("o"), F.col("_v").alias("v")))
        ).alias("new"),
        F.first("mu", ignorenulls=True).alias("_mu0"),
        F.first("k", ignorenulls=True).alias("_k0"),
        F.first("h", ignorenulls=True).alias("_h0"),
        F.first("gp", ignorenulls=True).alias("_gp0"),
        F.first("gn", ignorenulls=True).alias("_gn0"),
        F.first("alarm", ignorenulls=True).alias("_al0"),
        F.first("pending", ignorenulls=True).alias("_pend0"),
    )
    # pending ∪ new stays the per-key history prefix (monotone contract);
    # for an established key pending is empty so combined == new
    combined = F.array_sort(
        F.concat(
            F.coalesce(F.col("_pend0"), F.array().cast(pend_type)),
            F.col("new"),
        )
    )
    base_sum = F.aggregate(
        F.slice(combined, 1, baseline),
        F.lit(0).cast("long"),
        lambda a, x: a + x["v"],
    )
    mu_new = F.when(
        F.size(combined) >= baseline,
        F.round(base_sum / F.lit(baseline)).cast("long"),
    )
    k_new, h_new = _cusum_limits(mu_new, drift_frac, threshold_frac)
    mu_eff = F.coalesce(F.col("_mu0"), mu_new)
    k_eff = F.coalesce(F.col("_k0"), k_new)
    h_eff = F.coalesce(F.col("_h0"), h_new)
    # established keys fold only their new rows; freshly-completed
    # baselines fold the whole buffered history from the zero seed
    fold_input = F.when(F.col("_mu0").isNotNull(), F.col("new")).otherwise(
        F.when(F.size(combined) >= baseline, combined).otherwise(
            F.array().cast(pend_type)
        )
    )
    seed = F.when(
        F.col("_mu0").isNotNull(),
        F.struct(
            F.col("_gp0").alias("gp"),
            F.col("_gn0").alias("gn"),
            F.col("_al0").alias("alarm"),
        ),
    ).otherwise(_cusum_zero_state())
    staged = arr.select(
        *keys,
        combined.alias("_combined"),
        fold_input.alias("_fold_in"),
        F.array(seed).alias("_seed"),
        mu_eff.alias("_mu"),
        k_eff.alias("_k"),
        h_eff.alias("_h"),
    )

    final = F.element_at(
        F.aggregate(F.col("_fold_in"), F.col("_seed"), _cusum_step), -1
    )
    folded = staged.select(
        *keys,
        F.element_at("_combined", -1)["o"].alias("last_o"),
        F.col("_mu").alias("mu"),
        F.col("_k").alias("k"),
        F.col("_h").alias("h"),
        F.when(F.col("_mu").isNotNull(), final["gp"]).alias("gp"),
        F.when(F.col("_mu").isNotNull(), final["gn"]).alias("gn"),
        F.when(F.col("_mu").isNotNull(), final["alarm"]).alias("alarm"),
        F.when(F.col("_mu").isNull(), F.col("_combined")).alias("pending"),
    )
    replay_only = (
        store.join(bkeys, keys, "left_semi")
        .join(folded.select(*keys), keys, "left_anti")
    )
    _write_store(
        untouched.unionByName(replay_only).unionByName(folded), store_path
    )


def cdc_store_update(
    batch_df: DataFrame,
    store_path: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """One incremental merge step of a CDC feed into a keyed snapshot
    store — the streaming twin of :func:`alphalens_spark.scale.cdc.apply_cdc`.

    The store at ``store_path`` is the CURRENT snapshot (keys + payload,
    no op/seq), queryable with ``spark.read.parquet(store_path)``. Each
    micro-batch reduces to its latest change per key and merges:
    untouched keys pass through, winning upserts replace/insert, winning
    deletes drop. Applying batches in feed order leaves the store
    equal to the one-shot ``apply_cdc(base, whole_feed)`` (tested).

    REQUIREMENT: per-key ``seq`` must be monotone ACROSS batches (the
    same contract every CDC consumer has — a change arriving after a
    higher-seq change for the same key was already applied would need a
    base + full-log rebuild, which is the batch operator's job).
    """
    from alphalens_spark.scale.cdc import apply_cdc, latest_changes

    if batch_df.isEmpty():
        return
    keys = list(key_cols)
    store = read_parquet_if_exists(batch_df.sparkSession, store_path)
    if store is None:  # first batch: empty base
        payload = [c for c in batch_df.columns if c not in (*keys, op_col, seq_col)]
        latest = latest_changes(batch_df, keys, seq_col)
        merged = latest.where(F.col(op_col) != "D").select(*keys, *payload)
    else:
        merged = apply_cdc(store, batch_df, keys, op_col=op_col, seq_col=seq_col)
    _write_store(merged, store_path)


def cooccurrence_store_update(
    batch_df: DataFrame,
    store_path: str,
    basket_col: str,
    item_col: str,
    max_basket: int | None = None,
) -> None:
    """One incremental co-occurrence maintenance step: pair-count the
    arriving micro-batch's baskets and MERGE into the persisted pair
    store — pair counts merge by addition (same contract as the CM /
    KMV / histogram stores), so the store equals the one-shot
    :func:`alphalens_spark.scale.affinity.cooccurrence_pairs` of the
    full history PROVIDED each basket arrives within one batch (basket
    fragments split across batches under-count their cross-batch pairs;
    batch on a basket-complete boundary — e.g. stream_store over a
    sessionized or order-complete feed).

    Store size is bounded by the distinct-pair universe, not history
    length; merge cost is O(|batch pairs| + |store|) per batch. The
    store feeds :func:`alphalens_spark.scale.affinity.association_rules`
    -style readouts with ``spark.read.parquet(store_path)``.
    """
    from alphalens_spark.scale.affinity import cooccurrence_pairs

    if batch_df.isEmpty():
        return
    # the pair universe grows with the item catalog: keep the
    # key-partitioned layout
    _fold_store(
        cooccurrence_pairs(batch_df, basket_col, item_col, max_basket=max_basket),
        store_path,
        _agg_by(["item_a", "item_b"], F.sum, ["n_baskets"]),
        one_file=False,
    )


def stream_ohlc(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    by: list[str] | None = None,
) -> DataFrame:
    """Streaming OHLC bars: the watermarked tumbling-window twin of
    :func:`alphalens_spark.events.ohlc_bars`. min_by/max_by over the
    (ts, id) order struct are declarative aggregates, so open/close
    maintain incrementally inside the windowed state — no custom
    stateful operator needed; late data beyond ``watermark`` is
    dropped by contract.

    Output matches the batch op: (bar_ts, by…, open, high, low, close,
    n, volume) with bar_ts = window start.
    """
    from alphalens_spark.events import _ohlc_aggs

    keys = [F.window(ts_col, window).alias("win")] + [
        F.col(c) for c in (by or [])
    ]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*_ohlc_aggs(ts_col, value_col, id_col))
        .select(
            F.col("win.start").alias("bar_ts"),
            *[F.col(c) for c in (by or [])],
            "open", "high", "low", "close", "n", "volume",
        )
    )


def sample_store_update(
    batch_df: DataFrame,
    store_path: str,
    weight_col: str,
    k: int = 100,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> None:
    """One incremental weighted-reservoir maintenance step: A-ES
    priorities (Efraimidis & Spirakis) are MERGEABLE — the weighted
    sample of the full history is exactly the top-k of the union of
    priorities, and the md5-deterministic uniforms make that identical
    to the one-shot :func:`alphalens_spark.scale.curation.
    weighted_priority_sample` of everything seen (tested) no matter how
    the stream was batched. Merge = union → per-group top-k, the KMV
    bottom-k pattern with the order flipped.

    The store stays ≤ k rows per group forever. Each item's id must be
    unique across the stream's lifetime (re-sent ids dedupe by id, so
    replays are harmless but true duplicates under one id collapse).
    Read the current sample any time with ``spark.read.parquet(store_path)``.
    """
    from alphalens_spark.scale.curation import weighted_priority_sample

    if batch_df.isEmpty():
        return
    gcols = list(group_cols or [])
    _fold_store(
        weighted_priority_sample(
            batch_df, weight_col, k=k, group_cols=gcols, id_col=id_col
        ),
        store_path,
        lambda df: _reservoir_top_k(df, k, gcols, id_col),
    )


def ivfpq_store_update(
    batch_df: DataFrame,
    store_path: str,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One incremental vector-index maintenance step: encode the
    arriving embeddings against FROZEN quantizers
    (scale.similarity.encode_pq — cell assignment + PQ codes are pure
    functions of the vector once training is done) and merge into the
    persisted compressed index, deduping by id so checkpoint replays
    are idempotent. Contract: one id means one vector (the same contract
    as :func:`merge_ivfpq_stores`); which of two rows sharing an id
    survives is unspecified.

    This completes the ANN story for a live corpus: train once
    (build_ivfpq), then stream adds at encode cost — the standard
    IVF-ADC deployment (retrain only when the data distribution
    drifts; compare cell-occupancy skew via skew_report to decide).
    Store stays (id, cell, codes) — ~32x compressed; searches read the
    live index with ``spark.read.parquet(store_path)`` →
    ``ivfpq_topk(index=...)``.
    """
    from alphalens_spark.scale.similarity import encode_pq

    if batch_df.isEmpty():
        return
    _fold_store(
        encode_pq(batch_df, centroids, codebooks, id_col, vec_col),
        store_path,
        lambda df: _ivfpq_dedup(df, id_col),
        one_file=False,
    )


def ab_store_update(
    batch_df: DataFrame,
    store_path: str,
    assignment,
    success_type: str = "purchase",
    exposure_type: str = "view",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> None:
    """One incremental experiment-readout maintenance step: fold the
    arriving events into the per-(user, variant) exposure/conversion
    flag store — flags merge by MAX (a user exposed once is exposed
    forever), so the store equals the one-shot user aggregation of the
    full history no matter how the stream was batched, and checkpoint
    replays are idempotent. Store size is bounded by the exposed
    population, not event volume.

    ``assignment`` is the same deterministic Column contract as
    :func:`alphalens_spark.events.ab_test_ztest`. Read the z-test any
    time with :func:`ab_store_ztest`.
    """
    if batch_df.isEmpty():
        return
    merge = _agg_by(["user", "variant"], F.max, ["exposed", "conv"])
    events = batch_df.where(
        F.col(type_col).isin([success_type, exposure_type])
    ).select(
        F.col(user_col).alias("user"),
        assignment.alias("variant"),
        (F.col(type_col) == exposure_type).cast("int").alias("exposed"),
        (F.col(type_col) == success_type).cast("int").alias("conv"),
    )
    # per-event flags fold into per-user flags by the store's own rule
    _fold_store(merge(events), store_path, merge, one_file=False)


def ab_store_ztest(spark: SparkSession, store_path: str) -> DataFrame:
    """Readout over the experiment store: per-variant exposed/converted
    counts and the pooled two-proportion z per variant pair — identical
    output contract to the batch :func:`alphalens_spark.events.
    ab_test_ztest` (incremental == one-shot tested)."""
    from alphalens_spark.events import _ab_readout

    per_user = spark.read.parquet(store_path).where(F.col("exposed") == 1)
    return _ab_readout(per_user, "conv")


def dsir_store_update(
    batch_df: DataFrame,
    store_path: str,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One incremental DSIR raw-distribution maintenance step: hashed
    n-gram bucket counts of the arriving micro-batch MERGED into the
    persisted counts — the distribution artifact is a plain count per
    bucket, so merge is addition (the CM-sketch rule) and the maintained
    store is exactly ``dsir_bucket_counts`` of the full history
    (tested: incremental == one-shot). Store stays ≤ n_buckets rows
    forever; per-batch cost is O(|batch| + n_buckets).

    This is how the q̂ (raw corpus) side of DSIR keeps up with a
    continuously-arriving pretraining corpus while the p̂ (target
    domain) artifact stays frozen; score any slice against the live
    store with :func:`dsir_store_weights`.
    """
    from alphalens_spark.scale.curation import dsir_bucket_counts

    if batch_df.isEmpty():
        return
    _fold_store(
        dsir_bucket_counts(batch_df, n_buckets, text_col, id_col).select(
            "_b", F.col("_ct").alias("n")
        ),
        store_path,
        _agg_by(["_b"], F.sum, ["n"]),
    )


def dsir_store_weights(
    docs: DataFrame,
    store_path: str,
    target: DataFrame,
    n_buckets: int = 256,
    smoothing: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights of ``docs`` scored against the STORE's
    raw distribution (maintained by :func:`dsir_store_update`) and a
    target corpus — identical output contract (and, once the store has
    absorbed the full corpus, identical VALUES) to the one-shot
    ``scale.curation.dsir_importance_weights``."""
    from alphalens_spark.scale.curation import (
        _dsir_score,
        _hashed_ngram_features,
        dsir_bucket_counts,
    )

    spark = docs.sparkSession
    cr = spark.read.parquet(store_path).select(
        "_b", F.col("n").alias("_cr")
    )
    rawdb = (
        _hashed_ngram_features(docs, text_col, id_col, n_buckets)
        .groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    ct = dsir_bucket_counts(target, n_buckets, text_col, id_col)
    return _dsir_score(rawdb, cr, ct, n_buckets, smoothing, id_col)


def stream_user_stats_tws(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user running totals on the Spark 4 arbitrary-stateful-v2 API
    (``transformWithStateInPandas`` + typed ``ValueState``) — the
    successor surface to ``applyInPandasWithState``: state is a named,
    schema'd store the runtime owns (RocksDB-backed on a real cluster,
    changelog-checkpointed), the processor only reads/updates it, and
    the same processor class composes with timers and initial state.
    Kept alongside the v1 sessionizer so the engine demonstrates both
    stateful surfaces.

    Emits, per user seen in each micro-batch, the RUNNING
    (n_events, sum_value, last_ts) after absorbing the batch (update
    mode). Batch-mode equivalence: groupBy(user).agg(count, sum,
    max ts) — the stream==batch test's oracle.

    ENVIRONMENT GATE: the v2 state-server protocol speaks protobuf, and
    this container does not ship the ``protobuf`` package — so like the
    matplotlib render lane this raises an eager, documented error here
    and runs wherever protobuf exists (the importorskip'd test covers
    it). The v1 ``applyInPandasWithState`` ops cover the same
    semantics in this environment.
    """
    import pandas as pd

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(Spark's arbitrary-stateful-v2 state-server protocol); it is "
            "not available in this environment. Use the v1 "
            "applyInPandasWithState operators (stream_sessionize, "
            "stream_decayed_activity) for the same semantics."
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_ddl = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {key_ddl}, n_events long, sum_value double, "
        "last_ts timestamp"
    )

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # typed value state: (n, s, last_us) — timestamps stored as
            # µs longs (the v1 stores' convention; reconstructed on emit)
            self._agg = handle.getValueState(
                "agg", "n long, s double, last_us long"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, s, last_us = 0, 0.0, None
            if self._agg.exists():
                n, s, last_us = self._agg.get()
            for pdf in rows:
                n += len(pdf)
                s += float(pdf[value_col].fillna(0.0).sum())
                if len(pdf):
                    m = int(pd.to_datetime(pdf[ts_col]).max().value // 1000)
                    last_us = m if last_us is None else max(last_us, m)
            self._agg.update((n, s, last_us))
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(user_col).transformWithStateInPandas(
        _RunningStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )

"""Unit tests for the round-2 additions: document chunking, KMV distinct
sketch, JL random projection, decayed activity."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ---------------------------------------------------------------- chunking
def _chunks(spark, text, size, stride):
    from alphalens_spark.scale.curation import chunk_documents

    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    return sorted(
        chunk_documents(df, size=size, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )


def test_chunk_short_doc_single_chunk(spark):
    rows = _chunks(spark, "a b c", size=8, stride=4)
    assert len(rows) == 1
    assert rows[0].start_token == 0
    assert rows[0].n_tokens == 3
    assert rows[0].chunk_text == "a b c"


def test_chunk_full_coverage_and_fixed_size(spark):
    # n=10, size=4, stride=3 -> grid 0,3,6 then final start 6 already on
    # grid? last=6, 6%3==0 -> starts 0,3,6; covers tokens 0..9
    toks = [f"t{i}" for i in range(10)]
    rows = _chunks(spark, " ".join(toks), size=4, stride=3)
    assert [r.start_token for r in rows] == [0, 3, 6]
    assert all(r.n_tokens == 4 for r in rows)
    covered = set()
    for r in rows:
        covered.update(range(r.start_token, r.start_token + r.n_tokens))
    assert covered == set(range(10))


def test_chunk_off_grid_tail_start_appended(spark):
    # n=11, size=4, stride=3 -> last=7, grid 0,3,6 misses 7 -> append 7
    toks = [f"t{i}" for i in range(11)]
    rows = _chunks(spark, " ".join(toks), size=4, stride=3)
    assert [r.start_token for r in rows] == [0, 3, 6, 7]
    assert all(r.n_tokens == 4 for r in rows)
    # every chunk is exactly the tokens it claims
    for r in rows:
        assert r.chunk_text == " ".join(toks[r.start_token : r.start_token + 4])


def test_chunk_stride_equals_size_partitions_exactly(spark):
    toks = [f"w{i}" for i in range(12)]
    rows = _chunks(spark, " ".join(toks), size=4, stride=4)
    assert [r.start_token for r in rows] == [0, 4, 8]
    assert " ".join(r.chunk_text for r in rows) == " ".join(toks)


# ---------------------------------------------------------------- KMV
def test_kmv_exact_path_small_group(spark):
    from alphalens_spark.scale.profile import kmv_distinct

    df = spark.createDataFrame(
        [Row(g="a", v=str(i % 5)) for i in range(50)]
    )
    out = kmv_distinct(df, ["g"], "v", k=16).collect()
    assert len(out) == 1
    assert out[0].n_mins == 5
    assert out[0].est_distinct == 5.0


def test_kmv_estimator_reasonable_and_deterministic(spark):
    from alphalens_spark.scale.profile import kmv_distinct

    n = 2000
    df = spark.createDataFrame([Row(g="a", v=f"val{i}") for i in range(n)])
    a = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    b = kmv_distinct(
        df.repartition(7), ["g"], "v", k=64
    ).collect()[0]
    assert a.n_mins == 64
    # KMV relative error ~ 1/sqrt(k-1) ≈ 12.6%; allow 3 sigma
    assert abs(a.est_distinct - n) / n < 0.40
    # membership-independent of physical layout
    assert a.est_distinct == b.est_distinct


# ---------------------------------------------------------------- JL
def test_random_projection_shape_and_determinism(spark):
    from alphalens_spark.scale.similarity import random_projection

    import random

    rng = random.Random(3)
    rows = [
        Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(64)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    p1 = {r.vec_id: r.projection for r in random_projection(df, out_dim=8).collect()}
    p2 = {r.vec_id: r.projection for r in random_projection(df, out_dim=8).collect()}
    assert all(len(v) == 8 for v in p1.values())
    assert p1 == p2  # seeded planes: bit-identical across plans

    # JL property (loose): mean squared norm is preserved in expectation
    def sq(v):
        return sum(x * x for x in v)

    orig = sum(sq(r.embedding) for r in rows) / len(rows)
    proj = sum(sq(v) for v in p1.values()) / len(p1)
    assert proj == pytest.approx(orig, rel=0.5)


# ---------------------------------------------------------------- decay
def test_decayed_activity_half_life_weights(spark):
    from alphalens_spark.events import decayed_activity

    df = spark.createDataFrame(
        [
            Row(user_id=1, ts="2024-01-02 00:00:00", value=10.0),  # snapshot
            Row(user_id=1, ts="2024-01-01 00:00:00", value=10.0),  # 1 half-life
            Row(user_id=2, ts="2023-12-31 00:00:00", value=4.0),  # 2 half-lives
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.user_id: r for r in decayed_activity(df, half_life_hours=24.0).collect()}
    assert out[1].n_events == 2
    assert out[1].decayed_count == pytest.approx(1.5, abs=1e-9)
    assert out[1].decayed_value == pytest.approx(15.0, abs=1e-9)
    assert out[2].decayed_count == pytest.approx(0.25, abs=1e-9)
    assert out[2].decayed_value == pytest.approx(1.0, abs=1e-9)


def test_decayed_activity_ntz_timestamps(spark):
    from alphalens_spark.events import decayed_activity

    df = spark.createDataFrame(
        [
            Row(user_id=1, ts="2024-01-02 00:00:00", value=1.0),
            Row(user_id=1, ts="2024-01-01 00:00:00", value=1.0),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = decayed_activity(df, half_life_hours=24.0).collect()
    assert out[0].decayed_count == pytest.approx(1.5, abs=1e-9)


# ---------------------------------------------------------- histogram qtile
def test_histogram_quantiles_exact_on_uniform_grid(spark):
    from alphalens_spark.scale.profile import histogram_quantiles

    # values 1..1000 in one group: histogram interpolation should land
    # within one bin width of the true quantile
    df = spark.createDataFrame([Row(g="a", v=float(i)) for i in range(1, 1001)])
    out = {
        r.prob: r.est_quantile
        for r in histogram_quantiles(df, "v", ["g"], probs=[0.5, 0.9], bins=100).collect()
    }
    bin_w = (1000 - 1) / 100
    assert abs(out[0.5] - 500.5) <= bin_w
    assert abs(out[0.9] - 900.1) <= bin_w


def test_histogram_quantiles_degenerate_group(spark):
    from alphalens_spark.scale.profile import histogram_quantiles

    df = spark.createDataFrame([Row(g="c", v=7.0)] * 10)
    out = histogram_quantiles(df, "v", ["g"], probs=[0.5], bins=16).collect()
    assert out[0].est_quantile == 7.0


# ---------------------------------------------------------------- count-min
def test_cm_estimate_upper_bound_and_exact_when_sparse(spark):
    from alphalens_spark.scale.profile import cm_estimate, cm_sketch

    items = ["a"] * 50 + ["b"] * 7 + [f"x{i}" for i in range(20)]
    df = spark.createDataFrame([Row(item=i) for i in items])
    sketch = cm_sketch(df, "item", depth=4, width=1024)
    probes = spark.createDataFrame([Row(item=i) for i in ["a", "b", "absent"]])
    est = {r.item: r.est_count for r in cm_estimate(sketch, probes, width=1024).collect()}
    # CM never undercounts; with 77 items in 4x1024 counters collisions
    # are overwhelmingly unlikely, so estimates are exact here
    assert est["a"] == 50
    assert est["b"] == 7
    assert est["absent"] == 0


def test_cm_sketch_size_bounded(spark):
    from alphalens_spark.scale.profile import cm_sketch

    df = spark.createDataFrame([Row(item=f"i{n}") for n in range(500)])
    sk = cm_sketch(df, "item", depth=4, width=64)
    assert sk.count() <= 4 * 64
    assert sk.agg(F.sum("count")).collect()[0][0] == 500 * 4


# ------------------------------------------------------------- A-ES sample
def test_weighted_sample_is_weight_biased_and_deterministic(spark):
    from alphalens_spark.scale.curation import weighted_priority_sample

    # 200 light docs (w=1) + 20 heavy docs (w=1000): heavy ids should
    # dominate the k=20 sample
    rows = [Row(doc_id=i, w=1.0) for i in range(200)] + [
        Row(doc_id=1000 + i, w=1000.0) for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    a = sorted(r.doc_id for r in weighted_priority_sample(df, "w", k=20).collect())
    b = sorted(
        r.doc_id
        for r in weighted_priority_sample(df.repartition(13), "w", k=20).collect()
    )
    assert a == b  # membership independent of physical layout
    heavy = sum(1 for i in a if i >= 1000)
    assert heavy >= 15


def test_weighted_sample_grouped_k_per_group(spark):
    from alphalens_spark.scale.curation import weighted_priority_sample

    rows = [Row(g=g, doc_id=g * 100 + i, w=float(i + 1)) for g in (1, 2) for i in range(30)]
    df = spark.createDataFrame(rows)
    out = weighted_priority_sample(df, "w", k=4, group_cols=["g"]).collect()
    from collections import Counter

    assert Counter(r.g for r in out) == {1: 4, 2: 4}


# ------------------------------------------------------------- containment
def test_ngram_containment_finds_embedded_doc(spark):
    from alphalens_spark.scale.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    big = " ".join(f"w{i}" for i in range(200)) + " " + small
    df = spark.createDataFrame(
        [Row(doc_id=1, text=small), Row(doc_id=2, text=big)]
    )
    cont = ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    # Jaccard misses the same pair entirely at any usable threshold
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert jac == []


# ---------------------------------------------------------------- anomaly
def test_rolling_anomaly_flags_spike_day(spark):
    from alphalens_spark.events import rolling_anomaly_zscores

    rows = []
    eid = 0
    for d in range(1, 11):  # 10 days of ~constant volume with jitter
        n = 10 + (d % 2)
        for _ in range(n):
            rows.append(Row(event_id=eid, ts=f"2024-01-{d:02d} 12:00:00", event_type="view"))
            eid += 1
    for _ in range(100):  # spike day
        rows.append(Row(event_id=eid, ts="2024-01-11 12:00:00", event_type="view"))
        eid += 1
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r.day): r for r in rolling_anomaly_zscores(df, window_days=7).collect()}
    assert out["2024-01-11"].zscore > 5  # spike flagged
    assert abs(out["2024-01-10"].zscore) < 2  # normal day not flagged
    assert out["2024-01-01"].zscore is None  # no baseline


# ----------------------------------------------------- sketch maintenance
def test_cm_store_incremental_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.profile import cm_sketch
    from alphalens_spark.streaming.ops import cm_store_update

    items = [Row(item=f"i{n % 37}") for n in range(400)]
    df = spark.createDataFrame(items)
    store = str(tmp_path / "cm")
    # three uneven incremental merges
    for lo, hi in [(0, 100), (100, 150), (150, 400)]:
        cm_store_update(spark.createDataFrame(items[lo:hi]), store, width=128)
    got = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    want = sorted(tuple(r) for r in cm_sketch(df, "item", width=128).collect())
    assert got == want  # merge = exact counter addition


def test_kmv_store_incremental_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.profile import kmv_distinct
    from alphalens_spark.streaming.ops import kmv_store_estimate, kmv_store_update

    rows = [Row(g="a" if i % 3 else "b", item=f"v{i}") for i in range(300)]
    df = spark.createDataFrame(rows)
    store = str(tmp_path / "kmv")
    for lo, hi in [(0, 120), (120, 300)]:
        kmv_store_update(
            spark.createDataFrame(rows[lo:hi]), store, ["g"], "item", k=32
        )
    got = sorted(
        tuple(r) for r in kmv_store_estimate(spark, store, ["g"], k=32).collect()
    )
    want = sorted(tuple(r) for r in kmv_distinct(df, ["g"], "item", k=32).collect())
    assert got == want  # union->bottom-k merge preserves the exact sketch


def test_kmv_store_generation_merge_equals_oneshot(spark, tmp_path):
    """Cross-GENERATION compaction: two independently-maintained KMV
    stores (disjoint halves, each incrementally built) merged via
    merge_kmv_stores must equal the one-shot sketch of everything."""
    from alphalens_spark.scale.profile import kmv_distinct
    from alphalens_spark.streaming.ops import (
        kmv_store_estimate,
        kmv_store_update,
        merge_kmv_stores,
    )

    rows = [Row(g="a" if i % 3 else "b", item=f"v{i}") for i in range(300)]
    df = spark.createDataFrame(rows)
    g1, g2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    # generation 1: first half in two increments; generation 2: the rest
    kmv_store_update(spark.createDataFrame(rows[:80]), g1, ["g"], "item", k=32)
    kmv_store_update(spark.createDataFrame(rows[80:150]), g1, ["g"], "item", k=32)
    kmv_store_update(spark.createDataFrame(rows[150:]), g2, ["g"], "item", k=32)
    merged = str(tmp_path / "merged")
    merge_kmv_stores(spark, [g1, g2], merged, ["g"], k=32)
    got = sorted(
        tuple(r) for r in kmv_store_estimate(spark, merged, ["g"], k=32).collect()
    )
    want = sorted(tuple(r) for r in kmv_distinct(df, ["g"], "item", k=32).collect())
    assert got == want


def test_counter_store_generation_merge_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.profile import cm_sketch
    from alphalens_spark.streaming.ops import cm_store_update, merge_counter_stores

    items = [Row(item=f"i{n % 37}") for n in range(400)]
    df = spark.createDataFrame(items)
    g1, g2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    cm_store_update(spark.createDataFrame(items[:250]), g1, width=128)
    cm_store_update(spark.createDataFrame(items[250:]), g2, width=128)
    merged = str(tmp_path / "merged")
    merge_counter_stores(spark, [g1, g2], merged, ["row", "col"], ["count"])
    got = sorted(tuple(r) for r in spark.read.parquet(merged).collect())
    want = sorted(tuple(r) for r in cm_sketch(df, "item", width=128).collect())
    assert got == want  # counters over disjoint histories sum exactly


def test_store_schema_mismatch_raises_and_keeps_history(spark, tmp_path):
    """A store whose schema does not fit the batch must fail the update,
    not be mistaken for a first batch and overwritten with the batch."""
    from pyspark.errors import AnalysisException

    from alphalens_spark.storage import read_parquet_if_exists
    from alphalens_spark.streaming.ops import cm_store_update, hist_store_update

    assert read_parquet_if_exists(spark, str(tmp_path / "missing")) is None
    store = str(tmp_path / "hist")
    values = spark.createDataFrame([Row(v=float(i)) for i in range(100)])
    hist_store_update(values, store, "v", 0.0, 100.0, bins=10)
    items = spark.createDataFrame([Row(item=f"i{n}") for n in range(10)])
    with pytest.raises(AnalysisException):
        cm_store_update(items, store, width=128)
    kept = spark.read.parquet(store)
    assert kept.columns == ["bin", "count"]
    assert kept.agg(F.sum("count")).first()[0] == 100


def test_bloom_store_incremental_equals_oneshot(spark, tmp_path):
    """Bit-OR store algebra: the maintained filter of the full history
    is BIT-EXACTLY the one-shot filter, regardless of batching."""
    from alphalens_spark.joins import bloom_words
    from alphalens_spark.streaming.ops import bloom_store_update

    rows = [Row(k=f"key{i}") for i in range(300)]
    df = spark.createDataFrame(rows)
    store = str(tmp_path / "bloom")
    for lo, hi in [(0, 90), (90, 130), (130, 300)]:
        bloom_store_update(
            spark.createDataFrame(rows[lo:hi]), store, ["k"], n_bits=1 << 12
        )
    got = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    want = sorted(
        tuple(r) for r in bloom_words(df, ["k"], n_bits=1 << 12).collect()
    )
    assert got == want


def test_bloom_store_generation_merge_and_no_false_negatives(spark, tmp_path):
    from alphalens_spark.joins import bloom_words
    from alphalens_spark.streaming.ops import (
        bloom_store_prefilter,
        bloom_store_update,
        merge_bloom_stores,
    )

    rows = [Row(k=f"key{i}") for i in range(200)]
    df = spark.createDataFrame(rows)
    g1, g2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    bloom_store_update(spark.createDataFrame(rows[:110]), g1, ["k"], n_bits=1 << 12)
    bloom_store_update(spark.createDataFrame(rows[110:]), g2, ["k"], n_bits=1 << 12)
    merged = str(tmp_path / "merged")
    merge_bloom_stores(spark, [g1, g2], merged)
    got = sorted(tuple(r) for r in spark.read.parquet(merged).collect())
    want = sorted(
        tuple(r) for r in bloom_words(df, ["k"], n_bits=1 << 12).collect()
    )
    assert got == want  # OR of generations == one-shot filter, bit-exact
    # no false negatives through the readout: every tracked key survives
    probes = spark.createDataFrame(
        [Row(k=f"key{i}") for i in range(200)]
        + [Row(k=f"absent{i}") for i in range(50)]
    )
    kept = {
        r["k"]
        for r in bloom_store_prefilter(
            spark, merged, probes, ["k"], n_bits=1 << 12
        ).collect()
    }
    assert {f"key{i}" for i in range(200)} <= kept


def test_stream_sketch_maintenance_equals_batch(spark, tmp_path):
    from alphalens_spark.scale.profile import cm_sketch
    from alphalens_spark.sources import SyntheticEventsDataSource
    from alphalens_spark.streaming.ops import sketch_store_update, stream_store

    spark.dataSource.register(SyntheticEventsDataSource)
    # batch truth over the same deterministic generator
    batch = (
        spark.read.format("synthetic_events")
        .option("rows", 250)
        .option("seed", 11)
        .load()
        .select(F.col("event_type").alias("item"), F.col("user_id").cast("string").alias("g"))
    )
    stream = (
        spark.readStream.format("synthetic_events")
        .option("batch_rows", 100)
        .option("max_rows", 250)
        .option("seed", 11)
        .load()
        .select(F.col("event_type").alias("item"), F.col("user_id").cast("string").alias("g"))
    )
    cm_p, kmv_p = str(tmp_path / "cm"), str(tmp_path / "kmv")
    q = stream_store(
        stream, str(tmp_path / "ckpt"), sketch_store_update, cm_p, kmv_p,
        width=64, k=8,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(cm_p).collect())
    want = sorted(tuple(r) for r in cm_sketch(batch, "item", width=64).collect())
    assert got == want
    assert spark.read.parquet(kmv_p).count() > 0


# ------------------------------------------------------ corpus unit dedup
def test_dedupe_units_across_corpus_keeps_global_first(spark):
    from alphalens_spark.scale.curation import dedupe_units_across_corpus

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="shared footer\nunique one"),
            Row(doc_id=2, text="unique two\nshared footer"),
            Row(doc_id=3, text="shared footer"),
        ]
    )
    out = {r.doc_id: r for r in dedupe_units_across_corpus(df, unit="line").collect()}
    assert out[1].clean_text == "shared footer\nunique one"  # first owner keeps it
    assert out[2].clean_text == "unique two"  # later copy cut
    assert out[3].clean_text == ""  # doc entirely boilerplate
    assert (out[3].n_units, out[3].n_kept) == (1, 0)


def test_dedupe_units_across_corpus_within_doc_repeat_also_cut(spark):
    from alphalens_spark.scale.curation import dedupe_units_across_corpus

    df = spark.createDataFrame([Row(doc_id=5, text="a b\nc d\na b")])
    out = dedupe_units_across_corpus(df, unit="line").collect()[0]
    assert out.clean_text == "a b\nc d"
    assert out.n_kept == 2


# ------------------------------------------------------ curation funnel
def test_curation_report_sequential_semantics(spark):
    from alphalens_spark.scale.curation import curation_report

    df = spark.createDataFrame(
        [Row(doc_id=i, n=i) for i in range(10)]
    )
    out = {
        r.step: r
        for r in curation_report(
            df, [("ge_2", F.col("n") >= 2), ("even", F.col("n") % 2 == 0)]
        ).collect()
    }
    assert (out["ge_2"].n_in, out["ge_2"].n_kept) == (10, 8)
    # step 2 sees only ge_2 survivors: evens among 2..9 = {2,4,6,8}
    assert (out["even"].n_in, out["even"].n_kept) == (8, 4)
    assert out["even"].keep_rate == 0.5


def test_curation_report_single_pass_plan(spark):
    from alphalens_spark import plans
    from alphalens_spark.scale.curation import curation_report

    df = spark.createDataFrame([Row(doc_id=i, n=i) for i in range(10)])
    rep = curation_report(
        df,
        [("a", F.col("n") > 0), ("b", F.col("n") > 1), ("c", F.col("n") > 2)],
    )
    s = plans.plan_summary(rep)
    assert s.shuffles <= 1  # one global aggregate, not one scan per step


# ------------------------------------------------ streaming decayed state
def test_stream_decayed_activity_equals_batch(spark, tmp_path):
    import math

    from alphalens_spark.events import decayed_activity
    from alphalens_spark.streaming.ops import stream_decayed_activity

    src = str(tmp_path / "ev")
    rows1 = [
        (1, "2024-01-01 00:00:00", 10.0),
        (2, "2024-01-01 06:00:00", 4.0),
        (1, "2024-01-01 12:00:00", 2.0),
    ]
    rows2 = [
        (1, "2024-01-02 00:00:00", 8.0),
        (2, "2024-01-01 18:00:00", 6.0),
        (3, "2024-01-02 03:00:00", 1.0),
    ]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(
            rows, "user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)  # force multi-batch state merging
        .parquet(src)
    )
    q = (
        stream_decayed_activity(stream, half_life_hours=24.0)
        .writeStream.format("memory")
        .queryName("decay_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_rows = spark.sql(
        "SELECT * FROM decay_stream"
    ).collect()
    # update mode: keep each user's latest emission (max anchor)
    latest = {}
    for r in got_rows:
        if r.user_id not in latest or r.anchor > latest[r.user_id].anchor:
            latest[r.user_id] = r

    batch_df = spark.read.parquet(src)
    want = {r.user_id: r for r in decayed_activity(batch_df, 24.0).collect()}
    t_max = max(r.anchor for r in latest.values())
    hl_us = 24.0 * 3600 * 1e6
    for uid, r in latest.items():
        shift = 2.0 ** (-((t_max - r.anchor).total_seconds() * 1e6) / hl_us)
        assert r.n_events == want[uid].n_events
        assert r.decayed_count * shift == pytest.approx(
            want[uid].decayed_count, abs=1e-6
        )
        assert r.decayed_value * shift == pytest.approx(
            want[uid].decayed_value, abs=1e-6
        )


# ------------------------------------------------------- fuzzy vocab pairs
def test_fuzzy_token_pairs_finds_all_edit1_kinds(spark):
    from alphalens_spark.scale.dedup import fuzzy_token_pairs

    df = spark.createDataFrame(
        [
            (1, "receive recieve"),   # transposition = distance 2: excluded
            (2, "color colour"),      # insertion
            (3, "cat bat"),           # substitution
            (4, "cart cat"),          # deletion... cart->cat is distance 1
            (5, "unrelated words"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r.tok_a, r.tok_b)
        for r in fuzzy_token_pairs(df).collect()
    }
    assert ("color", "colour") in pairs
    assert ("bat", "cat") in pairs
    assert ("cart", "cat") in pairs
    assert ("recieve", "receive") not in pairs  # distance 2
    assert all(a < b for a, b in pairs)


def test_fuzzy_token_pairs_no_quadratic_join(spark):
    from alphalens_spark import plans
    from alphalens_spark.scale.dedup import fuzzy_token_pairs

    df = spark.createDataFrame([(1, "a few words")], "doc_id bigint, text string")
    s = plans.plan_summary(fuzzy_token_pairs(df))
    assert s.quadratic_joins == 0  # neighborhood equi-join, not all-pairs


# --------------------------------------------------- native session_window
def test_sessionize_native_matches_lag_form(spark):
    from alphalens_spark.events import sessionize, sessionize_native

    rows, eid = [], 0
    import random

    rng = random.Random(5)
    for u in range(6):
        t = 0
        for _ in range(30):
            t += rng.choice([60, 300, 2400])  # some gaps exceed 30 min
            rows.append((eid, u, t))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, sec long").select(
        "event_id", "user_id",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("sec"))).alias("ts"),
    )
    lag_form = {
        (r.user_id, r.session_start): r.n_events
        for r in sessionize(df, gap_minutes=30).collect()
    }
    native = {
        (r.user_id, r.session_start): r.n_events
        for r in sessionize_native(df, gap_minutes=30).collect()
    }
    # same sessions (keyed by start), same member counts; ends differ by
    # definition (close deadline vs last event) — documented
    assert native == lag_form


# -------------------------------------------------------------- UDTF surface
def test_chunk_udtf_matches_native_chunking(spark):
    from alphalens_spark.scale.curation import chunk_documents
    from alphalens_spark.scale.multimodal import chunk_udtf

    spark.udtf.register("chunk_doc", chunk_udtf())
    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(11))),
            (2, "a b c"),
            (3, "solo"),
        ],
        "doc_id bigint, text string",
    )
    df.createOrReplaceTempView("udtf_docs")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT d.doc_id, c.chunk_idx, c.start_token, c.n_tokens, "
            "c.chunk_text FROM udtf_docs d, LATERAL chunk_doc(d.text, 4, 3) c"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in chunk_documents(df, size=4, stride=3).collect()
    )
    assert got == want


# ------------------------------------------------------------- distributed PCA
def test_pca_matches_numpy_and_projects(spark):
    import numpy as np

    from alphalens_spark.scale.similarity import pca_fit, pca_project

    rng = np.random.default_rng(11)
    # anisotropic 16-dim data: variance concentrated in a few directions
    base = rng.normal(size=(300, 16)) * np.linspace(4.0, 0.2, 16)
    mix = rng.normal(size=(16, 16))
    X = base @ mix
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    comps, ev, mu = pca_fit(df, out_dim=4, dim=16)

    # reference: numpy PCA on the same matrix
    Xc = X - X.mean(axis=0)
    C = np.cov(Xc, rowvar=False)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:4]
    assert np.allclose(sorted(ev, reverse=True), sorted(w[order], reverse=True), rtol=1e-6)
    assert np.allclose(mu, X.mean(axis=0), atol=1e-9)
    for k, got in zip(order, comps):
        ref = V[:, k]
        if ref[np.argmax(np.abs(ref))] < 0:
            ref = -ref
        assert np.allclose(got, ref, atol=1e-6)
    # components orthonormal
    M = np.array(comps)
    assert np.allclose(M @ M.T, np.eye(4), atol=1e-8)

    proj = pca_project(df, comps, mu, vec_col="embedding")
    P = np.array(
        [r.projection for r in proj.orderBy("vec_id").collect()]
    )
    # projection variance along each component == its eigenvalue
    assert np.allclose(P.var(axis=0, ddof=1), ev, rtol=1e-6)
    # and equals the numpy projection
    assert np.allclose(P, Xc @ M.T, atol=1e-6)


def test_pca_project_plan_pure_projection(spark):
    from alphalens_spark import plans
    from alphalens_spark.scale.similarity import pca_project

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    comps = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    s = plans.assert_scalable(
        pca_project(df, comps, [0.0, 0.0, 0.0]),
        max_shuffles=0, forbid_python=True,
    )
    assert s.scans == []  # local relation; the point is 0 shuffles, 0 python

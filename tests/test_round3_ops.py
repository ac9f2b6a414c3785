"""Round-3 scale-hardening tests.

Adversarial shapes the VERDICT_r02 review called out: hot gram posting
lists (a boilerplate n-gram shared by the whole corpus), clone-heavy
corpora (thousands of md5-identical documents landing in one LSH
bucket), and the brute-force query-set size guard. Each test pins the
contract that the guard changes the PLAN, not the answer.
"""

import pytest
from pyspark.sql import functions as F

from alphalens_spark.scale import dedup


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- max_df


def test_max_df_none_is_identity(spark):
    texts = ["a b c d e f", "a b c d x y", "p q r s t u"]
    docs = _docs(spark, texts)
    base = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.1))
    capped = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_df=100))
    assert base == capped  # cap above every df: same postings, same answer


def test_max_df_drops_boilerplate_grams(spark):
    # 30 docs share ONLY a 5-word boilerplate prefix; 2 extra docs are
    # clones of each other. Uncapped, the boilerplate grams pair every
    # doc with every other; capped, only the clone pair survives.
    boiler = "terms of service apply here"
    texts = [f"{boiler} u{i} v{i} w{i} x{i}" for i in range(30)]
    texts += ["clone a b c d e f g", "clone a b c d e f g"]
    docs = _docs(spark, texts)
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.2).count()
    assert uncapped > 400  # every boilerplate doc pairs with every other
    capped = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_df=5))
    assert capped == [(30, 31, 1.0)]


def test_max_df_bounds_pathological_clone_corpus(spark):
    # 10k copies of one document: uncapped the posting self-join is
    # ~10^8 in-bucket pairs; capped it is zero rows and returns fast.
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document").alias("text"),
    )
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=100).count() == 0
    assert (
        dedup.ngram_containment_pairs(docs, threshold=0.5, max_df=100).count() == 0
    )


def test_max_df_containment_scores_capped_sets(spark):
    boiler = "one two three four five"
    texts = [f"{boiler} a{i} b{i} c{i}" for i in range(20)]
    texts += ["x y z q r s", "x y z q r s t u"]  # contained pair
    docs = _docs(spark, texts)
    out = _pairs(dedup.ngram_containment_pairs(docs, threshold=0.5, max_df=5))
    assert out == [(20, 21, 1.0)]  # doc 20's grams all inside doc 21's


def test_decontaminate_max_df_ignores_boilerplate(spark):
    # every corpus doc shares an 8-word boilerplate that also appears in
    # the benchmark: uncapped, the whole corpus is flagged dirty; capped,
    # the non-discriminative gram is dropped and everything stays clean.
    boiler = "copyright notice all rights reserved by the site"
    corpus = _docs(spark, [f"{boiler} body{i} text{i} here{i}" for i in range(50)])
    bench = spark.createDataFrame(
        [(0, f"{boiler} benchmark question and answer")], "doc_id long, text string"
    )
    assert dedup.decontaminate(corpus, bench).count() == 0
    assert dedup.decontaminate(corpus, bench, max_df=10).count() == 50


# ------------------------------------------------- exact-dup pre-collapse


def test_minhash_collapse_exact_output_identical(spark):
    words = [f"w{i}" for i in range(100)]
    a = " ".join(words)
    b = " ".join(words[:90] + [f"x{i}" for i in range(10)])
    texts = [a] * 5 + [b] * 4 + ["unrelated material entirely " * 20]
    docs = _docs(spark, texts)
    on = _pairs(dedup.minhash_lsh_duplicates(docs, threshold=0.5, collapse_exact=True))
    off = _pairs(
        dedup.minhash_lsh_duplicates(docs, threshold=0.5, collapse_exact=False)
    )
    assert on == off and len(on) >= 9 + 6 + 20  # cross a~b + within-a + within-b


def test_minhash_shuffle_payload_arms_identical(spark):
    """The ids-only banding shuffle (guide §2.3: shuffle keys, attach
    the payload once) must produce exactly the signature-payload form's
    pair set — the bytes switch may never change results. Covers both
    the exact-collapse path (member re-expansion) and collapse off."""
    words = [f"w{i}" for i in range(100)]
    a = " ".join(words)
    b = " ".join(words[:90] + [f"x{i}" for i in range(10)])
    texts = [a] * 5 + [b] * 4 + ["unrelated material entirely " * 20]
    docs = _docs(spark, texts)
    for collapse in (True, False):
        sig = _pairs(dedup.minhash_lsh_duplicates(
            docs, threshold=0.5, collapse_exact=collapse,
            shuffle_payload="signatures",
        ))
        ids = _pairs(dedup.minhash_lsh_duplicates(
            docs, threshold=0.5, collapse_exact=collapse,
            shuffle_payload="ids",
        ))
        assert sig == ids and len(sig) >= 9
    # auto resolves small corpora to "signatures"; a tiny bytes budget
    # flips it to "ids" — both deterministic in the data size
    auto_small = _pairs(dedup.minhash_lsh_duplicates(docs, threshold=0.5))
    auto_ids = _pairs(dedup.minhash_lsh_duplicates(
        docs, threshold=0.5, ids_payload_min_bytes=1
    ))
    assert auto_small == auto_ids


def test_minhash_unknown_shuffle_payload_rejected_before_any_job(spark):
    """A bad ``shuffle_payload`` must fail at function entry, before the
    signature pass is persisted and counted (no Spark job runs)."""
    docs = _docs(spark, ["a b c d e f", "a b c d e g"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="shuffle_payload"):
        dedup.minhash_lsh_duplicates(docs, shuffle_payload="payload")
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_simhash_collapse_exact_output_identical(spark):
    words = [f"tok{i}" for i in range(64)]
    a = " ".join(words)
    b = " ".join(words[:63] + ["changed"])
    texts = [a] * 4 + [b] * 3 + ["something else entirely different " * 10]
    docs = _docs(spark, texts)
    on = _pairs(dedup.simhash_duplicates(docs, collapse_exact=True))
    off = _pairs(dedup.simhash_duplicates(docs, collapse_exact=False))
    assert on == off
    assert all(h == 0 for x, y, h in on if x < 4 and y < 4)  # clones: hamming 0


def test_minhash_clone_heavy_corpus_bounded(spark):
    # 1000 clones + 3 distinct docs. Collapsed, the band join sees 4
    # representatives (zero hot buckets); the expansion emits exactly the
    # C(1000,2) contracted pairs — output-bound work, not verify-bound.
    clones = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit(" ".join(f"c{i}" for i in range(50))).alias("text"),
    )
    others = spark.createDataFrame(
        [
            (2000, "alpha " * 40),
            (2001, "beta " * 40),
            (2002, "gamma " * 40),
        ],
        "doc_id long, text string",
    )
    docs = clones.unionByName(others)
    out = dedup.minhash_lsh_duplicates(docs, threshold=0.5)
    assert out.count() == 1000 * 999 // 2
    assert out.where(F.col("est_jaccard") < 1.0).count() == 0


# ------------------------------------------------------- ADVICE_r02 fixes


def test_jsonl_overwrite_replaces_and_no_empty_shards(spark, tmp_path):
    import json
    import os

    from alphalens_spark.sources.jsonl import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:
        pass  # already registered by another test module
    out = str(tmp_path / "jl")
    schema = "doc_id bigint, text string, lang string, source string, n_chars int"
    first = spark.createDataFrame([(1, "old", "en", "s", 3)], schema)
    second = spark.createDataFrame([(2, "new", "en", "s", 3)], schema)
    first.write.format("jsonl_docs").option("path", out).mode("overwrite").save()
    second.write.format("jsonl_docs").option("path", out).mode("overwrite").save()
    back = spark.read.format("jsonl_docs").option("path", out).load()
    assert [r.doc_id for r in back.collect()] == [2]  # old run's shards gone
    shards = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(shards) == 1  # 1-row write: one shard, no empty files
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_rows"] == 1 and len(manifest["shards"]) == 1


def test_plan_summary_counts_roundrobin_exchange(spark):
    from alphalens_spark.plans import plan_summary

    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .repartition(8)  # RoundRobinPartitioning on top of the hash shuffle
    )
    s = plan_summary(df)
    assert s.shuffles == 2


def test_bloom_probe_matches_spark_rendering_for_floats(spark, tmp_path):
    from alphalens_spark.storage import collect_file_blooms, read_bloom_skipping

    # 1e20 renders '1e+20' in Python but '1.0E20' in Spark CAST AS STRING;
    # the probe must go through Spark or this is a false-negative prune
    df = spark.createDataFrame(
        [(1, 1e20), (2, 0.1), (3, 2.5)], "k long, v double"
    )
    path = str(tmp_path / "blf")
    df.repartition(3, "k").write.parquet(path)
    blooms = collect_file_blooms(spark, path, "v", m_bits=512, k_hashes=3)
    out = read_bloom_skipping(spark, path, "v", 1e20, blooms, m_bits=512, k_hashes=3)
    assert [r.k for r in out.collect()] == [1]


def test_stream_decayed_activity_string_key(spark, tmp_path):
    from alphalens_spark.streaming.ops import stream_decayed_activity

    src = str(tmp_path / "evs")
    spark.createDataFrame(
        [("alice", "2024-01-01 00:00:00", 10.0), ("bob", "2024-01-01 06:00:00", 4.0)],
        "user_id string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("user_id string, ts timestamp, value double").parquet(
        src
    )
    q = (
        stream_decayed_activity(stream, half_life_hours=24.0)
        .writeStream.format("memory")
        .queryName("decay_stream_str")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.user_id: r.n_events for r in spark.sql("SELECT * FROM decay_stream_str").collect()}
    assert got == {"alice": 1, "bob": 1}


def test_brute_force_query_guard(spark):
    from alphalens_spark.scale import similarity

    corpus = spark.range(10).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    big_queries = spark.range(similarity.MAX_BRUTE_FORCE_QUERIES + 1).select(
        F.col("id").alias("query_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("qv")
    )
    with pytest.raises(ValueError, match="ivf_topk"):
        similarity.brute_force_topk(corpus, big_queries)
    with pytest.raises(ValueError, match="ivf_topk"):
        similarity.brute_force_topk_vectorized(corpus, big_queries)


# ------------------------------------------- streaming heavy hitters (CM)


def test_stream_heavy_hitters_equals_batch(spark, tmp_path):
    from alphalens_spark.scale.profile import heavy_hitters
    from alphalens_spark.streaming.ops import hh_store_topk, stream_heavy_hitters

    # skewed item stream across two files → two micro-batches
    src = str(tmp_path / "items")
    batch1 = [(f"hot{i % 3}",) for i in range(60)] + [(f"cold{i}",) for i in range(30)]
    batch2 = [(f"hot{i % 5}",) for i in range(50)] + [(f"cold{i}",) for i in range(30, 60)]
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "item string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)  # force multi-batch maintenance
        .parquet(src)
    )
    store = str(tmp_path / "hh")
    q = stream_heavy_hitters(
        stream, store, str(tmp_path / "ck"), k=5, width=256, slack=8,
        available_now=True,
    )
    q.awaitTermination(120)

    got = [(r.item, r.est_count) for r in hh_store_topk(spark, store, k=5, width=256).collect()]
    want = [
        (r.item, r.est_count)
        for r in heavy_hitters(
            spark.read.parquet(src), "item", k=5, width=256
        ).collect()
    ]
    assert got == want
    assert got[0][0] in {"hot0", "hot1", "hot2"} and got[0][1] >= 30


# ------------------------------------------------- misc parity / guards


def test_print_table_contract(spark, capsys):
    import pandas as pd

    from alphalens_spark.utils import print_table

    prev = pd.get_option("display.float_format")
    sdf = spark.createDataFrame([(1, 0.5)], "a int, b double")
    print_table(sdf, name="T", fmt="{0:.2f}%")
    assert pd.get_option("display.float_format") is prev  # scoped + restored
    out = capsys.readouterr().out
    assert "T" in out and "50.00%" not in out and "0.50%" in out
    print_table(pd.Series([1.0, 2.0], name="s"))  # Series accepted
    assert "s" in capsys.readouterr().out


def test_interval_join_span_guard(spark):
    from pyspark.sql.utils import PythonException

    from alphalens_spark.joins import interval_join

    pts = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00")], "id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ivl = spark.createDataFrame(
        [(9, "2024-01-01 00:00:00", "2099-01-01 00:00:00")],
        "ivl_id long, s string, e string",
    ).select("ivl_id", F.col("s").cast("timestamp"), F.col("e").cast("timestamp"))
    with pytest.raises(Exception, match="max_span_days"):
        interval_join(pts, ivl, "ts", "s", "e", max_span_days=30).collect()
    # within bound: joins normally
    ok = interval_join(pts, ivl, "ts", "s", "e", max_span_days=50_000)
    assert ok.count() == 1


def test_hist_store_incremental_equals_oneshot(spark, tmp_path):
    from alphalens_spark.streaming.ops import hist_store_quantiles, hist_store_update

    rows = [(float(i % 100),) for i in range(1000)]
    full = spark.createDataFrame(rows, "v double")
    inc_path = str(tmp_path / "inc")
    one_path = str(tmp_path / "one")
    # two increments vs one shot over the same grid
    hist_store_update(spark.createDataFrame(rows[:400], "v double"), inc_path, "v", 0.0, 100.0, bins=50)
    hist_store_update(spark.createDataFrame(rows[400:], "v double"), inc_path, "v", 0.0, 100.0, bins=50)
    hist_store_update(full, one_path, "v", 0.0, 100.0, bins=50)
    inc = {(r.bin, r["count"]) for r in spark.read.parquet(inc_path).collect()}
    one = {(r.bin, r["count"]) for r in spark.read.parquet(one_path).collect()}
    assert inc == one
    q = {
        r.prob: r.est_quantile
        for r in hist_store_quantiles(spark, inc_path, [0.5, 0.9], 0.0, 100.0, 50).collect()
    }
    assert abs(q[0.5] - 50.0) < 3.0 and abs(q[0.9] - 90.0) < 3.0


def test_split_by_group_no_straddle(spark):
    from alphalens_spark.scale.curation import split_dataset

    docs = spark.createDataFrame(
        [(i, f"s{i % 7}") for i in range(200)], "doc_id long, source string"
    )
    out = split_dataset(docs, by="source")
    joined = docs.join(out, "doc_id")
    # every group maps to exactly one split
    assert joined.groupBy("source").agg(
        F.countDistinct("split").alias("n")
    ).where(F.col("n") > 1).count() == 0


def test_hard_negatives_band_and_label(spark):
    from alphalens_spark.scale.similarity import hard_negatives

    # unit vectors on axes + mixtures: cosines are known
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),   # same label — never a negative
        (2, [0.8, 0.2], 1),   # close, different label → hard negative
        (3, [0.0, 1.0], 1),   # orthogonal-ish: below band
        (4, [0.7, 0.3], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 0)], "query_id long, qv array<double>, qlabel int"
    )
    out = hard_negatives(emb, q, k=5, lo=0.3, hi=0.999)
    got = {(r.neighbor_id, r.neg_label) for r in out.collect()}
    assert got == {(2, 1), (4, 2)}  # same-label 1 and out-of-band 3 excluded
    assert [r.neighbor_id for r in out.orderBy("rnk").collect()] == [2, 4]


def test_diversity_sample_bounded_per_cell(spark):
    from alphalens_spark.scale.curation import diversity_sample

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(c, 0.05) for c in ([5.0, 0.0] if i % 2 else [0.0, 5.0])])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = diversity_sample(emb, per_cell=4, n_cells=2)
    per = {r.cell: r["count"] for r in out.groupBy("cell").count().collect()}
    assert all(v <= 4 for v in per.values()) and len(per) == 2
    # deterministic: second run identical
    again = diversity_sample(emb, per_cell=4, n_cells=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_normalize_text_modes(spark):
    from alphalens_spark.scale.curation import normalize_text

    docs = spark.createDataFrame(
        [(1, "a\x00b\tc   d\n\ne\x9f"), (2, "  already clean  ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text_norm for r in normalize_text(docs).collect()}
    assert out[1] == "ab c d e" and out[2] == "already clean"
    # NFC path composes e + combining accent into é (pandas-UDF stage)
    nfc_docs = spark.createDataFrame([(3, "café  x")], "doc_id long, text string")
    out3 = normalize_text(nfc_docs, nfc=True).collect()[0]
    assert out3.text_norm == "café x" and out3.n_chars_norm == 6


# ----------------------------------------------- real netpbm decode kernels


def test_netpbm_roundtrip_decode_features(spark):
    import numpy as np

    from alphalens_spark.scale import multimodal as mm

    rgb = np.zeros((4, 6, 3), dtype=np.uint8)
    rgb[..., 0] = 200  # solid red-ish
    gray = np.arange(24, dtype=np.uint8).reshape(4, 6) * 10
    rows = [
        (1, bytearray(mm.make_netpbm(rgb)), "image/x-portable-pixmap", 6, 4, None),
        (2, bytearray(mm.make_netpbm(gray)), "image/x-portable-graymap", 6, 4, None),
        (3, bytearray(b"not an image"), "application/octet-stream", None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r.feature for r in mm.decode_netpbm_features(media).collect()}
    f1 = out[1]
    assert f1[:3] == [6.0, 4.0, 3.0]
    assert abs(f1[3] - 200 / 255) < 1e-6 and f1[4] == 0.0 and f1[5] == 0.0
    f2 = out[2]
    assert f2[:3] == [6.0, 4.0, 1.0]
    assert abs(f2[3] - gray.mean() / 255) < 1e-6  # gray mean repeated
    assert out[3] is None  # malformed payload → NULL feature, no task error


def test_netpbm_resize_real_pixels(spark):
    import numpy as np

    from alphalens_spark.scale import multimodal as mm

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    media = spark.createDataFrame(
        [(7, bytearray(mm.make_netpbm(img)), "image/x-portable-graymap", 8, 8, None)],
        mm.MEDIA_SCHEMA,
    )
    row = mm.resize_netpbm(media, out_w=4, out_h=4).collect()[0]
    assert (row.width, row.height) == (4, 4)
    small = mm.parse_netpbm(bytes(row.payload))
    expect = img[np.ix_([0, 2, 4, 6], [0, 2, 4, 6])]
    assert (small[:, :, 0] == expect).all()  # exact nearest-neighbor pixels


def test_netpbm_header_comments_and_errors():
    import numpy as np

    import pytest as _pytest

    from alphalens_spark.scale.multimodal import make_netpbm, parse_netpbm

    img = np.ones((2, 3), dtype=np.uint8) * 9
    raw = make_netpbm(img)
    commented = raw[:2] + b"\n# a comment\n" + raw[3:]
    assert (parse_netpbm(commented) == parse_netpbm(raw)).all()
    with _pytest.raises(ValueError, match="magic"):
        parse_netpbm(b"P4\n1 1\n0\n\x00")
    with _pytest.raises(ValueError, match="truncated"):
        parse_netpbm(raw[:-2])


def test_stream_expectations_store_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.profile import validate_expectations
    from alphalens_spark.streaming.ops import stream_validate_expectations

    rules = {"v_positive": "v > 0", "v_bounded": "v <= 100"}
    src = str(tmp_path / "vals")
    rows1 = [(float(i),) for i in range(-2, 50)]
    rows2 = [(float(i),) for i in range(50, 120)]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, "v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = str(tmp_path / "exp")
    q = stream_validate_expectations(
        stream, store, str(tmp_path / "ck"), rules, available_now=True
    )
    q.awaitTermination(120)
    got = {
        r.rule: (r.n_rows, r.n_violations)
        for r in spark.read.parquet(store).collect()
    }
    want = {
        r.rule: (r.n_rows, r.n_violations)
        for r in validate_expectations(spark.read.parquet(src), rules).collect()
    }
    assert got == want
    assert got["v_positive"][1] == 3 and got["v_bounded"][1] == 19


def test_stream_scd2_equals_batch(spark, tmp_path):
    from alphalens_spark.events import scd2_from_snapshots
    from alphalens_spark.streaming.ops import stream_scd2

    src = str(tmp_path / "snap")
    batch1 = [
        (1, "2024-01-01", "A"), (1, "2024-01-02", "A"), (1, "2024-01-03", "B"),
        (2, "2024-01-01", "X"),
    ]
    batch2 = [
        (1, "2024-01-04", "B"), (1, "2024-01-05", "A"),  # continue then flip
        (2, "2024-01-04", "X"),                            # state continues
        (3, "2024-01-05", "Q"),                            # brand-new key
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "user_id long, day string, state string").withColumn(
            "day", F.col("day").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, day timestamp, state string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = str(tmp_path / "scd2")
    q = stream_scd2(
        stream, store, str(tmp_path / "ck"), ["user_id"], ["state"],
        ts_col="day", available_now=True,
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(store).collect()))
    want = sorted(
        map(
            tuple,
            scd2_from_snapshots(
                spark.read.parquet(src), ["user_id"], ["state"], "day"
            ).collect(),
        )
    )
    assert got == want
    # the continuing state did NOT reopen: key 2 has exactly one open row
    opens = [r for r in got if r[0] == 2 and r[3] is None]
    assert len(opens) == 1


def test_stream_holt_equals_batch(spark, tmp_path):
    """Store #13: incremental Holt smoothing state after N micro-batches
    == the one-shot performance.holt_linear final state per key,
    BIT-exactly (seeded left-to-right fold executes the identical op
    sequence), including a key appearing mid-stream, a replayed
    (already-folded) row, and NULL exclusion."""
    import numpy as np

    from alphalens_spark import performance as perf
    from alphalens_spark.streaming.ops import stream_holt

    rng = np.random.RandomState(3)
    src = str(tmp_path / "vals")
    batch1 = [("a", i, float(rng.randn())) for i in range(6)] + [
        ("b", 0, 1.5), ("b", 1, None)
    ]
    batch2 = (
        [("a", i, float(rng.randn())) for i in range(6, 11)]
        + [("a", 5, 99.0)]          # replay of an already-folded order
        + [("b", 2, -0.5), ("c", 0, 2.0)]  # continue + brand-new key
    )
    for rows in (batch1, batch2):
        spark.createDataFrame(
            rows, "k string, t long, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, t long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = str(tmp_path / "holt_store")
    q = stream_holt(
        stream, store, str(tmp_path / "ck"), ["k"], "v", "t",
        alpha=0.5, beta=0.3, available_now=True,
    )
    q.awaitTermination(120)

    got = {
        r["k"]: (r["last_o"], r["level"], r["trend"])
        for r in spark.read.parquet(store).collect()
    }
    # one-shot reference: holt_linear over everything EXCEPT the replayed
    # row (the store's monotone contract drops o <= last_o)
    all_rows = [
        (k, t, v) for (k, t, v) in batch1 + batch2 if not (k == "a" and t == 5 and v == 99.0)
    ]
    full = spark.createDataFrame(all_rows, "k string, t long, v double")
    ref = perf.holt_linear(full, "v", order_col="t", by="k", alpha=0.5, beta=0.3)
    want = {}
    for r in ref.collect():
        cur = want.get(r["k"])
        if cur is None or r["t"] > cur[0]:
            want[r["k"]] = (r["t"], r["level"], r["trend"])
    assert got == want


def test_concurrent_sessions_sweep_line(spark):
    """Hand-computed peak concurrency: boundary ties count as overlap
    (+1 before -1 at the same instant), a single-event session is
    active at its instant, and a midnight-spanning session contributes
    to BOTH days from/until the clip boundary."""
    from alphalens_spark.events import concurrent_sessions

    rows = [
        # day 1: user 1 session 10:00-10:20; user 2 session 10:10-10:30
        # -> overlap 10:10-10:20 => peak 2
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:20:00"),
        (3, 2, "2024-01-01 10:10:00"),
        (4, 2, "2024-01-01 10:30:00"),
        # user 3 single-event session exactly at user 2's session end:
        # inclusive-end tie => 2 concurrent at 10:30
        (5, 3, "2024-01-01 10:30:00"),
        # user 4 session spanning midnight: 23:50 day1 -> 00:10 day2
        # (events 10 min apart, gap 30 min keeps them one session)
        (6, 4, "2024-01-01 23:50:00"),
        (7, 4, "2024-01-02 00:10:00"),
        # day 3: two users fully disjoint -> peak 1
        (8, 5, "2024-01-03 09:00:00"),
        (9, 6, "2024-01-03 12:00:00"),
    ]
    ev = spark.createDataFrame(
        [(e, u, t) for e, u, t in rows],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        str(r["day"]): (r["n_sessions"], r["peak_concurrent"])
        for r in concurrent_sessions(ev, gap_minutes=30).collect()
    }
    assert got == {
        "2024-01-01": (4, 2),  # sessions: u1, u2, u3, u4(clipped); peak 2
        "2024-01-02": (1, 1),  # u4's tail
        "2024-01-03": (2, 1),  # disjoint
    }


def test_rolling_active_users_kmv_estimates(spark):
    """KMV rolling actives: exact-count path when k exceeds the window's
    distinct users (bit-equal to the exact operator), estimator path
    within the ±1/√k band when it doesn't, identical win_end fan-out."""
    import datetime as _dt

    from alphalens_spark.events import (
        rolling_active_users,
        rolling_active_users_kmv,
    )

    base = _dt.datetime(2024, 5, 1)
    rows = [
        (i, i % 200, base + _dt.timedelta(hours=(i * 7) % (14 * 24)))
        for i in range(2000)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    exact = {
        r["win_end"]: r["n_active_7d"]
        for r in rolling_active_users(ev, window_days=7).collect()
    }
    # k larger than any window's distinct users -> exact path everywhere
    big_rows = rolling_active_users_kmv(ev, window_days=7, k=512).collect()
    big = {r["win_end"]: r["est_active_7d"] for r in big_rows}
    assert set(big) == set(exact)
    assert all(big[d] == float(exact[d]) for d in exact)
    # the sketch pair itself is exact integers
    assert all(isinstance(r["kth_hash"], int) for r in big_rows)
    # estimator path: k=32 over up-to-200-user windows, ±3/sqrt(k) band
    est = {
        r["win_end"]: r["est_active_7d"]
        for r in rolling_active_users_kmv(ev, window_days=7, k=32).collect()
    }
    assert set(est) == set(exact)
    for d, n in exact.items():
        if n > 32:
            assert abs(est[d] - n) / n < 3 / (32 ** 0.5), (d, n, est[d])

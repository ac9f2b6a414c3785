"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extraction run as Arrow-batched
``mapInPandas`` stages. Five REAL codecs live below, all stdlib +
numpy: the netpbm family (binary PGM/PPM), 24-bit BMP, RIFF/WAVE PCM16
audio, PNG (its entropy coding is stdlib zlib; full None/Sub/Up/
Average/Paeth unfiltering) and baseline grayscale JPEG (huffman + DCT).
Each has a ``make_*`` encoder and a ``parse_*`` decoder that raises
ValueError on any malformed payload. The four image codecs share one
embedding→image encoder (:func:`_embeddings_as_image`) and one
decode→pixel-stats kernel (:func:`_pixel_stats`). Formats that need an
external library (MP3/AAC, video) are represented by the deterministic
byte-level stand-ins :func:`decode_and_featurize` and
:func:`resize_media`, which keep the identical Spark-side plumbing.

Scale notes: payload bytes stay in Arrow record batches end to end (no
per-row Python); metadata-only transforms (filtering by size/mime,
partition pruning) never touch the binary column thanks to Parquet
column pruning — check ReadSchema in the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def documents_as_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Wrap the driver's documents table as a media table: text bytes as
    the opaque payload + typed metadata — the test double for an
    image/audio corpus with identical Spark-side shape."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def decode_and_featurize(media: DataFrame, feature_dim: int = 16) -> DataFrame:
    """Decode payloads and emit a fixed-dim feature vector per item.

    Arrow-batched ``mapInPandas``: each Python worker receives whole
    record batches (payload bytes as ``bytes`` objects), vectorizes over
    the batch, yields feature frames. The kernel is a deterministic
    stand-in (an L1-normalized byte histogram) for formats whose real
    decoder needs an external library (MP3/AAC, video); the real
    stdlib codecs have their own kernels (e.g.
    :func:`decode_netpbm_features`).
    """

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                # deterministic fake "decode": bucketed byte histogram,
                # L1-normalized — stands in for pixel/spectral features
                hist = np.bincount(arr % feature_dim, minlength=feature_dim)
                total = hist.sum() or 1
                feats.append((hist / total).astype("float32"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_featurize, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Frame/chunk sampling plumbing: one output row per sampled offset.

    For video this is frame sampling; for the byte-payload stand-in it
    slices the payload at fixed strides. Pure JVM expressions (explode
    over a sequence of offsets + substring on binary→string), no Python.
    Output: (media_id, frame_idx, offset, chunk binary).
    """
    n_frames = F.least(
        F.greatest((F.col("n_bytes") / every_n_bytes).cast("int"), F.lit(1)),
        F.lit(max_frames),
    )
    ex = media.select(
        "media_id",
        "payload",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
    offset = F.col("frame_idx") * every_n_bytes
    chunk = F.expr(f"substring(payload, frame_idx * {every_n_bytes} + 1, {every_n_bytes})")
    return ex.select(
        "media_id", "frame_idx", offset.alias("offset"), chunk.alias("chunk")
    )


def resize_media(
    media: DataFrame, target_width: int = 32, target_height: int = 32
) -> DataFrame:
    """Resize plumbing: payload → fixed-size payload + updated metadata.

    Same Arrow-batched ``mapInPandas`` shape a real image resize uses
    (PIL/cv2 per batch); the kernel nearest-neighbor-samples the BYTE
    stream to exactly ``target_width*target_height`` bytes — a
    deterministic stand-in with the real operator's schema, batch shape
    and output-size invariant (:func:`resize_netpbm` is the real
    pixel resize).

    Output: (media_id, payload binary, width int, height int, n_bytes long).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("n_bytes", T.LongType(), True),
        ]
    )
    n_out = target_width * target_height

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads, sizes = [], []
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    payloads.append(None)
                    sizes.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                # nearest-neighbor index sampling to the target size
                idx = np.linspace(0, len(arr) - 1, n_out).round().astype(int)
                resized = arr[idx].tobytes()
                payloads.append(resized)
                sizes.append(len(resized))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": target_width,
                    "height": target_height,
                    "n_bytes": pd.array(sizes, dtype="Int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(_resize, out_schema)


def chunk_udtf():
    """SQL-callable chunking as a Python UDTF — the §2.10 table-function
    surface: ``spark.udtf.register("chunk_doc", chunk_udtf());
    SELECT c.* FROM docs, LATERAL chunk_doc(text, 32, 16) c``.

    Semantics are DEFINED BY :func:`alphalens_spark.scale.curation.
    chunk_documents` (equality-tested); the UDTF exists for SQL-first
    consumers and as the documented example of the UDTF escape hatch —
    per-row Python, so the native column-expression form is always the
    hot-path choice.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "chunk_idx int, start_token int, n_tokens int, chunk_text string"
    ))
    class ChunkDoc:
        def eval(self, text: str, size: int = 32, stride: int = 16):
            toks = text.strip().split() or [""]
            n = len(toks)
            last = max(n - size, 0)
            starts = list(range(0, last + 1, stride))
            if last > 0 and last % stride:
                starts.append(last)
            for idx, st in enumerate(starts):
                yield (
                    idx,
                    st,
                    min(size, n - st),
                    " ".join(toks[st : st + size]),
                )

    return ChunkDoc


# ---------------------------------------------------------------------------
# REAL decode kernels for the netpbm family (binary PGM 'P5' / PPM 'P6') —
# a genuine image codec implementable with numpy alone. Every parse_*
# in this module is wrapped by _decode_errors_as_value_error; the encoder
# and pixel-stats kernels the four image codecs share (_embeddings_as_image,
# _pixel_stats) follow the netpbm kernels.
# ---------------------------------------------------------------------------


def _decode_errors_as_value_error(parse):
    """Make a ``parse_*`` decoder raise ValueError on EVERY malformed
    payload. A truncated or corrupted payload makes a decoder index past
    its buffer (IndexError), unpack a short header (struct.error) or
    inflate a broken stream (zlib.error); each of those means "malformed
    payload", so each surfaces as the documented ValueError and the
    stats kernels catch that one type."""
    import functools
    import struct
    import zlib

    @functools.wraps(parse)
    def parse_or_value_error(payload):
        try:
            return parse(payload)
        except (IndexError, struct.error, zlib.error) as e:
            raise ValueError(f"malformed payload: {e}") from e

    return parse_or_value_error


def make_netpbm(arr) -> bytes:
    """Encode an (h, w) or (h, w, 3) uint8 array as binary PGM/PPM."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        magic, h, w = b"P5", a.shape[0], a.shape[1]
    elif a.ndim == 3 and a.shape[2] == 3:
        magic, h, w = b"P6", a.shape[0], a.shape[1]
    else:
        raise ValueError("expected (h,w) gray or (h,w,3) rgb uint8")
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


@_decode_errors_as_value_error
def parse_netpbm(payload: bytes):
    """Decode binary PGM (P5) / PPM (P6) bytes to an (h, w, c) uint8
    array. Full header grammar: tokens separated by whitespace, ``#``
    comments to end-of-line, exactly one whitespace byte after maxval,
    then the raw raster. Raises ValueError on any malformed input —
    decode errors must surface per-item, not kill the task."""
    import numpy as np

    if payload is None or len(payload) < 2 or payload[:1] != b"P":
        raise ValueError("not a netpbm payload")
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"unsupported netpbm magic {magic!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated netpbm header")
        b = payload[pos : pos + 1]
        if b == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif b.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(payload[start:pos])
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # the single whitespace byte after maxval
    c = 3 if magic == b"P6" else 1
    need = w * h * c
    if len(payload) - pos < need:
        raise ValueError("truncated netpbm raster")
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    return raster.reshape(h, w, c)


def _netpbm_features(img, grid: int = 3):
    """Deterministic real-image features: (w, h, c, per-channel means,
    grid×grid nearest-neighbor grayscale thumbnail) — 6 + grid² floats."""
    import numpy as np

    h, w, c = img.shape
    means = img.reshape(-1, c).mean(axis=0)
    means3 = np.resize(means, 3)  # gray repeats into the 3 channel slots
    gray = img.mean(axis=2)
    ys = (np.arange(grid) * h) // grid
    xs = (np.arange(grid) * w) // grid
    thumb = gray[np.ix_(ys, xs)].ravel() / 255.0
    return np.concatenate(
        [[float(w), float(h), float(c)], means3 / 255.0, thumb]
    ).astype("float32")


def decode_netpbm_features(media: DataFrame, grid: int = 3) -> DataFrame:
    """REAL decode + featurize for netpbm payloads via ``mapInPandas``:
    per item, parse the image and emit (w, h, c, channel means, a
    grid×grid thumbnail) — same Arrow-batched plumbing as the stub
    kernel, but an actual codec. Malformed payloads yield a NULL feature
    (decode errors are data, not task failures). Output: FEATURE_SCHEMA.
    """

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                try:
                    feats.append(_netpbm_features(parse_netpbm(payload), grid))
                except ValueError:
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_featurize, schema=FEATURE_SCHEMA)


def resize_netpbm(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize for netpbm payloads: decode, index-map
    to (out_h, out_w), re-encode as P5/P6. The whole kernel is numpy
    index arithmetic inside the Arrow batch loop; rows that fail to
    decode pass through with a NULL payload. Output: MEDIA_SCHEMA with
    updated payload/width/height/n_bytes."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_payloads, ws, hs, nb = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    img = parse_netpbm(payload)
                    h, w, c = img.shape
                    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
                    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
                    small = img[np.ix_(ys, xs)]
                    enc = make_netpbm(small if c == 3 else small[:, :, 0])
                    out_payloads.append(enc)
                    ws.append(out_w)
                    hs.append(out_h)
                    nb.append(len(enc))
                except ValueError:
                    out_payloads.append(None)
                    ws.append(None)
                    hs.append(None)
                    nb.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payloads,
                    "mime": pdf["mime"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_bytes": pd.array(nb, dtype="Int64"),
                }
            )

    return media.mapInPandas(_resize, schema=MEDIA_SCHEMA)


def _embeddings_as_image(
    emb: DataFrame, w: int, h: int, id_col: str, vec_col: str, make, mime: str
) -> DataFrame:
    """The one embedding→image encoder behind ``embeddings_as_*``: each
    vector's first w·h values quantize to px = floor(clip((x+1)/2, 0, 1)
    · 255), reshape to an (h, w) gray raster and encode with ``make``
    (a ``make_*`` codec function). A deterministic image corpus from
    driver data, so every REAL decode path gets a full value oracle (the
    quantization replays in SQL). Arrow-batched; output MEDIA_SCHEMA."""
    import numpy as np

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for vec in pdf[vec_col]:
                v = np.asarray(vec, dtype=np.float64)[: w * h]
                px = np.floor(np.clip((v + 1.0) / 2.0, 0.0, 1.0) * 255.0)
                payloads.append(make(px.astype(np.uint8).reshape(h, w)))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": mime,
                    "width": pd.array([w] * len(pdf), dtype="Int32"),
                    "height": pd.array([h] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array([len(p) for p in payloads], dtype="Int64"),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(_encode, schema=MEDIA_SCHEMA)


def _pixel_stats(media: DataFrame, parse) -> DataFrame:
    """The one decode→pixel-stats kernel behind ``*_pixel_stats``: per
    item (media_id, width, height, px_sum, px_min, px_max) over every
    channel of the raster ``parse`` (a ``parse_*`` decoder) returns.
    Exact-integer outputs, so the SQL oracle compares them exactly;
    malformed payloads (parse raises ValueError) → NULL stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, sums, mins, maxs = [], [], [], [], []
            for payload in pdf["payload"]:
                try:
                    img = parse(payload)
                    hh, ww, _ = img.shape
                    flat = img.astype("int64")
                    ws.append(ww)
                    hs.append(hh)
                    sums.append(int(flat.sum()))
                    mins.append(int(flat.min()))
                    maxs.append(int(flat.max()))
                except ValueError:
                    ws.append(None); hs.append(None)
                    sums.append(None); mins.append(None); maxs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "px_sum": pd.array(sums, dtype="Int64"),
                    "px_min": pd.array(mins, dtype="Int32"),
                    "px_max": pd.array(maxs, dtype="Int32"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _stats,
        schema=(
            "media_id long, width int, height int, "
            "px_sum long, px_min int, px_max int"
        ),
    )


def embeddings_as_netpbm(
    emb: DataFrame, w: int = 8, h: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Render each embedding as a real binary PGM (P5) image — see
    :func:`_embeddings_as_image` for the quantization."""
    return _embeddings_as_image(
        emb, w, h, id_col, vec_col, make_netpbm, "image/x-portable-graymap"
    )


def netpbm_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL-decode pixel summary of netpbm payloads (:func:`_pixel_stats`)."""
    return _pixel_stats(media, parse_netpbm)


# --------------------------------------------------------------------------
# REAL image codec #2: Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER,
# 24bpp BI_RGB) — uncompressed like netpbm but with the real-world headers,
# BGR channel order, 4-byte row padding, and bottom-up/top-down raster
# orientations that trip naive readers; pure struct + numpy
# --------------------------------------------------------------------------


def make_bmp(arr) -> bytes:
    """Encode a uint8 image as a genuine 24-bit BI_RGB Windows BMP:
    (h, w) gray replicates into B=G=R, (h, w, 3) is taken as RGB and
    stored in BMP's on-disk BGR order; rows are written bottom-up with
    each padded to a 4-byte boundary, exactly per the format spec."""
    import struct

    import numpy as np

    img = np.asarray(arr, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("make_bmp expects (h, w) gray or (h, w, 3) RGB")
    h, w, _ = img.shape
    row_bytes = (3 * w + 3) // 4 * 4
    raster = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        raster += row + b"\x00" * (row_bytes - len(row))
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40
    )
    return header + info + bytes(raster)


@_decode_errors_as_value_error
def parse_bmp(payload: bytes):
    """REAL BMP decode for 24-bit BI_RGB payloads (the make_bmp output
    and any standard uncompressed 24bpp BMP): validates the file
    header, honors the pixel-data offset, un-pads rows, flips the
    bottom-up raster (or accepts top-down negative heights), and
    returns an (h, w, 3) RGB uint8 array."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (planes={planes}, bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP dimensions")
    row_bytes = (3 * w + 3) // 4 * 4
    if len(payload) < data_off + row_bytes * h:
        raise ValueError("truncated BMP raster")
    rows = []
    for i in range(h):
        off = data_off + i * row_bytes
        row = np.frombuffer(payload, dtype=np.uint8, count=3 * w, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    return img if top_down else img[::-1]


def embeddings_as_bmp(
    emb: DataFrame, w: int = 8, h: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Render each embedding as a real 24-bit BMP, gray replicated across
    B=G=R (:func:`_embeddings_as_image`), so the BMP decode path —
    through real headers, BGR order, row padding, and the bottom-up
    flip — gets a full value oracle (per-channel stats are 3× the gray
    raster's, replayed in SQL)."""
    return _embeddings_as_image(emb, w, h, id_col, vec_col, make_bmp, "image/bmp")


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL-decode pixel summary of BMP payloads over ALL channels of the
    parsed RGB raster (:func:`_pixel_stats`)."""
    return _pixel_stats(media, parse_bmp)


# --------------------------------------------------------------------------
# REAL audio codec: RIFF/WAVE PCM16 (pure numpy + struct — PCM is not
# entropy-coded, so like netpbm it needs no external library)
# --------------------------------------------------------------------------

WAV_SCHEMA = (
    "media_id bigint, payload binary, mime string, sample_rate int, "
    "n_samples int, n_bytes bigint"
)


def make_wav(samples, sample_rate: int = 8000) -> bytes:
    """Encode an int16 mono sample array as a genuine RIFF/WAVE PCM
    file (44-byte canonical header + little-endian samples)."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


@_decode_errors_as_value_error
def parse_wav(payload: bytes):
    """Decode RIFF/WAVE PCM16 mono bytes → (int16 numpy array,
    sample_rate). Walks the chunk list (fmt may be followed by LIST/fact
    chunks before data). Raises ValueError on malformed or unsupported
    input — errors surface per item, never kill the task."""
    import struct

    import numpy as np

    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF payload")
    if payload[8:12] != b"WAVE":
        raise ValueError("not a WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, channels, rate, _br, _ba, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise ValueError("only PCM16 mono supported")
    if len(data) % 2:
        raise ValueError("odd data length for 16-bit samples")
    return np.frombuffer(data, dtype="<i2"), rate


def embeddings_as_wav(
    emb: DataFrame,
    n_samples: int = 64,
    sample_rate: int = 8000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Render each embedding as a real PCM16 WAV clip (samples quantized
    s = floor(clip(x, −1, 1) · 32767)) — a deterministic audio corpus
    synthesized from driver data so the REAL decode path gets a full
    value oracle (the quantization replays in SQL). Arrow-batched."""
    import numpy as np

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, nb = [], []
            for vec in pdf[vec_col]:
                v = np.asarray(vec, dtype=np.float64)[:n_samples]
                s = np.floor(np.clip(v, -1.0, 1.0) * 32767.0).astype("<i2")
                p = make_wav(s, sample_rate)
                payloads.append(p)
                nb.append(len(p))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": "audio/wav",
                    "sample_rate": pd.array(
                        [sample_rate] * len(pdf), dtype="Int32"
                    ),
                    "n_samples": pd.array(
                        [n_samples] * len(pdf), dtype="Int32"
                    ),
                    "n_bytes": pd.array(nb, dtype="Int64"),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(_encode, schema=WAV_SCHEMA)


def wav_sample_stats(media: DataFrame) -> DataFrame:
    """REAL-decode audio summary with exact-integer outputs
    (oracle-friendly): per clip (media_id, sample_rate, n_samples,
    s_sum, s_min, s_max, zero_crossings) from the actually-parsed PCM —
    zero_crossings counts sign-boundary flips ((s_i ≥ 0) ≠ (s_{i+1} ≥ 0)),
    the classic cheap voiced/unvoiced feature. Malformed payloads →
    NULL stats."""
    import numpy as np

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, ns, sums, mins, maxs, zcs = [], [], [], [], [], []
            for payload in pdf["payload"]:
                try:
                    s, rate = parse_wav(payload)
                    if len(s) == 0:
                        raise ValueError("empty clip")
                    nn = (s >= 0).astype(np.int8)
                    rates.append(rate)
                    ns.append(len(s))
                    sums.append(int(s.astype(np.int64).sum()))
                    mins.append(int(s.min()))
                    maxs.append(int(s.max()))
                    zcs.append(int(np.count_nonzero(nn[1:] != nn[:-1])))
                except ValueError:
                    rates.append(None)
                    ns.append(None)
                    sums.append(None)
                    mins.append(None)
                    maxs.append(None)
                    zcs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": pd.array(rates, dtype="Int32"),
                    "n_samples": pd.array(ns, dtype="Int32"),
                    "s_sum": pd.array(sums, dtype="Int64"),
                    "s_min": pd.array(mins, dtype="Int32"),
                    "s_max": pd.array(maxs, dtype="Int32"),
                    "zero_crossings": pd.array(zcs, dtype="Int32"),
                }
            )

    out_schema = (
        "media_id bigint, sample_rate int, n_samples int, s_sum bigint, "
        "s_min int, s_max int, zero_crossings int"
    )
    return media.select("media_id", "payload").mapInPandas(
        _stats, schema=out_schema
    )


# --------------------------------------------------------------------------
# REAL image codec #3: PNG, stdlib-zlib only. PNG's entropy coding IS
# zlib (RFC 2083: DEFLATE-compressed filtered scanlines), which ships in
# the Python stdlib, so a COMPLETE PNG codec needs no new dependency.
# Encoder writes filter-0 scanlines; decoder implements the full filter
# set (None/Sub/Up/Average/Paeth, spec §6) so externally-produced 8-bit
# gray/RGB PNGs decode too, not just our own output.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png(arr) -> bytes:
    """Encode an (h, w) uint8 grayscale or (h, w, 3) uint8 RGB array as
    a genuine PNG file: IHDR + one zlib IDAT of filter-0 scanlines +
    IEND, CRCs included. Round-trips through any PNG reader."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, h, w = 0, a.shape[0], a.shape[1]
        raster = a
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, h, w = 2, a.shape[0], a.shape[1]
        raster = a.reshape(h, w * 3)
    else:
        raise ValueError("expected (h,w) gray or (h,w,3) RGB uint8")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    scanlines = b"".join(b"\x00" + raster[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


@_decode_errors_as_value_error
def parse_png(payload: bytes):
    """Decode PNG bytes → (h, w, channels) uint8 numpy array.

    Full spec path for the supported profile: chunk walk with length
    checks, IDAT concatenation (spec allows many), zlib inflate, and
    scanline UNFILTERING for all five filter types — None and Up are
    vectorized whole-row numpy ops; Sub is a byte-lag prefix sum
    (cumsum mod 256 per bpp lane); Average/Paeth are sequential in the
    horizontal direction by definition (each pixel depends on the
    reconstructed left neighbor), so those rows pay a per-pixel loop.
    Supported: bit depth 8, color type 0 (gray) / 2 (RGB), no
    interlace. Palette/16-bit/Adam7 raise ValueError (surface per item,
    never kill the task)."""
    import struct
    import zlib

    import numpy as np

    if payload is None or len(payload) < 8 or bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = bytes(payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(bytes(body))
        elif ctype == b"IEND":
            break
        pos += 12 + ln  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (0, 2) or comp or filt or interlace:
        raise ValueError(
            "unsupported PNG profile (need 8-bit gray/RGB, no interlace)"
        )
    ch = 1 if color_type == 0 else 3
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("raster size mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype, line = int(raw[y, 0]), raw[y, 1:].copy()
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub: prefix sum per bpp lane
            rec = line.reshape(-1, ch).cumsum(axis=0, dtype=np.int64)
            rec = (rec % 256).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            rec = line + prev  # uint8 wraps mod 256
        elif ftype == 3:  # Average
            rec = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
        elif ftype == 4:  # Paeth
            rec = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                ul = int(prev[x - ch]) if x >= ch else 0
                rec[x] = (int(line[x]) + _paeth(left, int(prev[x]), ul)) % 256
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = rec
        prev = out[y]
    return out.reshape(h, w, ch)


def embeddings_as_png(
    emb: DataFrame, w: int = 8, h: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Render each embedding as a real PNG (:func:`_embeddings_as_image`)
    so the entropy-coded decode path gets a full value oracle."""
    return _embeddings_as_image(emb, w, h, id_col, vec_col, make_png, "image/png")


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL-decode pixel summary of PNG payloads, from the inflated,
    unfiltered raster (:func:`_pixel_stats`)."""
    return _pixel_stats(media, parse_png)


# --------------------------------------------------------------------------
# JPEG — baseline sequential DCT, grayscale profile (ITU T.81). Real
# entropy-coded codec: huffman + zigzag + quantized DCT on encode,
# marker walk + huffman decode + dequant + IDCT on decode. Reference
# parity note: the reference (alphalens) has no media surface at all —
# this is extension territory for the LLM-pipeline mandate.
# --------------------------------------------------------------------------

# zigzag position -> raster index (T.81 Figure 5)
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)
# luminance quantization table (T.81 Annex K.1), quality-50 as printed
_JPEG_QTABLE = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
# huffman table specs (T.81 Annex K.3): (BITS counts for lengths 1..16,
# HUFFVAL in code order)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _jpeg_half_up6(x: float) -> int:
    """Shared codec/oracle rounding: snap to the 6-dp grid then round
    half-up to an integer, both in DECIMAL semantics on the double's
    shortest repr — exactly DuckDB's round(round(x, 6)) so the SQL
    oracle replays the lossy quantization bit-for-bit (the
    floor(x+0.5) and banker's-round hazards documented at
    text._unigram_lm_driver apply here identically)."""
    import decimal

    d = decimal.Decimal(repr(float(x))).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
    )
    return int(d.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))


def _jpeg_cos_basis():
    """8x8 DCT basis cos((2x+1)·u·π/16) via math.cos (libm — the same
    routine DuckDB's cos() binds, minimizing cross-engine ulp drift
    that numpy's SIMD cos can introduce)."""
    import math

    import numpy as np

    c = np.empty((8, 8), dtype=np.float64)
    for x in range(8):
        for u in range(8):
            c[x, u] = math.cos((2 * x + 1) * u * math.pi / 16.0)
    return c


def _jpeg_huff_codes(bits, vals):
    """Canonical huffman (T.81 Annex C): value -> (code, length)."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill (spec convention)
        return bytes(self.out)


def _jpeg_magnitude(v: int):
    """(size category, appended bits) for a DC diff / AC coef (F.1.2.1):
    negatives use the ones'-complement convention."""
    if v == 0:
        return 0, 0
    a, size = abs(v), 0
    while a:
        a >>= 1
        size += 1
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def make_jpeg(arr) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a genuine baseline
    sequential JPEG (SOI / APP0-JFIF / DQT / SOF0 / DHT / SOS ... EOI,
    Annex-K luminance quant + huffman tables, byte-stuffed entropy
    stream). Dimensions not multiples of 8 pad by edge replication
    (standard MCU padding); decoders crop back via the SOF dims.
    Round-trips through any JPEG reader."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("expected (h, w) grayscale uint8")
    h, w = a.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge")

    cosb = _jpeg_cos_basis()
    cscale = np.full(8, 0.5)
    cscale[0] = 0.5 / np.sqrt(2.0)
    q = np.asarray(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bw = _BitWriter()
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block = padded[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            # S = C · M · Cᵀ with the orthonormal scale folded in
            m = (cosb.T @ block @ cosb) * np.outer(cscale, cscale)
            coef = m / q
            qz = [
                _jpeg_half_up6(coef.flat[_JPEG_ZIGZAG[i]]) for i in range(64)
            ]
            diff = qz[0] - prev_dc
            prev_dc = qz[0]
            size, bits = _jpeg_magnitude(diff)
            code, ln = dc_codes[size]
            bw.write(code, ln)
            if size:
                bw.write(bits, size)
            run = 0
            last_nz = max((i for i in range(1, 64) if qz[i]), default=0)
            for i in range(1, last_nz + 1):
                if qz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    zcode, zln = ac_codes[0xF0]  # ZRL
                    bw.write(zcode, zln)
                    run -= 16
                size, bits = _jpeg_magnitude(qz[i])
                code, ln = ac_codes[(run << 4) | size]
                bw.write(code, ln)
                bw.write(bits, size)
                run = 0
            if last_nz < 63:
                code, ln = ac_codes[0x00]  # EOB
                bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(_JPEG_QTABLE[_JPEG_ZIGZAG[i]] for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0)))
    dht = seg(
        0xFFC4,
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(0xFFDA, b"\x01" + bytes((1, 0x00)) + bytes((0, 63, 0)))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + scan + b"\xff\xd9"
    )


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy stream")
                self.pos += 1  # skip stuffed 0x00
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        out = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return out


def _jpeg_decode_tables(bits, vals):
    """Canonical huffman decode map: (length, code) -> value."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_read_huff(br: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid huffman code")


def _jpeg_extend(bits: int, size: int) -> int:
    """Inverse of the magnitude convention (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


@_decode_errors_as_value_error
def parse_jpeg(payload: bytes):
    """Decode baseline sequential grayscale JPEG bytes → (h, w, 1)
    uint8 array: marker walk (DQT/SOF0/DHT/SOS), huffman decode of the
    byte-stuffed entropy stream (DC prediction + run/size AC, EOB/ZRL),
    dequantize, de-zigzag, IDCT, +128 level shift, clamp. The IDCT
    output rounds through the same 6-dp-snap half-up as the encoder so
    the SQL oracle replays the full lossy pipeline exactly.

    Supported profile: SOF0, 8-bit, single component, no restart
    markers. Progressive / color / subsampled / restart-interval
    streams raise ValueError (surface per item, never kill the task).
    """
    import struct

    import numpy as np

    if payload is None or len(payload) < 4 or bytes(payload[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    data = bytes(payload)
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    dims = None
    comp_q = 0
    scan_tables = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[tq] = [
                    body[b + 1 + i] for i in range(64)
                ]
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc != 1:
                raise ValueError(
                    "unsupported JPEG profile (need 8-bit single-component"
                    " baseline grayscale)"
                )
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported")
            comp_q = body[8]
            dims = (h, w)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline JPEG (progressive/extended)")
        elif marker == 0xC4:  # DHT (possibly several tables)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                huff[(tc, th)] = _jpeg_decode_tables(bits, vals)
                b += 17 + nv
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != 1:
                raise ValueError("multi-component scan unsupported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            scan_tables = (huff.get((0, dc_id)), huff.get((1, ac_id)))
            pos = pos + 2 + ln
            break
        pos = pos + 2 + ln
    if dims is None or scan_tables is None or comp_q not in qtables:
        raise ValueError("missing SOF/SOS/DQT")
    dc_table, ac_table = scan_tables
    if dc_table is None or ac_table is None:
        raise ValueError("missing huffman tables")
    h, w = dims
    # entropy-coded data runs to EOI
    end = data.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("missing EOI")
    # every 8×8 block costs at least two code bits (one DC code, one AC
    # code), so a corrupted SOF size fails here, before the raster is
    # allocated
    if ((h + 7) // 8) * ((w + 7) // 8) * 2 > 8 * (end - pos):
        raise ValueError("entropy stream too short for the frame size")
    br = _BitReader(data[pos:end])

    cosb = _jpeg_cos_basis()
    cscale = np.full(8, 0.5)
    cscale[0] = 0.5 / np.sqrt(2.0)
    q = np.asarray(qtables[comp_q], dtype=np.float64)[
        np.argsort(np.asarray(_JPEG_ZIGZAG))
    ].reshape(8, 8)
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    out = np.zeros((ph, pw), dtype=np.uint8)
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            zz = [0] * 64
            size = _jpeg_read_huff(br, dc_table)
            prev_dc += _jpeg_extend(br.read(size), size)
            zz[0] = prev_dc
            i = 1
            while i < 64:
                rs = _jpeg_read_huff(br, ac_table)
                run, size = rs >> 4, rs & 0x0F
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    i += 16
                    continue
                i += run
                if i > 63:
                    raise ValueError("AC index overrun")
                zz[i] = _jpeg_extend(br.read(size), size)
                i += 1
            coef = np.zeros(64, dtype=np.float64)
            for zi in range(64):
                coef[_JPEG_ZIGZAG[zi]] = zz[zi]
            dq = coef.reshape(8, 8) * q
            m = dq * np.outer(cscale, cscale)
            rec = cosb @ m @ cosb.T
            block = np.empty((8, 8), dtype=np.uint8)
            for y in range(8):
                for x in range(8):
                    v = _jpeg_half_up6(rec[y, x]) + 128
                    block[y, x] = 0 if v < 0 else (255 if v > 255 else v)
            out[by : by + 8, bx : bx + 8] = block
    return out[:h, :w].reshape(h, w, 1)


def embeddings_as_jpeg(
    emb: DataFrame, w: int = 8, h: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Render each embedding as a real baseline JPEG
    (:func:`_embeddings_as_image`) so the huffman+DCT decode path gets a
    full value oracle."""
    return _embeddings_as_image(emb, w, h, id_col, vec_col, make_jpeg, "image/jpeg")


def jpeg_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL-decode pixel summary of JPEG payloads, from the
    huffman-decoded, dequantized, IDCT'd raster (:func:`_pixel_stats`).
    JPEG is the only LOSSY codec here, so its oracle replays the
    quantization instead of re-deriving the source pixels."""
    return _pixel_stats(media, parse_jpeg)

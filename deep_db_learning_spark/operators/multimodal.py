"""Multimodal (image/audio/video) column plumbing (extension — no
reference counterpart; BASELINE.json north star).

Media are **opaque binary columns with typed metadata structs**; the
Spark-side contract — schema, Arrow batch shape, partition sizing — is
real and tested. Codec kernels: BMP (24-bit uncompressed), PNG (8-bit
gray/RGB/RGBA/palette, stdlib zlib + numpy), baseline JPEG (SOF0
huffman + IDCT, 4:4:4 and 4:2:0, DRI/RSTn — pure numpy, see the JPEG
section below), GIF (variable-width LZW, animated — which makes
``sample_frames`` real end-to-end via :func:`gif_frame_kernel`), and
WAV PCM are REAL codecs implemented here; formats that genuinely need
external libraries (compressed-video codecs, non-PCM
audio) stay STUBBED behind ``use_fake=True`` (a clearly marked
deterministic fake used by tests) or raise ``NotImplementedError``
naming the library/feature that plugs in.

Batch-shape rules that matter at 100 TB:

- media rows are large → ``mapInPandas`` with small
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set by caller) so an
  Arrow batch of binaries fits executor memory;
- decode is CPU-bound per row → repartition to ≫ cores before the map,
  never after;
- outputs are fixed-size float features → columnar, Tungsten-friendly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("media_type", StringType()),  # image/audio/video
        StructField("format", StringType()),  # png/jpeg/wav/mp4…
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


def make_media_table(df: DataFrame, id_col: str, binary_col: str, media_type: str, fmt: str) -> DataFrame:
    """Lift an (id, binary) pair into the canonical media schema."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.col(binary_col).alias("content"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(content: bytes | None, dim: int) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector: a
    seeded arithmetic fold of the bytes. NOT a real decoder — exists so
    the distributed plumbing is testable without codec libraries."""
    if content is None:
        return [0.0] * dim
    acc = 2166136261
    out = []
    for i in range(dim):
        for b in content[i::dim] or b"\x00":
            acc = (acc ^ b) * 16777619 % (1 << 32)
        out.append(acc / float(1 << 32) - 0.5)
    return out


def decode_features(
    media: DataFrame,
    dim: int = 16,
    use_fake: bool = False,
    kernel: Callable[[bytes, dict], list[float]] | None = None,
    records_per_batch: int = 64,
) -> DataFrame:
    """media table → (media_id, feature array<float>).

    ``kernel`` is the real decode+featurize function (e.g. Pillow +
    a vision model via ``pandas_udf``); without one and without
    ``use_fake`` this raises, by design:
    the plumbing is complete, the codec is a plug-in.
    """
    if kernel is None and not use_fake:
        raise NotImplementedError(
            "no codec given: pass kernel=png_feature_kernel(dim) for PNG, "
            "jpeg_feature_kernel(dim) for baseline JPEG, a Pillow/"
            "torchaudio/pyav-backed kernel for other formats, "
            "or use_fake=True for plumbing tests"
        )
    spark = media.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(records_per_batch))
    out_schema = StructType(
        [
            StructField("media_id", StringType(), False),
            StructField("feature", ArrayType(FloatType())),
        ]
    )
    fn = kernel

    def mapper(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            feats = [
                (fn(c, m) if fn else _fake_feature(c, dim))
                for c, m in zip(pdf["content"], pdf["meta"])
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.mapInPandas(mapper, out_schema)


def decode_bmp_bytes(content: bytes):
    """Decode an uncompressed 24-bit BMP to an RGB uint8 array
    [h, w, 3] — a REAL decoder in pure numpy (BMP is a header + padded
    pixel rows; no third-party codec involved)."""
    import struct

    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP container")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    _hdr, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", content, 14)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP (got bpp={bpp})")
    row = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
    arr = (
        np.frombuffer(content, np.uint8, h * row, data_offset)
        .reshape(h, row)[:, : w * 3]
        .reshape(h, w, 3)
    )
    return arr[::-1, :, ::-1].copy()  # bottom-up rows, BGR → RGB


def encode_bmp_bytes(arr) -> bytes:
    """Inverse of :func:`decode_bmp_bytes` (24-bit uncompressed)."""
    import struct

    import numpy as np

    h, w, _ = arr.shape
    row = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, row), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    pixels = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    # PNG spec predictor: nearest of a (left), b (above), c (upper-left)
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_bytes(content: bytes):
    """Decode a PNG to a uint8 array — a REAL decoder built on stdlib
    ``zlib`` (inflate) + numpy (per-row unfilter), no third-party codec.

    Supports the mainstream still-image cases: 8-bit depth, color types
    0 (gray → [h,w]), 2 (RGB → [h,w,3]), 3 (palette → [h,w,3]),
    4 (gray+alpha → [h,w,2]), 6 (RGBA → [h,w,4]), non-interlaced.
    Filters 0/1/2 (none/sub/up) are fully vectorized; 3/4
    (average/paeth) fall back to a per-byte scan — correctness-first,
    and encoders overwhelmingly emit 0-2 for synthetic data.
    """
    import struct
    import zlib

    import numpy as np

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG container")
    pos = 8
    idat = bytearray()
    plte = None
    ihdr = None
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced PNG (depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color}")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = w * channels
    if raw.size != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    raw = raw.reshape(h, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:]
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = int(ftypes[y])
        row = rows[y]
        if ft == 0:
            rec = row.copy()
        elif ft == 1:  # sub: per-lane running sum, uint8 wraps mod 256
            rec = row.copy()
            for o in range(bpp):
                np.add.accumulate(rec[o::bpp], out=rec[o::bpp], dtype=np.uint8)
        elif ft == 2:  # up
            rec = row + prior  # uint8 wraps
        elif ft in (3, 4):
            rec = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(rec[i - bpp]) if i >= bpp else 0
                up = int(prior[i])
                if ft == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(prior[i - bpp]) if i >= bpp else 0
                    pred = _paeth(left, up, ul)
                rec[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ft}")
        out[y] = rec
        prior = rec
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return plte[out.reshape(h, w)]
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, channels)


def encode_png_bytes(arr, filter_type: int = 0) -> bytes:
    """Inverse of :func:`decode_png_bytes` for 8-bit gray/[h,w],
    gray+alpha/[h,w,2], RGB/[h,w,3], RGBA/[h,w,4] arrays.

    ``filter_type`` applies one PNG row filter (0-4) to every row —
    encoding-side filtering is pure shifted-array arithmetic (no
    sequential dependence), so all five are vectorized; round-tripping
    each exercises every decoder unfilter branch.
    """
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, channels = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    flat = a.reshape(h, w * channels).astype(np.int16)
    prior = np.zeros_like(flat[0])
    body = bytearray()
    for y in range(h):
        row = flat[y]
        left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]]) if w * channels > bpp else np.zeros_like(row)
        upleft = (
            np.concatenate([np.zeros(bpp, np.int16), prior[:-bpp]])
            if w * channels > bpp
            else np.zeros_like(row)
        )
        if filter_type == 0:
            enc = row
        elif filter_type == 1:
            enc = row - left
        elif filter_type == 2:
            enc = row - prior
        elif filter_type == 3:
            enc = row - (left + prior) // 2
        elif filter_type == 4:
            p = left + prior - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, upleft)
            )
            enc = row - pred
        else:
            raise ValueError(f"PNG filter type {filter_type}")
        body.append(filter_type)
        body.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prior = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body), 6))
        + chunk(b"IEND", b"")
    )


def png_resize_kernel(content: bytes, w: int, h: int) -> bytes:
    """REAL resize kernel for PNG media: decode → nearest-neighbour →
    re-encode, all stdlib-zlib + numpy. Pass as
    ``resize_images(..., kernel=png_resize_kernel)``."""
    return encode_png_bytes(resize_nearest(decode_png_bytes(content), w, h))


def png_feature_kernel(dim: int = 16):
    """REAL featurize kernel for PNG media usable with
    :func:`decode_features` (``kernel=png_feature_kernel(dim)``):
    decode → grayscale → ``dim``-bin intensity histogram (density).
    Deterministic, numpy-only — the decode step is the real codec, the
    feature is a simple but honest image statistic."""

    def kernel(content: bytes, _meta) -> list[float]:
        import numpy as np

        if content is None:
            return [0.0] * dim
        a = decode_png_bytes(bytes(content)).astype(np.float64)
        if a.ndim == 3:
            a = a[..., : min(3, a.shape[2])].mean(axis=2)
        hist, _ = np.histogram(a, bins=dim, range=(0.0, 256.0))
        return (hist / max(1, a.size)).astype(float).tolist()

    return kernel


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbour resize by integer index maps — pure numpy."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[ys][:, xs]


def bmp_resize_kernel(content: bytes, w: int, h: int) -> bytes:
    """REAL resize kernel for BMP media: decode → nearest-neighbour →
    re-encode, all numpy. Pass as ``resize_images(..., kernel=
    bmp_resize_kernel)``."""
    return encode_bmp_bytes(resize_nearest(decode_bmp_bytes(content), w, h))


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    kernel: Callable[[bytes, int, int], bytes] | None = None,
    use_fake: bool = False,
    records_per_batch: int = 64,
) -> DataFrame:
    """Image resize over the media table: (media_id, content, meta) →
    same schema with resized content and updated meta.width/height.

    The Spark side — Arrow batch sizing, schema preservation, metadata
    update — is real; the pixel kernel is a plug-in (``kernel``
    receives (bytes, w, h), e.g. Pillow's ``Image.resize``). The fake
    kernel truncates/pads bytes to w*h for plumbing tests.
    """
    if kernel is None and not use_fake:
        raise NotImplementedError(
            "no resize kernel given: pass kernel=bmp_resize_kernel / "
            "png_resize_kernel / jpeg_resize_kernel / gif_resize_kernel "
            "(real, numpy-only) for BMP/PNG/baseline-JPEG/GIF media, a "
            "Pillow/opencv-backed kernel for other formats, or "
            "use_fake=True"
        )
    spark = media.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(records_per_batch))

    def fake_kernel(content: bytes, w: int, h: int) -> bytes:
        content = content or b""
        return (content * ((w * h) // max(1, len(content)) + 1))[: w * h]

    fn = kernel or fake_kernel

    def mapper(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            metas = []
            blobs = []
            for c, m in zip(pdf["content"], pdf["meta"]):
                m = dict(m)
                m["width"], m["height"] = width, height
                metas.append(m)
                blobs.append(fn(c, width, height))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": blobs, "meta": metas}
            )

    return media.mapInPandas(mapper, MEDIA_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    n_frames: int = 4,
    kernel: Callable[[bytes, int], list[bytes]] | None = None,
    use_fake: bool = False,
    records_per_batch: int = 16,
) -> DataFrame:
    """Video frame sampling: one media row → ``n_frames`` rows of
    (media_id, frame_idx, frame bytes) — the 1→N row expansion shape a
    video pipeline needs (then each frame feeds :func:`decode_features`).

    ``kernel(bytes, n) -> list[bytes]`` plugs in pyav/ffmpeg; the fake
    splits the blob into n equal chunks (deterministic, shape-correct).
    """
    if kernel is None and not use_fake:
        raise NotImplementedError(
            "no frame-sampling kernel: pass kernel=gif_frame_kernel for "
            "animated GIFs (real, numpy-only), a pyav/ffmpeg-backed "
            "kernel for video containers, or use_fake=True"
        )
    spark = media.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(records_per_batch))

    def fake_kernel(content: bytes, n: int) -> list[bytes]:
        content = content or b""
        step = max(1, len(content) // n)
        return [content[i * step : (i + 1) * step] for i in range(n)]

    fn = kernel or fake_kernel

    def mapper(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                for i, fr in enumerate(fn(c, n_frames)):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(fr)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media.mapInPandas(mapper, FRAME_SCHEMA)


def decode_wav_bytes(content: bytes):
    """Decode a PCM WAV container to (sample_rate, mono float64 signal
    in [-1, 1]) with the stdlib ``wave`` module — a real decoder, not a
    stub: WAV/PCM needs no third-party codec."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content)) as w:
        sr = w.getframerate()
        ch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"sample width {sw} (24-bit needs unpacking)")
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return sr, x


AUDIO_FEATURES_SCHEMA = (
    "duration_s double, rms double, zero_cross_rate double, spectral_centroid_hz double"
)


def audio_features(media: DataFrame, content_col: str = "content") -> DataFrame:
    """REAL audio features over PCM-WAV binary columns — stdlib decode
    (:func:`decode_wav_bytes`) + numpy signal math, Arrow-batched:
    duration, RMS level, zero-crossing rate, and FFT spectral centroid.
    Same physical shape as every media kernel: per-row CPU-bound work
    inside the scan stage, fixed-width float outputs."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(contents: "pd.Series") -> "pd.DataFrame":
        import numpy as np

        rows = []
        for content in contents:
            if content is None:
                rows.append((None, None, None, None))
                continue
            sr, x = decode_wav_bytes(bytes(content))
            n = len(x)
            if n == 0:
                rows.append((0.0, 0.0, 0.0, None))
                continue
            rms = float(np.sqrt((x * x).mean()))
            zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if n > 1 else 0.0
            spec = np.abs(np.fft.rfft(x))
            freqs = np.fft.rfftfreq(n, d=1.0 / sr)
            tot = spec.sum()
            centroid = float((freqs * spec).sum() / tot) if tot > 0 else None
            rows.append((n / sr, rms, zcr, centroid))
        return pd.DataFrame(
            rows,
            columns=[
                "duration_s",
                "rms",
                "zero_cross_rate",
                "spectral_centroid_hz",
            ],
        )

    # real (non-stringized) annotations for pandas_udf inference
    fn.__annotations__ = {"contents": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(fn, f"struct<{AUDIO_FEATURES_SCHEMA}>")
    return media.withColumn("audio", udf(F.col(content_col))).select(
        "*", "audio.*"
    ).drop("audio")


# ----------------------------------------------------------- JPEG codec
#
# JFIF in pure numpy + stdlib — the third real image codec (siblings:
# PNG, BMP above). Scope: 8-bit precision, huffman entropy coding,
# 1 or 3 components, chroma subsampling factors 1-2, DRI/RSTn restart
# intervals, non-interleaved multi-scan sequential both ways (r5),
# AND progressive (SOF2, r5): spectral selection +
# successive approximation on both the encode and decode side —
# interleaved/non-interleaved DC scans, per-component AC band scans,
# EOBRUN, ZRL-in-refinement, buffered correction bits (the T.81
# G.1/G.2 control flow). Arithmetic coding and extended-sequential
# frames raise NotImplementedError naming the feature. The encoders
# write grayscale or colour with the Annex-K example tables (plus a
# self-contained all-symbols AC table for progressive scans); the
# decoder reads quant/huffman tables FROM THE FILE, so each pair is
# self-consistent by construction and the round-trip error is exactly
# the quantization loss — a progressive encode decodes pixel-identical
# to the baseline encode of the same image.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU-T T.81 Annex K.1 example quantization tables (quality ~50)
_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 example huffman tables: (bits[1..16], values)
_HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


# Progressive AC scans need the EOBn symbols (0x10..0xE0), which the
# sequential Annex-K tables don't carry. This flat canonical table
# covers ALL 256 run/size symbols (255 at 8 bits + one at 9, keeping
# the all-ones code unassigned per T.81's padding rule); the encoder
# writes it in DHT and the decoder reads tables from the file, so the
# pair stays self-consistent. Compression is not the point here.
_HT_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _dct_matrix():
    import numpy as np

    C = np.zeros((8, 8))
    for u in range(8):
        cu = (0.5 ** 0.5) if u == 0 else 1.0
        for x in range(8):
            C[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return C


def _huff_codes(bits, values):
    """Canonical huffman: {symbol: (code, length)}."""
    out = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


def _huff_decode_map(bits, values):
    """{(length, code): symbol} for the reader."""
    out = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[idx]
            code += 1
            idx += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-pad to byte boundary


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise EOFError("entropy stream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def symbol(self, dmap) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            s = dmap.get((length, code))
            if s is not None:
                return s
        raise ValueError("invalid huffman code")


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _mag_category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def encode_jpeg_bytes(
    arr,
    subsample: bool = False,
    restart_interval: int = 0,
    interleaved: bool = True,
) -> bytes:
    """Baseline JFIF encoder: uint8 (H,W) grayscale or (H,W,3) RGB →
    JPEG bytes (Annex-K tables). Colour is 4:4:4 by default;
    ``subsample=True`` writes 4:2:0 (2×2 box-averaged chroma, the
    common real-world form). ``restart_interval`` > 0 emits DRI/RSTn
    every that many MCUs. ``interleaved=False`` (r5) writes one
    NON-interleaved scan per component over its own ceil block grid —
    the multi-scan sequential form some encoders emit. Round-trip
    loss = quantization (+ chroma averaging when subsampled)."""
    import numpy as np

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_jpeg_bytes wants uint8")
    gray = a.ndim == 2
    if gray and subsample:
        raise ValueError("subsample applies to colour images only")
    if not interleaved and restart_interval:
        raise ValueError("restart_interval supports the interleaved scan only")
    h, w = a.shape[:2]
    if gray:
        planes = [a.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def box2(p):
                hh = (p.shape[0] + 1) // 2 * 2
                ww = (p.shape[1] + 1) // 2 * 2
                pp = np.empty((hh, ww))
                pp[: p.shape[0], : p.shape[1]] = p
                if hh > p.shape[0]:
                    pp[p.shape[0] :, : p.shape[1]] = p[-1:, :]
                if ww > p.shape[1]:
                    pp[:, p.shape[1] :] = pp[:, p.shape[1] - 1 : p.shape[1]]
                return (pp[0::2, 0::2] + pp[1::2, 0::2] + pp[0::2, 1::2] + pp[1::2, 1::2]) / 4.0

            planes = [y, box2(cb), box2(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1)] * 3
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))

    C = _dct_matrix()
    qts = [np.array(_QT_LUMA).reshape(8, 8).astype(np.float64)]
    if not gray:
        qts.append(np.array(_QT_CHROMA).reshape(8, 8).astype(np.float64))
    dc_tabs = [_huff_codes(*_HT_DC_LUMA)]
    ac_tabs = [_huff_codes(*_HT_AC_LUMA)]
    if not gray:
        dc_tabs.append(_huff_codes(*_HT_DC_CHROMA))
        ac_tabs.append(_huff_codes(*_HT_AC_CHROMA))

    padded = []
    for ci, p in enumerate(planes):
        sh, sv = samp[ci]
        ph, pw = my * sv * 8, mx * sh * 8
        pp = np.empty((ph, pw))
        ch, cw = p.shape
        pp[:ch, :cw] = p
        if ph > ch:
            pp[ch:, :cw] = p[ch - 1 : ch, :]
        if pw > cw:
            pp[:, cw:] = pp[:, cw - 1 : cw]
        padded.append(pp)

    def encode_block(bw, block, ti, pred, ci):
        Fq = np.round(C @ (block - 128.0) @ C.T / qts[ti]).astype(np.int64)
        zz = [int(Fq.flat[z]) for z in _ZIGZAG]
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        t = _mag_category(diff)
        code, ln = dc_tabs[ti][t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c0, l0 = ac_tabs[ti][0xF0]  # ZRL
                bw.write(c0, l0)
                run -= 16
            t = _mag_category(v)
            code, ln = ac_tabs[ti][(run << 4) | t]
            bw.write(code, ln)
            bw.write(v if v > 0 else v + (1 << t) - 1, t)
            run = 0
        if last_nz < 63:
            c0, l0 = ac_tabs[ti][0x00]  # EOB
            bw.write(c0, l0)

    scan_bufs: list = []
    if interleaved or gray:
        bw = _BitWriter()
        pred = [0] * len(planes)
        mcu = 0
        rst_n = 0
        for myi in range(my):
            for mxi in range(mx):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    bw.flush()
                    bw.buf += bytes([0xFF, 0xD0 + rst_n])
                    rst_n = (rst_n + 1) % 8
                    pred = [0] * len(planes)
                for ci, p in enumerate(padded):
                    ti = 0 if (gray or ci == 0) else 1
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for hI in range(sh):
                            y0 = (myi * sv + v) * 8
                            x0 = (mxi * sh + hI) * 8
                            encode_block(bw, p[y0 : y0 + 8, x0 : x0 + 8], ti, pred, ci)
                mcu += 1
        bw.flush()
    else:
        # one scan per component, raster over its ceil grid (the
        # non-interleaved dimension rule; DC predictor resets per scan)
        for ci, p in enumerate(padded):
            ti = 0 if ci == 0 else 1
            sh, sv = samp[ci]
            cw = -(-w * sh // hmax)
            chh = -(-h * sv // vmax)
            bw_c = _BitWriter()
            pred = [0] * len(planes)
            for by in range(-(-chh // 8)):
                for bx in range(-(-cw // 8)):
                    encode_block(
                        bw_c, p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                        ti, pred, ci,
                    )
            bw_c.flush()
            scan_bufs.append(bw_c.buf)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, qt in enumerate(qts):
        zz = bytes(int(qt.flat[z]) for z in _ZIGZAG)
        out += seg(0xDB, bytes([ti]) + zz)
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        qi = 0 if ci == 0 else 1
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, qi])
    out += seg(0xC0, sof)
    hts = [(0x00, _HT_DC_LUMA), (0x10, _HT_AC_LUMA)]
    if not gray:
        hts += [(0x01, _HT_DC_CHROMA), (0x11, _HT_AC_CHROMA)]
    for tc, (bits, values) in hts:
        out += seg(0xC4, bytes([tc]) + bytes(bits) + bytes(values))
    if interleaved or gray:
        sos = bytes([ncomp])
        for ci in range(ncomp):
            ht = 0x00 if ci == 0 else 0x11
            sos += bytes([ci + 1, ht])
        sos += bytes([0, 63, 0])
        out += seg(0xDA, sos)
        out += bw.buf
    else:
        for ci in range(ncomp):
            ht = 0x00 if ci == 0 else 0x11
            out += seg(0xDA, bytes([1, ci + 1, ht, 0, 63, 0]))
            out += scan_bufs[ci]
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_cmyk(arr, ycck: bool = False) -> bytes:
    """Adobe 4-component JPEG encoder (r6): uint8 (H,W,4) CMYK →
    baseline 4:4:4 JPEG with an APP14 "Adobe" segment. Samples are
    stored INVERTED per the Adobe convention (s = 255 − ink);
    ``ycck=True`` additionally runs the inverted CMY triplet through
    the YCbCr forward transform (APP14 transform 2), the form Adobe
    products actually emit. Round-trip loss = quantization."""
    import numpy as np

    a = np.asarray(arr)
    if a.dtype != np.uint8 or a.ndim != 3 or a.shape[2] != 4:
        raise ValueError("encode_jpeg_cmyk wants uint8 (H, W, 4)")
    h, w = a.shape[:2]
    inv = 255.0 - a.astype(np.float64)  # stored = inverted ink
    if ycck:
        r, g, b = inv[..., 0], inv[..., 1], inv[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
            inv[..., 3],
        ]
        # Y and K quantize/code as luma; Cb/Cr as chroma
        tabs = [0, 1, 1, 0]
    else:
        planes = [inv[..., 0], inv[..., 1], inv[..., 2], inv[..., 3]]
        tabs = [0, 0, 0, 0]

    C = _dct_matrix()
    qts = [
        np.array(_QT_LUMA).reshape(8, 8).astype(np.float64),
        np.array(_QT_CHROMA).reshape(8, 8).astype(np.float64),
    ]
    dc_tabs = [_huff_codes(*_HT_DC_LUMA), _huff_codes(*_HT_DC_CHROMA)]
    ac_tabs = [_huff_codes(*_HT_AC_LUMA), _huff_codes(*_HT_AC_CHROMA)]
    mx, my = -(-w // 8), -(-h // 8)
    padded = []
    for p in planes:
        pp = np.empty((my * 8, mx * 8))
        pp[:h, :w] = p
        if my * 8 > h:
            pp[h:, :w] = p[h - 1 : h, :]
        if mx * 8 > w:
            pp[:, w:] = pp[:, w - 1 : w]
        padded.append(pp)

    bw = _BitWriter()
    pred = [0] * 4
    for myi in range(my):
        for mxi in range(mx):
            for ci, p in enumerate(padded):
                ti = tabs[ci]
                block = p[myi * 8 : myi * 8 + 8, mxi * 8 : mxi * 8 + 8]
                Fq = np.round(C @ (block - 128.0) @ C.T / qts[ti]).astype(
                    np.int64
                )
                zz = [int(Fq.flat[z]) for z in _ZIGZAG]
                diff = zz[0] - pred[ci]
                pred[ci] = zz[0]
                t = _mag_category(diff)
                code, ln = dc_tabs[ti][t]
                bw.write(code, ln)
                if t:
                    bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
                run = 0
                last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
                for i in range(1, last_nz + 1):
                    v = zz[i]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        c0, l0 = ac_tabs[ti][0xF0]
                        bw.write(c0, l0)
                        run -= 16
                    t = _mag_category(v)
                    code, ln = ac_tabs[ti][(run << 4) | t]
                    bw.write(code, ln)
                    bw.write(v if v > 0 else v + (1 << t) - 1, t)
                    run = 0
                if last_nz < 63:
                    c0, l0 = ac_tabs[ti][0x00]
                    bw.write(c0, l0)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")
    out += seg(
        0xEE,
        b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 2 if ycck else 0]),
    )
    for ti, qt in enumerate(qts):
        zzb = bytes(int(qt.flat[z]) for z in _ZIGZAG)
        out += seg(0xDB, bytes([ti]) + zzb)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([4])
    for ci in range(4):
        sof += bytes([ci + 1, 0x11, tabs[ci]])
    out += seg(0xC0, sof)
    for tc, (bits, values) in [
        (0x00, _HT_DC_LUMA),
        (0x10, _HT_AC_LUMA),
        (0x01, _HT_DC_CHROMA),
        (0x11, _HT_AC_CHROMA),
    ]:
        out += seg(0xC4, bytes([tc]) + bytes(bits) + bytes(values))
    sos = bytes([4])
    for ci in range(4):
        sos += bytes([ci + 1, (tabs[ci] << 4) | tabs[ci]])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(arr, subsample: bool = False) -> bytes:
    """Progressive JFIF encoder (SOF2, r5): uint8 (H,W) grayscale or
    (H,W,3) RGB → JPEG bytes using the classic libjpeg-style scan
    script — DC first at Al=1, AC bands at reduced precision, then
    successive-approximation refinement scans down to Al=0
    (exercising EOBRUN, ZRL-in-refinement, and buffered correction
    bits on both codec sides). Colour is 4:4:4 by default;
    ``subsample=True`` writes 4:2:0 — the interleaved DC scan then
    walks 2×2 luma blocks per MCU while the AC scans cover each
    component's OWN ceil block grid (the non-interleaved dimension
    rule, T.81 A.2.2). Round-trip loss = quantization (+ chroma
    averaging when subsampled), exactly like the baseline encoder."""
    import numpy as np

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_jpeg_progressive wants uint8")
    gray = a.ndim == 2
    if gray and subsample:
        raise ValueError("subsample applies to colour images only")
    h, w = a.shape[:2]
    if gray:
        planes = [a.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def box2(p):
                hh = (p.shape[0] + 1) // 2 * 2
                ww = (p.shape[1] + 1) // 2 * 2
                pp = np.empty((hh, ww))
                pp[: p.shape[0], : p.shape[1]] = p
                if hh > p.shape[0]:
                    pp[p.shape[0] :, : p.shape[1]] = p[-1:, :]
                if ww > p.shape[1]:
                    pp[:, p.shape[1] :] = pp[:, p.shape[1] - 1 : p.shape[1]]
                return (
                    pp[0::2, 0::2] + pp[1::2, 0::2] + pp[0::2, 1::2] + pp[1::2, 1::2]
                ) / 4.0

            planes = [y, box2(cb), box2(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1)] * 3
    ncomp = len(planes)
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    C = _dct_matrix()
    qts = [np.array(_QT_LUMA).reshape(8, 8).astype(np.float64)]
    dc_tabs = [_huff_codes(*_HT_DC_LUMA)]
    ac_prog = _huff_codes(*_HT_AC_PROG)
    ac_tabs = [ac_prog]
    if not gray:
        qts.append(np.array(_QT_CHROMA).reshape(8, 8).astype(np.float64))
        dc_tabs.append(_huff_codes(*_HT_DC_CHROMA))
        ac_tabs.append(ac_prog)

    # quantized coefficient blocks (zigzag order) on each component's
    # MCU-padded grid
    coefzz = []
    for ci, p in enumerate(planes):
        ti = 0 if ci == 0 else 1
        sh, sv = samp[ci]
        gh, gw = my * sv, mx * sh  # block-grid dims
        pp = np.empty((gh * 8, gw * 8))
        ch, cw = p.shape
        pp[:ch, :cw] = p
        if gh * 8 > ch:
            pp[ch:, :cw] = p[ch - 1 : ch, :]
        if gw * 8 > cw:
            pp[:, cw:] = pp[:, cw - 1 : cw]
        grid = []
        for by in range(gh):
            row = []
            for bx in range(gw):
                block = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                Fq = np.round(C @ (block - 128.0) @ C.T / qts[ti]).astype(np.int64)
                row.append([int(Fq.flat[z]) for z in _ZIGZAG])
            grid.append(row)
        coefzz.append(grid)

    def dc_block_order():
        # interleaved MCU order (every component, all its MCU blocks)
        for myi in range(my):
            for mxi in range(mx):
                for ci in range(ncomp):
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for hh in range(sh):
                            yield ci, coefzz[ci][myi * sv + v][mxi * sh + hh]

    def ac_block_order(ci):
        # the component's OWN ceil grid (padding blocks stay AC-zero)
        sh, sv = samp[ci]
        cw = -(-w * sh // hmax)
        ch = -(-h * sv // vmax)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield coefzz[ci][by][bx]

    def dc_first_scan(al):
        bw = _BitWriter()
        pred = [0] * ncomp
        for ci, zz in dc_block_order():
            ti = 0 if ci == 0 else 1
            v = zz[0] >> al  # arithmetic shift (T.81 G.1.2.1)
            diff = v - pred[ci]
            pred[ci] = v
            t = _mag_category(diff)
            code, ln = dc_tabs[ti][t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        bw.flush()
        return bw.buf

    def dc_refine_scan(al):
        bw = _BitWriter()
        for _ci, zz in dc_block_order():
            bw.write((zz[0] >> al) & 1, 1)
        bw.flush()
        return bw.buf

    def ac_first_scan(ci, ss, se, al):
        tab = ac_tabs[0 if ci == 0 else 1]
        bw = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                code, ln = tab[nb << 4]
                bw.write(code, ln)
                if nb:
                    bw.write(eobrun & ((1 << nb) - 1), nb)
                eobrun = 0

        for zz in ac_block_order(ci):
            # AC point transform truncates toward zero (T.81 G.1.2.2)
            vals = [
                (abs(zz[k]) >> al) * (1 if zz[k] >= 0 else -1)
                for k in range(ss, se + 1)
            ]
            nz = [i for i, v in enumerate(vals) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(nz[-1] + 1):
                v = vals[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = tab[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s = _mag_category(v)
                code, ln = tab[(run << 4) | s]
                bw.write(code, ln)
                bw.write(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if nz[-1] < len(vals) - 1:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        bw.flush()
        return bw.buf

    def ac_refine_scan(ci, ss, se, al):
        # T.81 G.1.2.3 / the libjpeg control flow: newly-significant
        # coefficients carry huffman symbols; already-nonzero ones emit
        # raw correction bits, buffered until the next symbol (or the
        # deferred EOBRUN) so decoder and encoder walk the band in the
        # same order
        tab = ac_tabs[0 if ci == 0 else 1]
        bw = _BitWriter()
        eobrun = 0
        eob_pending: list[int] = []  # bits owned by the deferred EOBRUN (BE)
        pending: list[int] = []  # current block's bits so far (BR)

        def emit_pending():
            for bit in pending:
                bw.write(bit, 1)
            pending.clear()

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                code, ln = tab[nb << 4]
                bw.write(code, ln)
                if nb:
                    bw.write(eobrun & ((1 << nb) - 1), nb)
                eobrun = 0
                for bit in eob_pending:
                    bw.write(bit, 1)
                eob_pending.clear()

        for zz in ac_block_order(ci):
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            eob_pos = max(
                (i for i, t in enumerate(absv) if t == 1), default=-1
            )
            run = 0
            for i, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob_pos:
                    flush_eob()
                    code, ln = tab[0xF0]
                    bw.write(code, ln)
                    run -= 16
                    emit_pending()
                if t > 1:
                    pending.append(t & 1)
                    continue
                # newly significant (t == 1): i <= eob_pos by definition
                flush_eob()
                code, ln = tab[(run << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if zz[ss + i] >= 0 else 0, 1)
                emit_pending()
                run = 0
            if run > 0 or pending:
                eobrun += 1
                eob_pending.extend(pending)
                pending.clear()
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        bw.flush()
        return bw.buf

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, qtab in enumerate(qts):
        out += seg(0xDB, bytes([ti]) + bytes(int(qtab.flat[z]) for z in _ZIGZAG))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)
    hts = [(0x00, _HT_DC_LUMA), (0x10, _HT_AC_PROG)]
    if not gray:
        hts += [(0x01, _HT_DC_CHROMA), (0x11, _HT_AC_PROG)]
    for tc, (bits, values) in hts:
        out += seg(0xC4, bytes([tc]) + bytes(bits) + bytes(values))

    def sos(comps_td, ss, se, ah, al, body):
        payload = bytes([len(comps_td)])
        for cid, td in comps_td:
            payload += bytes([cid, td])
        payload += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, payload) + body

    all_dc = [(ci + 1, (0 if ci == 0 else 1) << 4) for ci in range(ncomp)]
    # the scan script: DC first, AC bands at reduced precision, then
    # refinements down to full precision
    out += sos(all_dc, 0, 0, 0, 1, dc_first_scan(1))
    out += sos([(1, 0x00)], 1, 5, 0, 2, ac_first_scan(0, 1, 5, 2))
    if not gray:
        out += sos([(2, 0x01)], 1, 63, 0, 1, ac_first_scan(1, 1, 63, 1))
        out += sos([(3, 0x01)], 1, 63, 0, 1, ac_first_scan(2, 1, 63, 1))
    out += sos([(1, 0x00)], 6, 63, 0, 2, ac_first_scan(0, 6, 63, 2))
    out += sos([(1, 0x00)], 1, 63, 2, 1, ac_refine_scan(0, 1, 63, 1))
    out += sos(all_dc, 0, 0, 1, 0, dc_refine_scan(0))
    if not gray:
        out += sos([(3, 0x01)], 1, 63, 1, 0, ac_refine_scan(2, 1, 63, 0))
        out += sos([(2, 0x01)], 1, 63, 1, 0, ac_refine_scan(1, 1, 63, 0))
    out += sos([(1, 0x00)], 1, 63, 1, 0, ac_refine_scan(0, 1, 63, 0))
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_bytes(content: bytes):
    """JFIF decoder → uint8 array (H,W) or (H,W,3). Reads quant +
    huffman tables from the file; supports 1 (grayscale), 3 (YCbCr),
    or 4 (Adobe CMYK/YCCK via the APP14 transform, r6 — returned as
    RGB) components and sampling factors 1-2. Baseline (SOF0) with
    DRI/RSTn — one interleaved scan or several non-interleaved
    single-component scans (r5) — AND progressive (SOF2, r5):
    spectral selection + successive approximation,
    interleaved/non-interleaved DC scans, per-component AC band
    scans, EOBRUN, and both refinement scan kinds (T.81 G.2).
    Extended-sequential/lossless/arithmetic coding and 2-component
    frames raise ``NotImplementedError``."""
    import numpy as np

    d = content
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    scans: list[tuple] = []
    progressive = False
    adobe_transform = None
    while pos < len(d):
        if d[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = d[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only baseline (SOF0) and progressive (SOF2) JPEG are "
                "supported"
            )
        ln = int.from_bytes(d[pos : pos + 2], "big")
        payload = d[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                p += 1
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64)
                for i in range(64):
                    tbl[_ZIGZAG[i]] = payload[p + i]
                qt[tq] = tbl.reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                nv = sum(bits)
                values = list(payload[p + 17 : p + 17 + nv])
                huff[(tc, th)] = _huff_decode_map(bits, values)
                p += 17 + nv
        elif marker == 0xEE and payload[:5] == b"Adobe" and len(payload) >= 12:
            adobe_transform = payload[11]  # APP14: 0 CMYK, 2 YCCK
        elif marker in (0xC0, 0xC2):  # SOF0 / SOF2
            progressive = marker == 0xC2
            prec = payload[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            H = int.from_bytes(payload[1:3], "big")
            W = int.from_bytes(payload[3:5], "big")
            nc = payload[5]
            if nc not in (1, 3, 4):
                # 2-component files have no defined color transform
                # here (ADVICE r4); 4-component Adobe CMYK/YCCK is
                # handled via the APP14 transform (r6)
                raise NotImplementedError(
                    f"{nc}-component JPEG (grayscale, YCbCr, and Adobe "
                    "CMYK/YCCK are supported)"
                )
            comps = []
            for ci in range(nc):
                cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = (H, W, comps)
        elif marker == 0xDD:  # DRI
            restart = int.from_bytes(payload[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = payload[0]
            sel = {}
            for si in range(ns):
                cs, tt = payload[1 + 2 * si : 3 + 2 * si]
                sel[cs] = (tt >> 4, tt & 0xF)
            ss = payload[1 + 2 * ns]
            se = payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            scan_start = pos + ln
            # entropy data runs to the next non-RST marker
            p = scan_start
            while p < len(d) - 1:
                if d[p] == 0xFF and d[p + 1] not in (0x00, *range(0xD0, 0xD8)):
                    break
                p += 1
            scans.append(
                (sel, ss, se, ahal >> 4, ahal & 0xF, d[scan_start:p])
            )
            pos = p
            continue
        pos += ln
    if frame is None or not scans:
        raise ValueError("missing SOF/SOS")
    H, W, comps = frame
    if progressive:
        planes = _decode_progressive_jpeg(H, W, comps, scans, qt, huff, restart)
        return _jpeg_planes_to_image(planes, H, W, comps, adobe_transform)

    # sequential: one interleaved scan (the classic form) OR several
    # non-interleaved scans, one component each (r5 — some encoders
    # emit these; the scan walks the component's OWN ceil block grid
    # and an MCU is a single block, T.81 A.2.2)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx, my = -(-W // (8 * hmax)), -(-H // (8 * vmax))
    planes = [
        np.zeros((my * c["v"] * 8, mx * c["h"] * 8)) for c in comps
    ]
    C = _dct_matrix()

    def split_segs(data):
        # split on RSTn, de-stuff each segment
        segs = []
        cur = bytearray()
        p = 0
        while p < len(data):
            if data[p] == 0xFF:
                nxt = data[p + 1] if p + 1 < len(data) else 0
                if nxt == 0x00:
                    cur.append(0xFF)
                    p += 2
                    continue
                if 0xD0 <= nxt <= 0xD7:
                    segs.append(bytes(cur))
                    cur = bytearray()
                    p += 2
                    continue
            cur.append(data[p])
            p += 1
        segs.append(bytes(cur))
        return segs

    def decode_block(br, dc_map, ac_map, q, pred, ci):
        t = br.symbol(dc_map)
        diff = _extend(br.bits(t), t) if t else 0
        pred[ci] += diff
        zz = np.zeros(64)
        zz[0] = pred[ci]
        i = 1
        while i < 64:
            rs = br.symbol(ac_map)
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                i += 16
                continue
            i += rs >> 4
            t = rs & 0xF
            if i > 63:
                raise ValueError("AC index overflow")
            zz[i] = _extend(br.bits(t), t)
            i += 1
        Fq = np.zeros(64)
        for i in range(64):
            Fq[_ZIGZAG[i]] = zz[i]
        return C.T @ (Fq.reshape(8, 8) * q) @ C + 128.0

    for sel, _ss, _se, _ah, _al, data in scans:
        segs = split_segs(data)
        scomps = [(ci, c) for ci, c in enumerate(comps) if c["id"] in sel]
        pred = [0] * len(comps)
        seg_i = 0
        br = _BitReader(segs[0])
        if len(scomps) > 1:
            mcu = 0
            for myi in range(my):
                for mxi in range(mx):
                    if restart and mcu and mcu % restart == 0:
                        seg_i += 1
                        br = _BitReader(segs[seg_i])
                        pred = [0] * len(comps)
                    for ci, c in scomps:
                        dc_map = huff[(0, sel[c["id"]][0])]
                        ac_map = huff[(1, sel[c["id"]][1])]
                        q = qt[c["tq"]]
                        for v in range(c["v"]):
                            for hI in range(c["h"]):
                                block = decode_block(br, dc_map, ac_map, q, pred, ci)
                                y0 = (myi * c["v"] + v) * 8
                                x0 = (mxi * c["h"] + hI) * 8
                                planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
                    mcu += 1
        else:
            ci, c = scomps[0]
            dc_map = huff[(0, sel[c["id"]][0])]
            ac_map = huff[(1, sel[c["id"]][1])]
            q = qt[c["tq"]]
            cw = -(-W * c["h"] // hmax)
            ch = -(-H * c["v"] // vmax)
            n_blk = 0
            for by in range(-(-ch // 8)):
                for bx in range(-(-cw // 8)):
                    if restart and n_blk and n_blk % restart == 0:
                        seg_i += 1
                        br = _BitReader(segs[seg_i])
                        pred = [0] * len(comps)
                    block = decode_block(br, dc_map, ac_map, q, pred, ci)
                    planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
                    n_blk += 1

    return _jpeg_planes_to_image(planes, H, W, comps, adobe_transform)


def _jpeg_planes_to_image(planes, H, W, comps, adobe_transform=None):
    """Shared decode tail: upsample subsampled planes, crop to the
    frame size, then the color transform — YCbCr→RGB for 3
    components; for 4 components (r6) the Adobe conventions: samples
    are stored INVERTED (s = 255 − ink), so with transform 0 (CMYK)
    ``R = s_c·s_k/255`` directly, and transform 2 (YCCK) first maps
    the YCbCr triplet back to the inverted-CMY plane. Output is always
    RGB (or grayscale) uint8 — the downstream feature extractors see
    one colorspace."""
    import numpy as np

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    outp = []
    for ci, c in enumerate(comps):
        p = np.repeat(
            np.repeat(planes[ci], vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        outp.append(p[:H, :W])
    if len(outp) == 1:
        return np.clip(np.round(outp[0]), 0, 255).astype(np.uint8)

    def ycc_to_rgb(y, cb, cr):
        cb, cr = cb - 128.0, cr - 128.0
        return (
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        )

    if len(outp) == 4:
        if adobe_transform == 2:  # YCCK
            sc, sm, sy = ycc_to_rgb(outp[0], outp[1], outp[2])
        else:  # CMYK (transform 0 or no APP14 — the libjpeg default)
            sc, sm, sy = outp[0], outp[1], outp[2]
        sk = np.clip(outp[3], 0.0, 255.0)
        sc, sm, sy = (np.clip(p, 0.0, 255.0) for p in (sc, sm, sy))
        rgb = np.stack([sc * sk, sm * sk, sy * sk], axis=-1) / 255.0
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)

    r, g, b = ycc_to_rgb(outp[0], outp[1], outp[2])
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _destuff(data: bytes) -> bytes:
    """Remove 0xFF00 byte stuffing from one entropy segment."""
    out = bytearray()
    p = 0
    while p < len(data):
        out.append(data[p])
        if data[p] == 0xFF and p + 1 < len(data) and data[p + 1] == 0x00:
            p += 2
        else:
            p += 1
    return bytes(out)


def _decode_progressive_jpeg(H, W, comps, scans, qt, huff, restart):
    """Progressive (SOF2) scan accumulation → per-component planes
    (T.81 G.2): each scan deposits one spectral band at one bit of
    precision into the coefficient store; the IDCT runs once at the
    end. Supports interleaved and single-component DC scans, single
    -component AC band scans, EOBRUN, and both refinement kinds."""
    import numpy as np

    if restart:
        raise NotImplementedError("restart intervals in progressive JPEG")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx, my = -(-W // (8 * hmax)), -(-H // (8 * vmax))
    coef = [
        np.zeros((my * c["v"], mx * c["h"], 64), np.int64) for c in comps
    ]

    def comp_block_grid(c):
        # non-interleaved scans cover the component's OWN block grid
        cw = -(-W * c["h"] // hmax)
        ch = -(-H * c["v"] // vmax)
        return -(-ch // 8), -(-cw // 8)

    for sel, ss, se, ah, al, data in scans:
        br = _BitReader(_destuff(data))
        scomps = [(ci, c) for ci, c in enumerate(comps) if c["id"] in sel]
        if ss == 0:  # ---- DC scan
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            if len(scomps) > 1:
                blocks = [
                    (ci, myi * c["v"] + v, mxi * c["h"] + hh)
                    for myi in range(my)
                    for mxi in range(mx)
                    for ci, c in scomps
                    for v in range(c["v"])
                    for hh in range(c["h"])
                ]
            else:
                ci, c = scomps[0]
                bh, bw_ = comp_block_grid(c)
                blocks = [
                    (ci, by, bx) for by in range(bh) for bx in range(bw_)
                ]
            if ah == 0:  # first DC scan: huffman diffs at precision Al
                pred = {ci: 0 for ci, _ in scomps}
                for ci, by, bx in blocks:
                    dmap = huff[(0, sel[comps[ci]["id"]][0])]
                    t = br.symbol(dmap)
                    diff = _extend(br.bits(t), t) if t else 0
                    pred[ci] += diff
                    coef[ci][by, bx, 0] = pred[ci] << al
            else:  # DC refinement: one raw bit per block
                for ci, by, bx in blocks:
                    if br.bit():
                        coef[ci][by, bx, 0] |= 1 << al
            continue
        # ---- AC scan: always single-component (T.81 B.2.3)
        if len(scomps) != 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        ci, c = scomps[0]
        amap = huff[(1, sel[c["id"]][1])]
        bh, bw_ = comp_block_grid(c)
        eobrun = 0
        p1 = 1 << al
        for by in range(bh):
            for bx in range(bw_):
                blk = coef[ci][by, bx]
                if ah == 0:  # ---- first AC scan for this band
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = br.symbol(amap)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("AC band overflow")
                        blk[_ZIGZAG[k]] = _extend(br.bits(s), s) << al
                        k += 1
                    continue
                # ---- AC refinement scan (T.81 G.2.2 / the libjpeg
                # control flow): correction bits for already-nonzero
                # coefficients are interleaved with newly-significant
                # ones and with the EOBRUN
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = br.symbol(amap)
                        r, s = rs >> 4, rs & 0xF
                        newval = 0
                        if s:
                            newval = p1 if br.bit() else -p1
                        elif r != 15:
                            eobrun = (1 << r) + (br.bits(r) if r else 0)
                            break
                        while k <= se:
                            zi = _ZIGZAG[k]
                            if blk[zi] != 0:
                                if br.bit() and (blk[zi] & p1) == 0:
                                    blk[zi] += p1 if blk[zi] >= 0 else -p1
                            else:
                                r -= 1
                                if r < 0:
                                    break
                            k += 1
                        if newval:
                            blk[_ZIGZAG[k]] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        zi = _ZIGZAG[k]
                        if blk[zi] != 0:
                            if br.bit() and (blk[zi] & p1) == 0:
                                blk[zi] += p1 if blk[zi] >= 0 else -p1
                        k += 1
                    eobrun -= 1

    C = _dct_matrix()
    planes = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]]
        plane = np.zeros((my * c["v"] * 8, mx * c["h"] * 8))
        for by in range(my * c["v"]):
            for bx in range(mx * c["h"]):
                Fq = coef[ci][by, bx].astype(np.float64).reshape(8, 8)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    C.T @ (Fq * q) @ C + 128.0
                )
        planes.append(plane)
    return planes


def jpeg_resize_kernel(content: bytes, w: int, h: int) -> bytes:
    """REAL resize kernel for JPEG media: decode → nearest-neighbour →
    re-encode (4:4:4). Pass as ``resize_images(..., kernel=jpeg_resize_kernel)``."""
    return encode_jpeg_bytes(resize_nearest(decode_jpeg_bytes(content), w, h))


def jpeg_feature_kernel(dim: int = 16):
    """REAL featurize kernel for JPEG media usable with
    :func:`decode_features` (``kernel=jpeg_feature_kernel(dim)``) —
    same grayscale intensity histogram as :func:`png_feature_kernel`,
    over the real baseline decode."""

    def kernel(content: bytes, _meta) -> list[float]:
        import numpy as np

        if content is None:
            return [0.0] * dim
        a = decode_jpeg_bytes(bytes(content)).astype(np.float64)
        if a.ndim == 3:
            a = a.mean(axis=2)
        hist, _ = np.histogram(a, bins=dim, range=(0.0, 256.0))
        return (hist / max(1, a.size)).astype(float).tolist()

    return kernel


# ------------------------------------------------------------ GIF codec
#
# GIF87a/89a in pure python/numpy — the format that makes
# :func:`sample_frames` REAL end-to-end: an animated GIF decodes to N
# frames, the kernel picks n evenly spaced and re-encodes each as PNG,
# so the sampled frames feed :func:`decode_features`'s PNG kernel with
# no fakes anywhere in the chain. Scope: global/local color tables,
# full-frame and partial frames (composited over the previous frame),
# graphics-control extensions — transparency masking and disposal
# methods 2 (restore-to-background) and 3 (restore-to-previous) are
# honored in the composite (ADVICE r4) — and real variable-width LZW
# both ways (encoder width bump at next_code == 2^w + 1 mirrors the
# decoder's bump at 2^w — the decoder's table lags the encoder by one
# entry); interlaced images are de-interlaced (r5, four-pass row
# scatter). The
# ENCODER always emits opaque full frames (no transparency, disposal
# "none") — the decode-side GCE handling is exercised against
# spec-composed byte streams in tests.


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # missing EOI — tolerate truncation
            acc |= data[pos] << nbits  # LSB-first packing
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _lzw_encode(indices, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple, int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    w: tuple = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the decoder (one table entry behind) bumps at 2^width;
            # mirror it one later
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = (k,)
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_bytes(frames, delay_cs: int = 10) -> bytes:
    """GIF89a encoder: ``frames`` is one uint8 array or a list of them,
    each (H,W,3) RGB or (H,W) grayscale, all the same shape, with ≤256
    distinct colors ACROSS the animation (one global color table — the
    classic GIF constraint; quantize upstream if needed). Real
    variable-width LZW. ``delay_cs`` is the per-frame delay in 1/100 s."""
    import numpy as np

    if not isinstance(frames, (list, tuple)):
        frames = [frames]
    rgb = []
    for f in frames:
        a = np.asarray(f)
        if a.dtype != np.uint8:
            raise ValueError("encode_gif_bytes wants uint8")
        rgb.append(np.stack([a] * 3, axis=-1) if a.ndim == 2 else a[..., :3])
    h, w = rgb[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in rgb):
        raise ValueError("all frames must share one shape")
    flat = np.concatenate([f.reshape(-1, 3) for f in rgb])
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} distinct colors (max 256); quantize first")
    ct_bits = max(1, (len(palette) - 1).bit_length())
    ct_size = 1 << ct_bits
    min_code = max(2, ct_bits)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (ct_bits - 1), 0, 0])  # GCT flag + size
    for i in range(ct_size):
        out += bytes(palette[i]) if i < len(palette) else b"\x00\x00\x00"
    per_frame = h * w
    for fi in range(len(rgb)):
        if len(rgb) > 1:
            # graphics control: delay, no disposal, no transparency
            out += bytes([0x21, 0xF9, 4, 0]) + delay_cs.to_bytes(2, "little") + bytes([0, 0])
        out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([0])
        out.append(min_code)
        lzw = _lzw_encode(inverse[fi * per_frame : (fi + 1) * per_frame], min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"  # trailer
    return bytes(out)


def decode_gif_bytes(content: bytes):
    """GIF87a/89a decoder → list of (H,W,3) uint8 frames. Honors the
    graphics-control extension (ADVICE r4): transparent pixels are
    masked out of the composite (the previous canvas shows through),
    and disposal methods are applied between frames — 0/1 leave the
    canvas, 2 restores the frame's region to the background color,
    3 restores it to the pre-frame canvas. Output is RGB (no alpha):
    a transparent BACKGROUND renders as the background color (black
    when the background index is itself transparent — the
    letterbox convention). Interlaced images are de-interlaced (the
    four-pass row scatter, GIF89a appendix E)."""
    import numpy as np

    d = content
    if d[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w = int.from_bytes(d[6:8], "little")
    h = int.from_bytes(d[8:10], "little")
    flags = d[10]
    bg_index = d[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(d[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    frames = []
    canvas = np.zeros((h, w, 3), np.uint8)
    gce = None  # (disposal, transparent_index) for the NEXT image
    while pos < len(d):
        b0 = d[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = d[pos + 1]
            pos += 2
            if label == 0xF9 and d[pos] >= 4:
                # graphics control: packed(disposal bits 2-4,
                # transparency bit 0), delay, transparent index
                packed = d[pos + 1]
                tindex = d[pos + 4]
                gce = (
                    (packed >> 2) & 0x7,
                    tindex if packed & 1 else None,
                )
            while d[pos]:
                pos += 1 + d[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        x0 = int.from_bytes(d[pos + 1 : pos + 3], "little")
        y0 = int.from_bytes(d[pos + 3 : pos + 5], "little")
        fw = int.from_bytes(d[pos + 5 : pos + 7], "little")
        fh = int.from_bytes(d[pos + 7 : pos + 9], "little")
        iflags = d[pos + 9]
        pos += 10
        interlaced = bool(iflags & 0x40)
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            ct = np.frombuffer(d[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table")
        min_code = d[pos]
        pos += 1
        lzw = bytearray()
        while d[pos]:
            ln = d[pos]
            lzw += d[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(lzw), min_code)
        if len(idx) < fw * fh:
            raise ValueError("truncated GIF frame")
        disposal, tindex = gce if gce else (0, None)
        gce = None  # a GCE governs exactly one image
        idx_a = np.array(idx[: fw * fh], np.int64).reshape(fh, fw)
        if interlaced:
            # GIF89a appendix E: rows arrive in four passes (every 8th
            # from 0, every 8th from 4, every 4th from 2, every 2nd
            # from 1) — scatter the stream rows back to their positions
            order = np.concatenate(
                [
                    np.arange(0, fh, 8),
                    np.arange(4, fh, 8),
                    np.arange(2, fh, 4),
                    np.arange(1, fh, 2),
                ]
            )
            deinterlaced = np.empty_like(idx_a)
            deinterlaced[order] = idx_a
            idx_a = deinterlaced
        region = canvas[y0 : y0 + fh, x0 : x0 + fw]
        prev_region = region.copy() if disposal == 3 else None
        block = ct[idx_a]
        if tindex is None:
            region[:] = block
        else:
            opaque = idx_a != tindex
            region[opaque] = block[opaque]
        frames.append(canvas.copy())
        # dispose AFTER recording the frame — it shapes the next one
        if disposal == 2:
            bg = (
                gct[bg_index]
                if gct is not None and bg_index < len(gct) and bg_index != tindex
                else np.zeros(3, np.uint8)
            )
            canvas[y0 : y0 + fh, x0 : x0 + fw] = bg
        elif disposal == 3:
            canvas[y0 : y0 + fh, x0 : x0 + fw] = prev_region
    return frames


def gif_frame_kernel(content: bytes, n_frames: int) -> list:
    """REAL frame-sampling kernel for :func:`sample_frames` over
    animated GIFs: decode all frames, pick ``n_frames`` evenly spaced,
    return each as PNG bytes — so downstream `decode_features` /
    `resize_images` use the PNG kernels directly."""
    import numpy as np

    frames = decode_gif_bytes(bytes(content))
    if not frames:
        return []
    picks = np.linspace(0, len(frames) - 1, num=min(n_frames, len(frames)))
    return [encode_png_bytes(frames[int(round(p))]) for p in picks]


def gif_resize_kernel(content: bytes, w: int, h: int) -> bytes:
    """REAL resize kernel for GIF media (``resize_images(...,
    kernel=gif_resize_kernel)``): decode all frames, nearest-neighbour
    resize each, re-encode as one animated GIF (single-frame GIFs stay
    single-frame)."""
    frames = [resize_nearest(f, w, h) for f in decode_gif_bytes(bytes(content))]
    return encode_gif_bytes(frames if len(frames) > 1 else frames[0])


def quantize_colors(arr, n_colors: int = 256):
    """Median-cut color quantization (pure numpy, deterministic):
    uint8 (H,W,3) → uint8 (H,W,3) with ≤ ``n_colors`` distinct colors —
    the preprocessing that makes :func:`encode_gif_bytes` applicable to
    arbitrary RGB images. Boxes split on their widest channel at the
    median; each box maps to its mean color (rounded)."""
    import numpy as np

    a = np.asarray(arr)
    if a.dtype != np.uint8 or a.ndim != 3:
        raise ValueError("quantize_colors wants uint8 (H,W,3)")
    flat = a.reshape(-1, 3)
    uniq, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(uniq) <= n_colors:
        return a.copy()
    boxes = [np.arange(len(uniq))]
    while len(boxes) < n_colors:
        # split the box with the largest channel range (weighted splits
        # would need pixel counts; range-based is the classic variant)
        widths = [
            (uniq[b].max(axis=0) - uniq[b].min(axis=0)).max() if len(b) > 1 else -1
            for b in boxes
        ]
        bi = int(np.argmax(widths))
        if widths[bi] <= 0:
            break  # every box is a single color
        box = boxes[bi]
        ch = int(
            np.argmax(uniq[box].max(axis=0).astype(int) - uniq[box].min(axis=0))
        )
        order = box[np.argsort(uniq[box, ch], kind="stable")]
        mid = len(order) // 2
        boxes[bi] = order[:mid]
        boxes.append(order[mid:])
    lut = np.zeros((len(uniq), 3), np.uint8)
    for b in boxes:
        lut[b] = np.round(uniq[b].astype(np.float64).mean(axis=0)).astype(np.uint8)
    return lut[inverse].reshape(a.shape)


# ---------------------------------------------------------------------------
# Video: AVI/MJPEG container (RIFF) — pure stdlib + the JPEG codec above.
# Every frame of an MJPEG AVI is a standalone baseline JPEG, so the
# existing encoder/decoder do all the pixel work; the container is a
# plain RIFF chunk walk. Closes the r5 "video container" refusal with a
# REAL sibling: non-MJPEG fourccs (XVID/H264/...) still raise the named
# NotImplementedError — those need ffmpeg-class codecs.
# ---------------------------------------------------------------------------


def encode_avi_mjpeg(frames, fps: int = 25, subsample: bool = False) -> bytes:
    """uint8 RGB (H,W,3) frames (all same shape) → MJPEG AVI bytes:
    RIFF('AVI ') [ LIST(hdrl: avih + LIST(strl: strh vids/MJPG +
    strf BITMAPINFOHEADER)) LIST(movi: one 00dc JPEG chunk per frame)
    idx1 ]. Frames are JPEG-encoded by :func:`encode_jpeg_bytes`."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_avi_mjpeg wants at least one frame")
    first = np.asarray(frames[0])
    if first.ndim != 3 or first.shape[2] != 3 or first.dtype != np.uint8:
        raise ValueError("encode_avi_mjpeg wants uint8 (H, W, 3) frames")
    h, w = first.shape[:2]
    jpegs = []
    for f in frames:
        f = np.asarray(f)
        if f.shape != first.shape:
            raise ValueError("all frames must share one shape")
        jpegs.append(encode_jpeg_bytes(f, subsample=subsample))

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    us_per_frame = 1_000_000 // int(fps)
    max_bytes = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<14I", us_per_frame, max_bytes * int(fps), 0, 0x10,  # HASINDEX
        len(jpegs), 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, int(fps), 0,
                      len(jpegs), max_bytes, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_payload)
    # idx1: one entry per frame — offset counts from the start of the
    # movi LIST payload ('movi' fourcc = offset 0 convention + 4)
    idx, off = b"", 4
    for j in jpegs:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(j))  # AVIIF_KEYFRAME
        off += 8 + len(j) + (len(j) % 2)
    idx1 = chunk(b"idx1", idx)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(content: bytes):
    """MJPEG AVI bytes → list of uint8 frame arrays (each decoded by
    :func:`decode_jpeg_bytes`). Walks the RIFF tree; frames are the
    ``##dc``/``##db`` chunks inside LIST(movi) (REC sub-lists
    included). A non-MJPG video stream fourcc raises the named
    refusal — compressed video codecs need ffmpeg-class dependencies,
    the same boundary as mp3/ogg audio."""
    import struct

    d = bytes(content)
    if d[:4] != b"RIFF" or d[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")

    frames = []
    fourccs = []

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            cid = d[pos : pos + 4]
            (size,) = struct.unpack("<I", d[pos + 4 : pos + 8])
            body0, body1 = pos + 8, pos + 8 + size
            if cid == b"LIST":
                walk(body0 + 4, body1)  # skip the list-kind fourcc
            elif cid == b"strh" and size >= 8:
                if d[body0 : body0 + 4] == b"vids":
                    fourccs.append(d[body0 + 4 : body0 + 8])
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
                frames.append(d[body0:body1])
            pos = body1 + (size % 2)

    walk(12, len(d))
    bad = [f for f in fourccs if f not in (b"MJPG", b"mjpg", b"\x00\x00\x00\x00")]
    if bad:
        raise NotImplementedError(
            f"AVI video codec {bad[0]!r} is not MJPG — compressed video"
            " needs an ffmpeg-backed kernel (same boundary as mp3/ogg)"
        )
    return [decode_jpeg_bytes(f) for f in frames if f[:2] == b"\xff\xd8"]


def avi_frame_kernel(content: bytes, n_frames: int) -> list:
    """REAL frame-sampling kernel for :func:`sample_frames` over MJPEG
    AVIs (the video twin of :func:`gif_frame_kernel`): decode, pick
    ``n_frames`` evenly spaced, return each as PNG bytes for the
    downstream PNG kernels."""
    import numpy as np

    frames = decode_avi_mjpeg(bytes(content))
    if not frames:
        return []
    picks = np.linspace(0, len(frames) - 1, num=min(n_frames, len(frames)))
    return [encode_png_bytes(frames[int(round(p))]) for p in picks]

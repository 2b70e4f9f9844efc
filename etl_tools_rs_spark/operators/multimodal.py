"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

No reference equivalent (extension surface per BASELINE.json). The Spark
plumbing here — schemas, binaryFile ingestion, Arrow-batched decode
stages, partition sizing — is real and tested, and every decoder is
stdlib (+ numpy) only, so what runs is the same on every machine.

One reader per modality:

- IMAGE bytes are read in exactly one place, :func:`_gray_rows`. It
  picks the parser by signature — uncompressed 24/32-bit BMP, PNG
  (gray/palette/truecolor/alpha at depths 1-16, all five scanline
  filters, Adam7 interlacing) or baseline JPEG (``operators/jpeg.py``,
  luma plane) — and raises ``ValueError`` on anything else (GIF, WebP,
  progressive JPEG, compressed BMP, truncated payloads). Every image
  operator (band profiles, :func:`image_resize`, aHash, pHash) reads
  through it and resamples with the one grid :func:`_block_mean_resize`.
- AUDIO is WAV through the stdlib ``wave`` parser.
- VIDEO is uncompressed AVI; its frames share the BMP's BGR row walk.

Every per-payload operator runs through one Arrow stage,
:func:`_map_payloads`: a payload that raises becomes an error record
(``decode_ok = "error: …"``), never a job failure. The deterministic
sha256 fake (``_fake_decode``) runs only where no real decoder is asked
for: :func:`extract_features` without a modality column, or with a
modality other than audio/image.

Scale notes: binary payloads dominate partition size — size partitions by
bytes not rows (maxPartitionBytes), keep metadata in separate narrow
columns so metadata-only queries never touch the blobs (parquet column
pruning does this for free), and never collect() blobs to the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# engine-standard multimodal schema: opaque payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("path", StringType(), True),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("content_length", LongType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("decode_ok", StringType(), True),
    ]
)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Ingest raw media files as (path, modificationTime, length, content)
    via the built-in binaryFile source — distributed, no driver listing."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def _fake_decode(content: bytes, dim: int) -> list[float]:
    """DETERMINISTIC FAKE decoder: derives a feature vector from the sha256
    of the payload. Runs only where no real decoder is asked for (see the
    module docstring); marked loudly on purpose."""
    h = hashlib.sha256(content or b"").digest()
    # repeat the 32-byte digest to fill dim floats in [0, 1)
    vals = [(h[i % 32]) / 256.0 for i in range(dim)]
    return vals


def decode_wav_real(content: bytes, dim: int) -> list[float]:
    """REAL audio decode for WAV payloads using only the stdlib ``wave``
    module (always available): parse PCM frames and return a ``dim``-bucket
    RMS envelope normalized to [0, 1]. Raises on non-WAV payloads (callers
    treat that as a decode error-as-record)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        n = w.getnframes()
        sw = w.getsampwidth()
        ch = w.getnchannels()
        raw = w.readframes(n)
    if sw == 2:
        samples = struct.unpack(f"<{len(raw) // 2}h", raw)
        full = 32768.0
    elif sw == 1:
        samples = [b - 128 for b in raw]
        full = 128.0
    else:  # 24/32-bit: decode via 4-byte little-endian chunks
        step = sw
        samples = [
            int.from_bytes(raw[i : i + step], "little", signed=True)
            for i in range(0, len(raw) - step + 1, step)
        ]
        full = float(1 << (8 * sw - 1))
    # mixdown: average interleaved channels
    if ch > 1:
        samples = [
            sum(samples[i : i + ch]) / ch for i in range(0, len(samples) - ch + 1, ch)
        ]
    if not samples:
        return [0.0] * dim
    bucket = max(1, len(samples) // dim)
    vals = []
    for b in range(dim):
        chunk = samples[b * bucket : (b + 1) * bucket]
        if not chunk:
            vals.append(0.0)
            continue
        rms = (sum(s * s for s in chunk) / len(chunk)) ** 0.5
        vals.append(min(1.0, rms / full))
    return vals


def wav_metadata(content: bytes) -> dict[str, int]:
    """Parse WAV header → {sample_rate, channels, duration_ms, sample_width}
    with the stdlib only. Real, not a stub."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        return {
            "sample_rate": rate,
            "channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "duration_ms": int(n * 1000 / rate) if rate else 0,
        }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# Adam7 interlace passes: (x_start, y_start, x_step, y_step), RFC 2083 §8.2
_ADAM7_PASSES = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_gray_rows(content: bytes) -> list[list[float]]:
    """Parse a non-interlaced PNG with ONLY the stdlib (``struct`` +
    ``zlib``): walk the chunk stream, inflate the concatenated IDAT
    payload, undo the per-scanline filter (None/Sub/Up/Average/Paeth,
    RFC 2083 §6), and return per-pixel gray values in [0, 1] (channel
    mean, alpha ignored). Supported (r4 widened): grayscale at depths
    1/2/4/8/16, palette (PLTE) at depths 1/2/4/8, truecolor / gray+alpha
    / RGBA at 8/16, and Adam7 interlacing for all of those (each pass
    unfiltered as its own sub-image, RFC 2083 §8.2). Raises ValueError
    on invalid depth/type combinations, missing PLTE, out-of-range
    palette indices, or malformed streams — error-as-record upstream.
    CRCs are not verified (decode cost,
    parity with common fast decoders); truncated or length-inconsistent
    pixel data still fails loudly."""
    import struct
    import zlib

    if len(content) < 8 or content[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    plte: list[tuple[int, int, int]] | None = None
    while pos + 8 <= len(content):
        clen, ctype = struct.unpack_from(">I4s", content, pos)
        pos += 8
        if pos + clen + 4 > len(content):
            raise ValueError("truncated PNG chunk")
        data = content[pos : pos + clen]
        pos += clen + 4  # payload + CRC
        if ctype == b"IHDR":
            if clen != 13:
                raise ValueError("malformed PNG IHDR")
            (width, height, bit_depth, color_type, comp, filt, interlace) = (
                struct.unpack(">IIBBBBB", data)
            )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported PNG compression/filter method")
        elif ctype == b"PLTE":
            if clen % 3 != 0 or clen == 0:
                raise ValueError("malformed PNG PLTE")
            plte = [
                (data[i], data[i + 1], data[i + 2]) for i in range(0, clen, 3)
            ]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    valid_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}
    if color_type not in valid_depths:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if bit_depth not in valid_depths[color_type]:
        raise ValueError(
            f"invalid PNG bit depth {bit_depth} for color type {color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if width <= 0 or height <= 0:
        raise ValueError("degenerate PNG dimensions")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    # filter arithmetic works on BYTES: the "previous pixel" offset is
    # one byte for sub-byte depths (RFC 2083 §6.2)
    step = max(1, (channels * bit_depth) // 8)
    n_color = 1 if color_type in (0, 4) else 3
    maxv = (1 << bit_depth) - 1

    def line_values(line: bytearray, n_px: int) -> list[float]:
        """Gray values for one unfiltered scanline of n_px pixels."""
        if bit_depth < 8:  # gray or palette indices, MSB-first packed
            out = []
            for x in range(n_px):
                bitpos = x * bit_depth
                v = (line[bitpos >> 3] >> (8 - bit_depth - (bitpos & 7))) & maxv
                if color_type == 3:
                    if v >= len(plte):
                        raise ValueError("PNG palette index out of range")
                    r, g, b = plte[v]
                    out.append((r + g + b) / (3 * 255.0))
                else:
                    out.append(v / maxv)
            return out
        if bit_depth == 16:
            px = channels * 2
            return [
                sum(
                    (line[x * px + ch * 2] << 8) | line[x * px + ch * 2 + 1]
                    for ch in range(n_color)
                )
                / (65535.0 * n_color)
                for x in range(n_px)
            ]
        if color_type == 3:  # 8-bit palette
            out = []
            for x in range(n_px):
                v = line[x]
                if v >= len(plte):
                    raise ValueError("PNG palette index out of range")
                r, g, b = plte[v]
                out.append((r + g + b) / (3 * 255.0))
            return out
        return [
            sum(line[x * channels : x * channels + n_color]) / (255.0 * n_color)
            for x in range(n_px)
        ]

    def decode_sub(p: int, w: int, h: int) -> tuple[list[list[float]], int]:
        """Unfilter + extract one (sub-)image of w×h starting at raw[p];
        each Adam7 pass filters as an independent image (RFC 2083 §8.2)."""
        stride = (w * channels * bit_depth + 7) // 8
        prev = bytearray(stride)
        out: list[list[float]] = []
        for _ in range(h):
            if p + 1 + stride > len(raw):
                raise ValueError("PNG pixel data length mismatch")
            f = raw[p]
            line = bytearray(raw[p + 1 : p + 1 + stride])
            p += 1 + stride
            if f == 1:  # Sub
                for i in range(step, stride):
                    line[i] = (line[i] + line[i - step]) & 0xFF
            elif f == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif f == 3:  # Average
                for i in range(stride):
                    a = line[i - step] if i >= step else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif f == 4:  # Paeth
                for i in range(stride):
                    a = line[i - step] if i >= step else 0
                    b = prev[i]
                    c = prev[i - step] if i >= step else 0
                    est = a + b - c
                    pa, pb, pc = abs(est - a), abs(est - b), abs(est - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[i] = (line[i] + pred) & 0xFF
            elif f != 0:
                raise ValueError(f"unknown PNG filter type {f}")
            prev = line
            out.append(line_values(line, w))
        return out, p

    if interlace == 0:
        rows, end = decode_sub(0, width, height)
    else:  # Adam7: 7 passes, each an independently-filtered sub-image
        grid = [[0.0] * width for _ in range(height)]
        end = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, end = decode_sub(end, pw, ph)
            for i in range(ph):
                row = grid[y0 + i * dy]
                for j in range(pw):
                    row[x0 + j * dx] = sub[i][j]
        rows = grid
    if end != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    return rows


def _bgr_rows(
    data: bytes, offset: int, width: int, height: int, step: int, bottom_up: bool
) -> list[list[float]]:
    """Gray rows in [0, 1] (mean of the B, G, R bytes) from packed
    ``step``-byte pixels in 4-byte-padded rows starting at ``offset`` —
    the pixel layout of a BMP body and of an uncompressed AVI frame."""
    stride = ((width * step + 3) // 4) * 4
    if offset + (height - 1) * stride + width * step > len(data):
        raise ValueError("truncated BMP pixel data")
    rows = []
    for r in range(height):
        base = offset + (height - 1 - r if bottom_up else r) * stride
        rows.append(
            [
                (data[base + c * step]
                 + data[base + c * step + 1]
                 + data[base + c * step + 2]) / (3.0 * 255.0)
                for c in range(width)
            ]
        )
    return rows


def _bmp_gray_rows(content: bytes) -> list[list[float]]:
    """Uncompressed 24/32-bit BMP: parse the BITMAPFILEHEADER /
    BITMAPINFOHEADER with ``struct`` and walk the pixel rows (bottom-up
    when the stored height is positive). Raises on compressed or other
    bit depths and on truncated payloads."""
    import struct

    if len(content) < 54:
        raise ValueError("truncated BMP header")
    px_off = struct.unpack_from("<I", content, 10)[0]
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    return _bgr_rows(content, px_off, width, abs(height), bpp // 8, height > 0)


def _gray_rows(content: bytes) -> list[list[float]]:
    """The one image reader: full-resolution gray rows in [0, 1] from a
    BMP, PNG or baseline JPEG payload, the parser picked by signature.
    Any other payload raises ``ValueError`` (error-as-record upstream)."""
    if content[:2] == b"BM":
        return _bmp_gray_rows(content)
    if content[:8] == _PNG_SIG:
        return _png_gray_rows(content)
    if content[:2] == b"\xff\xd8":
        from etl_tools_rs_spark.operators.jpeg import _jpeg_decode_y

        return _jpeg_decode_y(content)[2].tolist()
    raise ValueError("not a BMP, PNG or baseline JPEG payload")


def _block_mean_resize(
    rows: list[list[float]], out_h: int, out_w: int
) -> list[list[float]]:
    """Rectangular block-mean (area-average) resample of a pixel-row
    matrix to ``out_h`` × ``out_w`` — the one grid behind
    :func:`image_resize`, aHash, pHash and video frames. Grid-driven:
    each output cell averages its own source block, and upsampling
    degrades to nearest-neighbor, never zero-filled cells (a uniform
    brightness shift must not turn into a high-frequency artifact)."""
    height, width = len(rows), len(rows[0])
    out = []
    for gr in range(out_h):
        r0 = gr * height // out_h
        r1 = max(r0 + 1, (gr + 1) * height // out_h)
        out_row = []
        for gc in range(out_w):
            c0 = gc * width // out_w
            c1 = max(c0 + 1, (gc + 1) * width // out_w)
            acc = 0.0
            for r in range(r0, r1):
                row = rows[r]
                for c in range(c0, c1):
                    acc += row[c]
            out_row.append(acc / ((r1 - r0) * (c1 - c0)))
        out.append(out_row)
    return out


def _band_profile(rows: list[list[float]], dim: int) -> list[float]:
    """``dim`` horizontal-band mean brightness of a gray-row matrix: row
    means, then the mean of each run of ``len(rows) // dim`` rows (bands
    past the last row are 0.0). Renditions of one image in different
    formats give comparable profiles."""
    row_means = [sum(r) / len(r) for r in rows]
    bucket = max(1, len(row_means) // dim)
    vals = []
    for b in range(dim):
        chunk = row_means[b * bucket : (b + 1) * bucket]
        vals.append(sum(chunk) / len(chunk) if chunk else 0.0)
    return vals


def decode_media(content: bytes, modality: str, dim: int) -> list[float]:
    """``dim`` features of one payload by modality: audio → the WAV RMS
    envelope (:func:`decode_wav_real`), image → the band profile of
    :func:`_gray_rows` (BMP, PNG, baseline JPEG; any other image payload
    raises). MIME-style prefixes (``"audio/wav"``, ``"image/png"``) and
    bare labels both dispatch. Other modalities get the deterministic
    fake."""
    if modality.startswith("audio"):
        return decode_wav_real(content, dim)
    if modality.startswith("image"):
        return _band_profile(_gray_rows(content), dim)
    return _fake_decode(content, dim)


def _map_payloads(
    src: DataFrame, fn: Callable[..., list[tuple]], schema: StructType | str
) -> DataFrame:
    """The one Arrow stage behind the per-payload media operators.
    ``src`` holds a key column, the binary payload, then any extra
    per-row arguments. For each row ``fn(payload, *extra)`` returns a
    list of zero or more value tuples, each emitted as ``(key, *values,
    "ok")``. A null payload is read as ``b""``. A payload whose ``fn``
    raises emits ONE ``(key, nulls…, "error: …")`` row — error-as-record,
    never a job failure. ``schema`` (a StructType or DDL string) names
    the output columns in that order."""
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    nulls = (None,) * (len(names) - 2)

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out: list[tuple] = []
            for key, content, *extra in pdf.itertuples(index=False, name=None):
                raw = bytes(content) if content is not None else b""
                try:
                    out += [(key, *vals, "ok") for vals in fn(raw, *extra)]
                except Exception as e:  # noqa: BLE001 — error-as-record
                    out.append((key, *nulls, f"error: {e}"))
            yield pd.DataFrame(out, columns=names)

    return src.mapInPandas(_batches, schema=schema)


def _with_media_id(df: DataFrame) -> DataFrame:
    """``df`` with a generated ``media_id`` column when it has none."""
    if "media_id" in df.columns:
        return df
    return df.withColumn("media_id", F.monotonically_increasing_id())


def extract_features(
    df: DataFrame,
    dim: int = 16,
    content_col: str = "content",
    modality_col: str | None = None,
) -> DataFrame:
    """Arrow-batched ``dim``-float feature extraction over media
    payloads: ``(media_id, feature, decode_ok)``. With ``modality_col``,
    each row dispatches through :func:`decode_media` — the real WAV,
    BMP, PNG and baseline-JPEG decoders, and an error record for an
    image payload in any other format. Without it, every row gets the
    deterministic sha256 fake. Decoding runs executor-side per Arrow
    batch (:func:`_map_payloads`); failures are error-as-record."""

    def features(raw: bytes, modality: str | None = None) -> list[tuple]:
        if modality is None:
            return [(_fake_decode(raw, dim),)]
        return [(decode_media(raw, modality, dim),)]

    cols = [content_col] + ([modality_col] if modality_col else [])
    src = _with_media_id(df).select("media_id", *cols)
    return _map_payloads(src, features, FEATURE_SCHEMA)


def wav_samples(content: bytes):
    """Decode a WAV payload to (sample_rate, mono float64 samples in
    [-1, 1]) — stdlib parse, any sample width, channels averaged.
    Raises on non-WAV payloads (callers treat that as a decode
    error-as-record). Shared by :func:`wav_features` and
    :func:`audio_fingerprint`."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        sw = w.getsampwidth()
        ch = w.getnchannels()
        raw = w.readframes(n)
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        step = sw
        full = float(1 << (8 * sw - 1))
        x = np.array(
            [
                int.from_bytes(raw[i : i + step], "little", signed=True)
                for i in range(0, len(raw) - step + 1, step)
            ],
            dtype=np.float64,
        ) / full
    if ch > 1:
        usable = (x.size // ch) * ch
        x = x[:usable].reshape(-1, ch).mean(axis=1)
    return rate, x


def wav_features(content: bytes) -> dict[str, float | int]:
    """REAL per-clip audio features from a WAV payload, stdlib parse +
    numpy DSP (both always available): sample rate, duration, RMS level,
    peak level, zero-crossing rate, and spectral centroid via rFFT —
    the standard cheap signals for corpus-level audio quality filtering
    (silence / clipping / bandwidth screens). Raises on non-WAV payloads
    (callers treat that as a decode error-as-record)."""
    import numpy as np

    rate, x = wav_samples(content)
    duration_ms = int(x.size * 1000 / rate) if rate else 0
    if x.size == 0:
        return {
            "sample_rate": rate, "duration_ms": 0, "rms": 0.0, "peak": 0.0,
            "zero_crossing_rate": 0.0, "spectral_centroid_hz": 0.0,
        }
    rms = float(np.sqrt(np.mean(x * x)))
    peak = float(np.max(np.abs(x)))
    zcr = (
        float(np.mean(np.signbit(x[:-1]) != np.signbit(x[1:])))
        if x.size > 1
        else 0.0
    )
    mag = np.abs(np.fft.rfft(x))
    denom = float(mag.sum())
    if denom > 0.0 and rate:
        freqs = np.fft.rfftfreq(x.size, 1.0 / rate)
        centroid = float((freqs * mag).sum() / denom)
    else:
        centroid = 0.0
    return {
        "sample_rate": rate,
        "duration_ms": duration_ms,
        "rms": rms,
        "peak": peak,
        "zero_crossing_rate": zcr,
        "spectral_centroid_hz": centroid,
    }


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("zero_crossing_rate", DoubleType(), True),
        StructField("spectral_centroid_hz", DoubleType(), True),
        StructField("decode_ok", StringType(), True),
    ]
)


def audio_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched REAL audio feature extraction (:func:`wav_features`
    per clip) — the audio twin of :func:`extract_features`: decoding and
    DSP run executor-side per Arrow batch, decode failures are
    error-as-record, never job failures. Row-local, zero shuffle; at
    100 TB the cost is one scan of the binary column."""
    feat_cols = AUDIO_FEATURE_SCHEMA.fieldNames()[1:-1]

    def features(raw: bytes) -> list[tuple]:
        f = wav_features(raw)
        return [tuple(f[c] for c in feat_cols)]

    src = _with_media_id(df).select("media_id", content_col)
    return _map_payloads(src, features, AUDIO_FEATURE_SCHEMA)


def resize_image_real(
    content: bytes, width: int, height: int
) -> list[list[float]]:
    """Image resize to a ``height`` × ``width`` grayscale matrix (values
    in [0, 1]): :func:`_gray_rows` decode, then :func:`_block_mean_resize`.
    Raises on payloads :func:`_gray_rows` does not read."""
    return _block_mean_resize(_gray_rows(content), height, width)


def image_resize(df: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched image resize (:func:`resize_image_real` per
    payload): binary ``content`` column in, ``(media_id, pixels, width,
    height, decode_ok)`` out, ``pixels`` a ``height`` × ``width``
    grayscale matrix of doubles. Decode failures are error-as-record.
    Row-local, zero shuffle. Reads BMP, PNG and baseline JPEG."""

    def resize(raw: bytes) -> list[tuple]:
        return [(resize_image_real(raw, width, height),)]

    src = _with_media_id(df).select("media_id", "content")
    out = _map_payloads(
        src,
        resize,
        "media_id long, pixels array<array<double>>, decode_ok string",
    )
    return out.select(
        "media_id",
        "pixels",
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        "decode_ok",
    )


def avi_frames(content: bytes) -> tuple[int, int, int, list[bytes]]:
    """REAL minimal AVI (RIFF) demux with the stdlib only: returns
    ``(width, height, us_per_frame, frames)`` where each frame payload is
    the raw uncompressed DIB data of a ``00db``/``00dc`` chunk (bottom-up
    BGR24 rows, 4-byte stride padding — the same layout as a BMP body).
    Only the uncompressed-video arm is supported; compressed codecs
    raise (error-as-record upstream), the honest boundary without codec
    libraries in the container."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    def walk(buf: bytes, start: int, end: int):
        """Yield (fourcc, data_start, data_size) for chunks in [start, end)."""
        pos = start
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            yield fourcc, pos + 8, size
            pos += 8 + size + (size & 1)  # chunks are word-aligned

    width = height = usec = None
    frames: list[bytes] = []

    def scan_list(start: int, end: int) -> None:
        nonlocal width, height, usec
        for fourcc, dstart, dsize in walk(content, start, end):
            dend = dstart + dsize
            if dend > len(content):
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                scan_list(dstart + 4, dend)  # skip the list-type fourcc
            elif fourcc == b"avih":
                if dsize < 40:
                    raise ValueError("truncated avih header")
                usec = struct.unpack_from("<I", content, dstart)[0]
                width = struct.unpack_from("<I", content, dstart + 32)[0]
                height = struct.unpack_from("<I", content, dstart + 36)[0]
            elif fourcc[2:4] in (b"db", b"dc"):
                frames.append(content[dstart:dend])

    scan_list(12, len(content))
    if width is None or not width or not height:
        raise ValueError("missing avih header")
    stride = ((width * 3 + 3) // 4) * 4
    for f in frames:
        if len(f) != stride * height:
            raise ValueError(
                "frame size mismatch — compressed AVI streams are not "
                "supported (uncompressed DIB only)"
            )
    return int(width), int(height), int(usec or 0), frames


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("ts_ms", LongType(), True),
        StructField("pixels", ArrayType(ArrayType(DoubleType())), True),
        StructField("decode_ok", StringType(), True),
    ]
)


def video_frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    grid: tuple[int, int] = (8, 8),
    content_col: str = "content",
) -> DataFrame:
    """REAL video frame sampling over uncompressed AVI payloads
    (:func:`avi_frames` demux): emit one row per sampled frame — the
    first frame at or after each ``every_ms`` boundary — with its
    event-time and a ``grid``-sized area-average grayscale matrix
    (:func:`_block_mean_resize`, the resize stage fused into the same
    pass so full-resolution frames never leave the executor). 1:N
    explode inside the :func:`_map_payloads` stage; an undecodable payload
    produces ONE error row (error-as-record), never a job failure."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms!r}")
    gh, gw = grid

    def sample(raw: bytes) -> list[tuple]:
        w, h, usec, frames = avi_frames(raw)
        if usec <= 0:
            # unknown frame rate: every frame would get ts_ms = 0 and only
            # frame 0 would sample — surface it instead of silently
            # collapsing near-dup overlap denominators
            raise ValueError("AVI frame rate unknown (dwMicroSecPerFrame=0)")
        out = []
        next_target = 0
        for idx, fdata in enumerate(frames):
            ts_ms = idx * usec // 1000
            if ts_ms < next_target:
                continue
            next_target = ts_ms + every_ms
            rows = _bgr_rows(fdata, 0, w, h, 3, True)
            out.append((idx, ts_ms, _block_mean_resize(rows, gh, gw)))
        return out

    src = _with_media_id(df).select("media_id", content_col)
    return _map_payloads(src, sample, FRAME_SCHEMA)


def ahash_bytes(content: bytes, hash_size: int = 8) -> str:
    """Perceptual average-hash of an image payload as a fixed-width hex
    string (``hash_size²`` bits): block-mean grayscale grid, threshold
    each cell at the global mean. Identical images hash identically;
    small edits flip few bits — Hamming distance ≈ visual difference.
    The grid is :func:`resize_image_real`, so BMP, PNG and baseline JPEG
    renditions of one image hash alike; other payloads raise."""
    grid = resize_image_real(content, hash_size, hash_size)
    cells = [v for row in grid for v in row]
    mean = sum(cells) / len(cells)
    bits = 0
    for v in cells:
        bits = (bits << 1) | (1 if v > mean else 0)
    return format(bits, f"0{hash_size * hash_size // 4}x")


def image_ahash(
    df: DataFrame,
    hash_size: int = 8,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Arrow-batched perceptual hashing: ``(id, ahash hex-string,
    decode_ok)``. Decode failures are error-as-record. The hash is
    64 bits at the default size — the image analogue of simhash, and the
    near-dup machinery composes the same way (``ahash_near_dup``)."""
    return _map_payloads(
        df.select(id_col, content_col),
        lambda raw: [(ahash_bytes(raw, hash_size),)],
        f"{id_col} long, ahash string, decode_ok string",
    )


def ahash_hamming(a, b):
    """Hamming distance between two equal-length hex-hash columns —
    nibble-wise ``bit_count(xor)``, pure codegen."""
    idx = F.sequence(F.lit(1), F.length(a))
    return F.aggregate(
        F.transform(
            idx,
            lambda i: F.bit_count(
                F.conv(F.substring(a, i, 1), 16, 10)
                .cast("long")
                .bitwiseXOR(F.conv(F.substring(b, i, 1), 16, 10).cast("long"))
            ),
        ),
        F.lit(0).cast("int"),
        lambda acc, x: acc + x.cast("int"),
    )


def ahash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    hex_len: int = 16,
) -> DataFrame:
    """Near-duplicate image pairs from perceptual hashes: pigeonhole
    banding (split the hex hash into ``max_hamming + 1`` substrings —
    any pair within the Hamming budget must agree on at least one whole
    band) generates candidates through equi-joins, then the exact
    nibble-wise Hamming verify filters. Same scale shape as
    simhash_near_dup: candidates ≪ n², hot bands are uniform-hash keys.
    ``hex_len`` is the hash width in hex chars (hash_size²/4, 16 for the
    default 8×8) — a parameter, not a data peek, so building the plan
    never runs a job. Output: ``(id_a, id_b, hamming int)`` with
    ``id_a < id_b``."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming!r}")
    if max_hamming >= hex_len:
        raise ValueError(
            f"max_hamming={max_hamming} needs more bands than {hex_len} "
            "hex chars can pigeonhole"
        )
    n_bands = max_hamming + 1
    h = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    ).where(F.col(hash_col).isNotNull())
    # each band contributes two references to the hash frame; without
    # truncation every reference re-runs the upstream DECODE stage
    # (2·bands full decodes of the corpus) — checkpoint the narrow
    # (id, hash) rows once instead
    h = h.localCheckpoint(eager=False)
    # band b covers hex positions [start_b, end_b) — roughly equal splits
    bounds = [round(i * hex_len / n_bands) for i in range(n_bands + 1)]
    cands = None
    for b in range(n_bands):
        s, e = bounds[b], bounds[b + 1]
        if e <= s:
            continue
        key = F.substring("_h", s + 1, e - s)
        side = h.select("_id", "_h", key.alias("_k"))
        a_side = side.select(
            F.col("_id").alias("id_a"), F.col("_h").alias("_ha"), "_k"
        )
        b_side = side.select(
            F.col("_id").alias("id_b"), F.col("_h").alias("_hb"), "_k"
        )
        pair = a_side.join(b_side, "_k").filter(F.col("id_a") < F.col("id_b"))
        cands = pair if cands is None else cands.unionByName(pair)
    out = (
        cands.select("id_a", "id_b", "_ha", "_hb")
        .distinct()
        .select(
            "id_a",
            "id_b",
            ahash_hamming(F.col("_ha"), F.col("_hb")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return out


def phash_bytes(
    content: bytes, hash_size: int = 8, highfreq_factor: int = 4
) -> str:
    """Perceptual DCT-hash of an image payload (the classic pHash
    construction, as in the public imagehash library): decode to a
    ``hash_size·highfreq_factor``-square grayscale grid, 2-D orthonormal
    DCT-II, keep the top-left ``hash_size²`` low-frequency coefficients,
    threshold each at their median (DC excluded — a uniform brightness
    shift lands entirely in DC, so the hash is EXACTLY invariant under
    global shifts, pinned in tests). A frequency-domain complement to
    the pixel-domain aHash: the two hash families fail differently, so
    a dedup pipeline bands both and intersects pairs for precision or
    unions them for recall. Same hex-string contract as ``ahash_bytes``
    — ``ahash_hamming`` / ``ahash_near_dup`` compose unchanged."""
    import numpy as np

    n = hash_size * highfreq_factor
    grid = np.asarray(resize_image_real(content, n, n), dtype=np.float64)
    # orthonormal DCT-II basis: D[k, i] = s_k * cos(pi*(2i+1)*k / (2n))
    i = np.arange(n)
    k = i.reshape(-1, 1)
    basis = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    basis[0] *= np.sqrt(1.0 / n)
    basis[1:] *= np.sqrt(2.0 / n)
    dct = basis @ grid @ basis.T
    low = dct[:hash_size, :hash_size].ravel()
    # drop the DC coefficient from both the median and the bits: a
    # uniform brightness shift lands ENTIRELY in DC, and because the AC
    # coefficients cluster near zero, letting DC drag the median through
    # that dense cluster flips many bits for a visually-identical image.
    # Without DC the hash is exactly invariant under global shifts
    # (hash_size²−1 AC bits; the leading DC bit is pinned to 0 so the
    # hex width stays hash_size²/4).
    # quantize to 8 dp before thresholding: on smooth images most ACs
    # are NUMERICAL zeros (~1e-16) and the median lives in that cluster,
    # so unquantized > comparisons flip on float noise
    ac = np.round(low[1:], 8)
    med = np.median(ac)
    # >= (ties count as 1): sparse spectra (flat regions, pure ramps)
    # put MOST coefficients exactly at the median after quantization —
    # with a strict >, two different ramps both hash to all-zeros; with
    # >=, the significant coefficients' POSITIONS carry the signal
    bits = 0
    for v in ac:
        bits = (bits << 1) | (1 if v >= med else 0)
    return format(bits, f"0{hash_size * hash_size // 4}x")


def image_phash(
    df: DataFrame,
    hash_size: int = 8,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Arrow-batched DCT perceptual hashing: ``(id, phash hex-string,
    decode_ok)`` — drop-in sibling of ``image_ahash`` (same batch shape,
    same error-as-record contract); pass ``hash_col='phash'`` to
    ``ahash_near_dup`` for banded Hamming pairs."""
    return _map_payloads(
        df.select(id_col, content_col),
        lambda raw: [(phash_bytes(raw, hash_size),)],
        f"{id_col} long, phash string, decode_ok string",
    )


def frame_ahash(
    frames: DataFrame,
    grid: tuple[int, int] = (8, 8),
    pixels_col: str = "pixels",
    out_col: str = "fhash",
) -> DataFrame:
    """Per-frame perceptual hash computed IN-PLAN from the sampled
    grayscale grid (:func:`video_frame_sample`'s ``pixels`` column) —
    the aHash rule (bit = cell above the frame mean) expressed as pure
    column functions, so hashing the whole corpus's frames adds zero
    Python and zero extra decode passes. Output: input columns plus
    ``out_col`` (lowercase hex, ``grid_h*grid_w/4`` chars).

    Bit packing folds the 0/1 string through ``conv(_, 2, 16)`` in
    32-bit chunks (conv is 64-bit-bounded), so any ``grid`` whose cell
    count is a multiple of 4 works."""
    gh, gw = grid
    n = gh * gw
    if n % 4:
        raise ValueError(f"grid cell count must be a multiple of 4, got {n}")
    flat = F.flatten(pixels_col)
    mean = F.aggregate(flat, F.lit(0.0), lambda a, x: a + x) / F.lit(float(n))
    bits = F.array_join(
        F.transform(
            flat, lambda x: F.when(x > mean, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )
    chunks = []
    for s in range(0, n, 32):
        width = min(32, n - s)
        chunks.append(
            F.lpad(
                F.lower(F.conv(F.substring(bits, s + 1, width), 2, 16)),
                width // 4,
                "0",
            )
        )
    return frames.withColumn(out_col, F.concat(*chunks))


def video_near_dup(
    df: DataFrame,
    every_ms: int = 1000,
    grid: tuple[int, int] = (8, 8),
    max_hamming: int = 6,
    min_overlap: float = 0.5,
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate VIDEO pairs: demux + sample frames on a fixed
    cadence (:func:`video_frame_sample`), hash each sampled frame
    in-plan (:func:`frame_ahash`), then match videos whose cadence-
    aligned frames agree — two videos are near-dups when the fraction
    of frame slots (same ``frame_idx``) within ``max_hamming`` bits is
    at least ``min_overlap`` of the shorter video's sampled frames.

    Candidate generation is pigeonhole banding *compounded with the
    frame index*: the equi-join key is (frame_idx, hash band), so a
    band collision only meets frames from the same slot — candidates
    stay answer-shaped even when many videos share common frames
    (intros, black frames). Verify is the exact nibble Hamming; the
    per-pair rollup is one count aggregate joined to per-video frame
    counts. No all-pairs stage anywhere; full-resolution frames never
    leave the decode executor (hashing consumes the sampled grid).

    Output: ``(video_a, video_b, matched_frames, overlap)`` with
    ``video_a < video_b``, ``overlap`` = matched / min(frames_a,
    frames_b) rounded to 6 places."""
    gh, gw = grid
    frames = video_frame_sample(df, every_ms, grid, content_col).where(
        F.col("decode_ok") == "ok"
    )
    h = frame_ahash(frames, grid).select("media_id", "frame_idx", "fhash")
    return aligned_hash_near_dup(
        h,
        hex_len=gh * gw // 4,
        max_hamming=max_hamming,
        min_overlap=min_overlap,
        out_cols=("video_a", "video_b"),
    )


def aligned_hash_near_dup(
    hashes: DataFrame,
    hex_len: int,
    max_hamming: int,
    min_overlap: float,
    id_col: str = "media_id",
    idx_col: str = "frame_idx",
    hash_col: str = "fhash",
    out_cols: tuple[str, str] = ("media_a", "media_b"),
) -> DataFrame:
    """Shared frame-aligned near-dup matcher over per-frame hex hashes
    — the candidate/verify/rollup engine behind :func:`video_near_dup`
    and :func:`audio_near_dup`. Pigeonhole bands compounded with the
    frame index (the equi-join key is ``(idx, band)``) generate
    candidates; exact nibble Hamming verifies; one count aggregate
    joined to per-media frame counts computes the overlap ratio vs the
    shorter side. Output: ``(a, b, matched_frames, overlap)`` with
    ``a < b`` and overlap rounded to 6 places."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming!r}")
    n_bands = max_hamming + 1
    if n_bands > hex_len:
        raise ValueError(
            f"max_hamming={max_hamming} needs more bands than {hex_len} "
            "hex chars can pigeonhole"
        )
    a_name, b_name = out_cols
    h = hashes.select(
        F.col(id_col).alias("_id"),
        F.col(idx_col).alias("_idx"),
        F.col(hash_col).alias("_h"),
    )
    # every band re-references the hash frame; checkpoint the narrow rows
    # so the upstream decode/DSP stage runs once, not 2*bands times
    h = h.localCheckpoint(eager=False)
    n_frames = h.groupBy("_id").agg(F.count(F.lit(1)).alias("_nf"))
    bounds = [round(i * hex_len / n_bands) for i in range(n_bands + 1)]
    cands = None
    for b in range(n_bands):
        s, e = bounds[b], bounds[b + 1]
        if e <= s:
            continue
        key = F.substring("_h", s + 1, e - s)
        a_side = h.select(
            F.col("_id").alias(a_name),
            "_idx",
            F.col("_h").alias("_ha"),
            key.alias("_k"),
        )
        b_side = h.select(
            F.col("_id").alias(b_name),
            "_idx",
            F.col("_h").alias("_hb"),
            key.alias("_k"),
        )
        pair = a_side.join(b_side, ["_idx", "_k"]).where(
            F.col(a_name) < F.col(b_name)
        )
        cands = pair if cands is None else cands.unionByName(pair)
    matched = (
        cands.select(a_name, b_name, "_idx", "_ha", "_hb")
        .distinct()
        .where(ahash_hamming(F.col("_ha"), F.col("_hb")) <= max_hamming)
    )
    m = matched.groupBy(a_name, b_name).agg(
        F.count(F.lit(1)).alias("matched_frames")
    )
    return (
        m.join(n_frames.withColumnRenamed("_id", a_name), a_name)
        .withColumnRenamed("_nf", "_nfa")
        .join(n_frames.withColumnRenamed("_id", b_name), b_name)
        .withColumnRenamed("_nf", "_nfb")
        .withColumn(
            "overlap",
            F.round(
                F.col("matched_frames") / F.least("_nfa", "_nfb"), 6
            ),
        )
        .where(F.col("overlap") >= min_overlap)
        .select(a_name, b_name, "matched_frames", "overlap")
    )


def audio_fingerprint_frames(
    content: bytes, frame_ms: int = 64, n_bands: int = 32
) -> list[str]:
    """Per-frame acoustic fingerprint of one WAV payload — the
    Haitsma-Kalker robust-hash rule (ISMIR'02; chromaprint's ancestor):
    split into fixed ``frame_ms`` frames, measure energy in ``n_bands``
    log-spaced frequency bands (rFFT), and emit one bit per band = sign
    of the band-energy DELTA vs the previous frame. Sign-of-delta is
    invariant to constant gain and to any per-clip monotone level shift
    — re-encoded or re-mastered copies keep their bits. Returns one hex
    word (``n_bands/4`` chars) per frame, first frame dropped (no
    predecessor). Raises on non-WAV payloads."""
    import numpy as np

    if n_bands % 4:
        raise ValueError(f"n_bands must be a multiple of 4, got {n_bands}")
    rate, x = wav_samples(content)
    if not rate or x.size == 0:
        return []
    frame_len = max(1, rate * frame_ms // 1000)
    n_frames = x.size // frame_len
    if n_frames < 2:
        return []
    fmin, fmax = 300.0, min(4000.0, rate / 2.0)
    edges = fmin * (fmax / fmin) ** (np.arange(n_bands + 1) / n_bands)
    freqs = np.fft.rfftfreq(frame_len, 1.0 / rate)
    band_of = np.searchsorted(edges, freqs, side="right") - 1
    in_range = (band_of >= 0) & (band_of < n_bands)
    prev = None
    out: list[str] = []
    for t in range(n_frames):
        seg = x[t * frame_len : (t + 1) * frame_len]
        mag2 = np.abs(np.fft.rfft(seg)) ** 2
        e = np.zeros(n_bands)
        np.add.at(e, band_of[in_range], mag2[in_range])
        if prev is not None:
            bits = (e - prev) > 0.0
            word = 0
            for b in bits:
                word = (word << 1) | int(b)
            out.append(format(word, f"0{n_bands // 4}x"))
        prev = e
    return out


def audio_fingerprint(
    df: DataFrame,
    frame_ms: int = 64,
    n_bands: int = 32,
    content_col: str = "content",
) -> DataFrame:
    """Arrow-batched acoustic fingerprinting: one row per (clip, frame)
    with the frame's :func:`audio_fingerprint_frames` hex word.
    Error-as-record (undecodable clips yield one null-hash row), never
    job failures. Row-local 1:N explode inside ``mapInPandas`` — at
    100 TB the cost is one scan of the binary column; downstream
    matching only ever sees the narrow (id, idx, hash) rows."""

    def frames(raw: bytes) -> list[tuple]:
        return list(enumerate(audio_fingerprint_frames(raw, frame_ms, n_bands)))

    return _map_payloads(
        _with_media_id(df).select("media_id", content_col),
        frames,
        "media_id long, frame_idx int, fhash string, decode_ok string",
    )


def audio_near_dup(
    df: DataFrame,
    frame_ms: int = 64,
    n_bands: int = 32,
    max_hamming: int = 4,
    min_overlap: float = 0.6,
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate AUDIO pairs: fingerprint every clip
    (:func:`audio_fingerprint`), then frame-aligned banded matching
    (:func:`aligned_hash_near_dup`) — two clips are near-dups when at
    least ``min_overlap`` of the shorter clip's frames agree within
    ``max_hamming`` of the ``n_bands`` delta-sign bits. Gain changes
    and light additive noise survive by construction (sign-of-delta
    bits); unrelated clips diverge in ~half their bits. Output:
    ``(clip_a, clip_b, matched_frames, overlap)``."""
    fp = audio_fingerprint(df, frame_ms, n_bands, content_col).where(
        F.col("decode_ok") == "ok"
    )
    return aligned_hash_near_dup(
        fp,
        hex_len=n_bands // 4,
        max_hamming=max_hamming,
        min_overlap=min_overlap,
        out_cols=("clip_a", "clip_b"),
    )

"""Pure-stdlib PNG decoder (operators/multimodal.py::_png_gray_rows)
pinned against hand-packed fixtures: the test-side encoder below forward-
filters scanlines with a CHOSEN filter type per row, so every unfilter arm
(None/Sub/Up/Average/Paeth) is exercised against known pixel values. No
shared code with the decoder — the encoder packs chunks and applies the
RFC 2083 §6 filter equations forward; the decoder must invert them."""

from __future__ import annotations

import struct
import zlib

import pytest

from etl_tools_rs_spark.operators import multimodal as mm


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def make_png(
    rows: list[list[tuple[int, ...]]],
    color_type: int,
    filters: list[int] | None = None,
    bit_depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Encode pixel rows (tuples per pixel) as a PNG, forward-filtering
    each scanline with the requested filter type."""
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    height = len(rows)
    width = len(rows[0])
    filters = filters or [0] * height
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for r, f in zip(rows, filters):
        line = bytes(v for px in r for v in px)
        assert len(line) == stride
        out = bytearray(line)
        if f == 1:  # Sub
            for i in range(stride - 1, -1, -1):
                a = line[i - channels] if i >= channels else 0
                out[i] = (line[i] - a) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                out[i] = (line[i] - prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                out[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                out[i] = (line[i] - _paeth(a, prev[i], c)) & 0xFF
        raw += bytes([f]) + bytes(out)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace)
    return (
        mm._PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


class TestPngGrayRows:
    def test_gray_all_filter_types(self):
        # 5 rows, one per filter type; values chosen to exercise carries
        rows = [
            [(0,), (64,), (128,), (255,)],
            [(10,), (20,), (30,), (40,)],
            [(10,), (21,), (33,), (46,)],
            [(200,), (100,), (50,), (25,)],
            [(1,), (2,), (3,), (4,)],
        ]
        png = make_png(rows, color_type=0, filters=[0, 1, 2, 3, 4])
        got = mm._png_gray_rows(png)
        want = [[px[0] / 255.0 for px in r] for r in rows]
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g == pytest.approx(w)

    def test_truecolor_paeth(self):
        rows = [
            [(255, 0, 0), (0, 255, 0)],
            [(0, 0, 255), (255, 255, 255)],
        ]
        png = make_png(rows, color_type=2, filters=[1, 4])
        got = mm._png_gray_rows(png)
        assert got[0] == pytest.approx([1 / 3, 1 / 3])
        assert got[1] == pytest.approx([1 / 3, 1.0])

    def test_rgba_alpha_ignored(self):
        rows = [[(90, 90, 90, 0), (90, 90, 90, 255)]]
        png = make_png(rows, color_type=6, filters=[2])
        (row,) = mm._png_gray_rows(png)
        assert row == pytest.approx([90 / 255.0, 90 / 255.0])

    def test_gray_alpha(self):
        rows = [[(100, 7), (200, 99)]]
        png = make_png(rows, color_type=4, filters=[1])
        (row,) = mm._png_gray_rows(png)
        assert row == pytest.approx([100 / 255.0, 200 / 255.0])

    def test_multiple_idat_chunks_concatenate(self):
        rows = [[(10,), (20,)], [(30,), (40,)]]
        png = make_png(rows, color_type=0)
        # resplit the IDAT payload into two chunks
        body = zlib.compress(
            bytes(b"\x00" + bytes([10, 20]) + b"\x00" + bytes([30, 40]))
        )
        split = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", body[:5])
            + _chunk(b"IDAT", body[5:])
            + _chunk(b"IEND", b"")
        )
        assert mm._png_gray_rows(split) == mm._png_gray_rows(png)


class TestPngRejection:
    def _valid(self):
        return make_png([[(10,), (20,)]], color_type=0)

    @pytest.mark.parametrize(
        "payload",
        [
            b"",
            b"not a png at all",
            b"\x89PNG\r\n\x1a\n",  # signature only: no IHDR
            b"\x89PNG\r\n\x1a\nxxxxxxx",  # truncated chunk header
        ],
    )
    def test_garbage(self, payload):
        with pytest.raises(ValueError):
            mm._png_gray_rows(payload)

    def test_palette_missing_plte_rejected(self):
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="missing PLTE"):
            mm._png_gray_rows(png)

    def test_palette_index_out_of_range(self):
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
            + _chunk(b"PLTE", bytes([255, 0, 0]))  # 1-entry palette
            + _chunk(b"IDAT", zlib.compress(b"\x00\x07"))  # index 7
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="palette index"):
            mm._png_gray_rows(png)

    def test_invalid_depth_for_type_rejected(self):
        # truecolor at depth 4 is not a legal PNG combination
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 4, 2, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="bit depth"):
            mm._png_gray_rows(png)

    def test_unknown_filter_type(self):
        body = zlib.compress(b"\x05\x0a\x14")  # filter byte 5
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", body)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="filter type"):
            mm._png_gray_rows(png)

    def test_pixel_length_mismatch(self):
        body = zlib.compress(b"\x00\x0a")  # one byte short for width 2
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", body)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="length mismatch"):
            mm._png_gray_rows(png)

    def test_corrupt_idat_stream(self):
        png = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
            + _chunk(b"IDAT", b"\xff\xfe\xfd\xfc")
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="IDAT"):
            mm._png_gray_rows(png)


class TestPngDecodeAndHash:
    def test_band_profile_follows_gradient(self):
        # 16 rows, vertical dark→light ramp: band means must increase
        rows = [[(r * 17,)] * 4 for r in range(16)]
        png = make_png(rows, color_type=0)
        vals = mm.decode_media(png, "image/png", 4)
        assert len(vals) == 4
        assert vals == sorted(vals)
        assert vals[0] < 0.2 and vals[3] > 0.75

    def test_decode_media_dispatches_png(self):
        png = make_png([[(255,), (255,)], [(255,), (255,)]], color_type=0)
        got = mm.decode_media(png, "image/png", 2)
        assert got == pytest.approx([1.0, 1.0])

    def test_ahash_cross_format_bmp_png_equal(self):
        """The SAME image serialized as BMP and as PNG must produce the
        SAME perceptual hash — the gray-grid geometry is shared, so the
        hash depends on pixels, not container format."""
        w = h = 16
        gray = [[((r * 13 + c * 7) % 256) for c in range(w)] for r in range(h)]
        png = make_png(
            [[(v, v, v) for v in row] for row in gray], color_type=2
        )
        # 24-bit BMP, bottom-up rows
        stride = ((w * 3 + 3) // 4) * 4
        px = bytearray()
        for r in range(h - 1, -1, -1):
            for c in range(w):
                v = gray[r][c]
                px += bytes([v, v, v])
            px += b"\x00" * (stride - w * 3)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
        )
        head = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
        bmp = head + info + bytes(px)
        assert mm.ahash_bytes(png) == mm.ahash_bytes(bmp)

    def test_png_roundtrip_through_arrow_pipeline(self, spark):
        """The decoder must run end-to-end through the mapInPandas stage:
        2 good PNGs + 1 garbage payload → 2 decode_ok rows and 1
        error-as-record row."""
        from pyspark.sql import functions as F

        # the corrupt payload carries a REAL PNG signature so it reaches
        # the PNG parser and fails inside it
        rows = [
            (0, make_png([[(0,)] * 4] * 4, 0), "image/png"),
            (1, make_png([[(255,)] * 4] * 4, 0), "image/png"),
            (2, mm._PNG_SIG + b"garbage not an image", "image/png"),
        ]
        df = spark.createDataFrame(
            rows, "media_id long, content binary, modality string"
        )
        out = {
            r["media_id"]: r
            for r in mm.extract_features(df, dim=2, modality_col="modality")
            .select("media_id", "decode_ok", "feature")
            .collect()
        }
        assert out[0]["decode_ok"] == "ok" and out[1]["decode_ok"] == "ok"
        assert out[0]["feature"] == pytest.approx([0.0, 0.0])
        assert out[1]["feature"] == pytest.approx([1.0, 1.0])
        assert out[2]["decode_ok"].startswith("error:")
        assert out[2]["feature"] is None


class TestPngExtendedFormats:
    """r4 widening: palette (PLTE), sub-8-bit grayscale, 16-bit depths —
    every fixture hand-packed, expected grays computed by hand."""

    def _png(self, ihdr, *chunks):
        return (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr))
            + b"".join(chunks)
            + _chunk(b"IEND", b"")
        )

    def test_palette_8bit(self):
        plte = bytes([255, 255, 255, 0, 0, 0, 30, 60, 90])  # white, black, mix
        # 3 pixels wide: indices 0,1,2 -> grays 1.0, 0.0, (30+60+90)/765
        body = zlib.compress(b"\x00\x00\x01\x02")
        png = self._png(
            (3, 1, 8, 3, 0, 0, 0),
            _chunk(b"PLTE", plte),
            _chunk(b"IDAT", body),
        )
        rows = mm._png_gray_rows(png)
        assert rows == [[1.0, 0.0, (30 + 60 + 90) / (3 * 255.0)]]

    def test_palette_4bit_packed(self):
        plte = bytes([0, 0, 0, 255, 255, 255])  # black, white
        # width 3, depth 4: indices 0,1,0 pack as 0x01 0x00
        body = zlib.compress(b"\x00\x01\x00")
        png = self._png(
            (3, 1, 4, 3, 0, 0, 0),
            _chunk(b"PLTE", plte),
            _chunk(b"IDAT", body),
        )
        assert mm._png_gray_rows(png) == [[0.0, 1.0, 0.0]]

    def test_gray_1bit_packed(self):
        # width 10, depth 1: bits 1010101010 -> bytes 0xAA 0x80
        body = zlib.compress(b"\x00\xaa\x80")
        png = self._png((10, 1, 1, 0, 0, 0, 0), _chunk(b"IDAT", body))
        assert mm._png_gray_rows(png) == [[1.0, 0.0] * 5]

    def test_gray_2bit_values(self):
        # width 4, depth 2: values 0,1,2,3 pack as 0b00011011 = 0x1b
        body = zlib.compress(b"\x00\x1b")
        png = self._png((4, 1, 2, 0, 0, 0, 0), _chunk(b"IDAT", body))
        assert mm._png_gray_rows(png) == [[0.0, 1 / 3, 2 / 3, 1.0]]

    def test_gray_16bit_with_up_filter(self):
        # row0: 0x1234, 0xffff ; row1 = row0 (Up filter with zero deltas)
        row = b"\x12\x34\xff\xff"
        body = zlib.compress(b"\x00" + row + b"\x02" + b"\x00" * 4)
        png = self._png((2, 2, 16, 0, 0, 0, 0), _chunk(b"IDAT", body))
        rows = mm._png_gray_rows(png)
        assert rows[0] == [0x1234 / 65535.0, 1.0]
        assert rows[1] == rows[0]

    def test_truecolor_16bit(self):
        # one pixel: R=0xffff G=0x0000 B=0x8000 -> mean/65535
        px = b"\xff\xff\x00\x00\x80\x00"
        body = zlib.compress(b"\x00" + px)
        png = self._png((1, 1, 16, 2, 0, 0, 0), _chunk(b"IDAT", body))
        got = mm._png_gray_rows(png)[0][0]
        assert abs(got - (0xFFFF + 0 + 0x8000) / (3 * 65535.0)) < 1e-12

    def test_sub_filter_16bit_step_is_pixel_bytes(self):
        # Sub filter at depth 16 must look back channels*2 bytes: encode
        # second pixel as delta over the first
        p0 = (0x10, 0x20)
        raw = bytes(p0) + bytes(((0x30 - 0x10) & 0xFF, (0x40 - 0x20) & 0xFF))
        body = zlib.compress(b"\x01" + raw)
        png = self._png((2, 1, 16, 0, 0, 0, 0), _chunk(b"IDAT", body))
        rows = mm._png_gray_rows(png)
        assert rows[0] == [0x1020 / 65535.0, 0x3040 / 65535.0]

    def test_palette_sub_filter_byte_step(self):
        # palette rows filter on single BYTES (step=1) regardless of the
        # palette entry width
        plte = bytes([10, 10, 10, 200, 200, 200])
        raw = bytes([0x01, 0x00])  # second byte: 1 + 0 delta... Sub: 1,1
        body = zlib.compress(b"\x01" + raw)
        png = self._png(
            (2, 1, 8, 3, 0, 0, 0),
            _chunk(b"PLTE", plte),
            _chunk(b"IDAT", body),
        )
        assert mm._png_gray_rows(png) == [[200 / 255.0, 200 / 255.0]]


_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def make_adam7_png(rows, color_type, bit_depth=8):
    """Encode pixel rows as an ADAM7-INTERLACED PNG (filter 0 per line):
    extract the 7 passes in order, each serialized as its own sub-image —
    an independent forward implementation of RFC 2083 §8.2 that the
    decoder must invert."""
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    height, width = len(rows), len(rows[0])
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for i in range(ph):
            line = bytes(
                v
                for j in range(pw)
                for v in rows[y0 + i * dy][x0 + j * dx]
            )
            assert len(line) == pw * channels
            raw += b"\x00" + line
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 1
    )
    return (
        mm._PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


class TestPngAdam7:
    def _grid(self, h, w):
        return [[((r * 31 + c * 7) % 256,) for c in range(w)] for r in range(h)]

    @pytest.mark.parametrize("h,w", [(8, 8), (5, 3), (3, 5), (1, 1), (2, 9), (16, 16)])
    def test_interlaced_equals_progressive(self, h, w):
        rows = self._grid(h, w)
        straight = mm._png_gray_rows(make_png(rows, color_type=0))
        inter = mm._png_gray_rows(make_adam7_png(rows, color_type=0))
        assert inter == straight

    def test_interlaced_truecolor(self):
        rows = [
            [((r * 50) % 256, (c * 40) % 256, (r + c) % 256) for c in range(6)]
            for r in range(7)
        ]
        straight = mm._png_gray_rows(make_png(rows, color_type=2))
        inter = mm._png_gray_rows(make_adam7_png(rows, color_type=2))
        assert inter == straight

    def test_truncated_interlaced_rejected(self):
        png = make_adam7_png(self._grid(8, 8), color_type=0)
        # re-deflate a truncated pass stream: drop the last scanline byte
        body = zlib.compress(b"\x00\x01")  # way too short for 8x8 passes
        bad = (
            mm._PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1))
            + _chunk(b"IDAT", body)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="length mismatch"):
            mm._png_gray_rows(bad)
        assert mm._png_gray_rows(png)  # the well-formed twin still decodes

    def test_unknown_interlace_method_rejected(self):
        png = make_png([[(1,), (2,)]], color_type=0, interlace=7)
        with pytest.raises(ValueError, match="interlace"):
            mm._png_gray_rows(png)

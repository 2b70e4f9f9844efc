"""Baseline JPEG decoder (operators/jpeg.py) — round-trip against a
spec-faithful test-side ENCODER (markers, canonical Huffman, FDCT,
byte stuffing, restart markers all hand-built here from the public
ITU-T T.81 layout), plus garbage rejection. No codec library anywhere."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from etl_tools_rs_spark.operators.jpeg import (
    _jpeg_decode_y,
    encode_baseline_jpeg,
    jpeg_metadata,
)
from etl_tools_rs_spark.operators.multimodal import decode_media, resize_image_real

# flat 8-bit canonical Huffman table: 256 codes of length 8, symbol k
# gets code k — legal, complete, and trivially correct on both sides
def _gradient(h, w):
    r = np.arange(h).reshape(-1, 1)
    c = np.arange(w).reshape(1, -1)
    return ((r * 255 // max(1, h - 1)) * 0.5 + (c * 255 // max(1, w - 1)) * 0.5).astype(
        np.uint8
    )


class TestRoundTrip:
    def test_flat_gray(self):
        y = np.full((16, 24), 130, dtype=np.uint8)
        w, h, plane = _jpeg_decode_y(encode_baseline_jpeg(y))
        assert (w, h) == (24, 16)
        assert plane.shape == (16, 24)
        assert np.abs(plane * 255 - 130).max() < 2.0

    def test_gradient_gray(self):
        y = _gradient(32, 40)
        _, _, plane = _jpeg_decode_y(encode_baseline_jpeg(y, q=8))
        err = np.abs(plane * 255 - y.astype(np.float64))
        assert err.mean() < 3.0 and err.max() < 14.0

    def test_color_420_luma_only(self):
        # decoder must walk interleaved chroma blocks correctly but only
        # transform luma; wrong MCU walking corrupts everything after
        y = _gradient(32, 32)
        cb = np.full((16, 16), 90, dtype=np.uint8)
        cr = np.full((16, 16), 200, dtype=np.uint8)
        _, _, plane = _jpeg_decode_y(encode_baseline_jpeg(y, cb, cr, q=8))
        err = np.abs(plane * 255 - y.astype(np.float64))
        assert err.mean() < 3.0 and err.max() < 14.0

    def test_odd_dimensions_cropped(self):
        y = _gradient(20, 12)  # not multiples of 16 -> padded MCUs, cropped back
        cb = np.full((10, 6), 128, dtype=np.uint8)
        cr = np.full((10, 6), 128, dtype=np.uint8)
        w, h, plane = _jpeg_decode_y(encode_baseline_jpeg(y, cb, cr, q=8))
        assert (w, h) == (12, 20) and plane.shape == (20, 12)
        assert np.abs(plane * 255 - y.astype(np.float64)).mean() < 4.0

    def test_restart_intervals_match_plain(self):
        y = _gradient(32, 48)
        _, _, a = _jpeg_decode_y(encode_baseline_jpeg(y, q=8))
        _, _, b = _jpeg_decode_y(encode_baseline_jpeg(y, q=8, restart=2))
        assert np.array_equal(a, b)

    def test_extended_sequential_sof1_accepted(self):
        y = np.full((8, 8), 99, dtype=np.uint8)
        _, _, plane = _jpeg_decode_y(encode_baseline_jpeg(y, sof_marker=0xC1))
        assert np.abs(plane * 255 - 99).max() < 2.0


class TestMetadataAndGuards:
    def test_metadata(self):
        y = _gradient(20, 12)
        cb = np.full((10, 6), 128, dtype=np.uint8)
        m = jpeg_metadata(encode_baseline_jpeg(y, cb, cb.copy()))
        assert m == {
            "width": 12, "height": 20, "n_components": 3, "progressive": 0,
        }

    def test_not_jpeg_rejected(self):
        with pytest.raises(ValueError, match="SOI"):
            _jpeg_decode_y(b"not a jpeg at all")
        with pytest.raises(ValueError):
            _jpeg_decode_y(b"\xff\xd8\x00\x00")

    def test_truncated_scan_rejected(self):
        y = _gradient(32, 32)
        data = encode_baseline_jpeg(y)
        with pytest.raises(ValueError):
            _jpeg_decode_y(data[: len(data) // 2])

    def test_progressive_rejected(self):
        y = np.full((8, 8), 10, dtype=np.uint8)
        data = bytearray(encode_baseline_jpeg(y))
        i = data.find(b"\xff\xc0")
        data[i + 1] = 0xC2  # flip SOF0 -> SOF2
        with pytest.raises(ValueError, match="progressive"):
            _jpeg_decode_y(bytes(data))
        assert jpeg_metadata(bytes(data))["progressive"] == 1

    def test_missing_tables_rejected(self):
        y = np.full((8, 8), 10, dtype=np.uint8)
        data = encode_baseline_jpeg(y)
        # strip the DQT segment
        i = data.find(b"\xff\xdb")
        ln = struct.unpack_from(">H", data, i + 2)[0]
        with pytest.raises(ValueError, match="quant"):
            _jpeg_decode_y(data[:i] + data[i + 2 + ln :])


class TestGridAndProfile:
    def test_gray_grid_two_tone(self):
        y = np.zeros((32, 32), dtype=np.uint8)
        y[:, 16:] = 240
        g = np.asarray(resize_image_real(encode_baseline_jpeg(y, q=4), 2, 2))
        assert g.shape == (2, 2)
        assert g[0][0] < 0.05 and g[1][0] < 0.05
        assert abs(g[0][1] - 240 / 255) < 0.05 and abs(g[1][1] - 240 / 255) < 0.05

    def test_band_profile_tracks_brightness_ramp(self):
        h = 64
        y = np.tile(
            (np.arange(h) * 255 // (h - 1)).astype(np.uint8).reshape(-1, 1),
            (1, 16),
        )
        prof = decode_media(encode_baseline_jpeg(y, q=4), "image/jpeg", 8)
        assert len(prof) == 8
        assert all(b2 > b1 - 0.02 for b1, b2 in zip(prof, prof[1:]))
        assert prof[0] < 0.15 and prof[-1] > 0.85


class TestHashWiring:
    """JPEG payloads flow through the same aHash/pHash grid dispatch as
    PNG/BMP — a JPEG and PNG rendition of one image must hash alike."""

    def _png(self, y: np.ndarray) -> bytes:
        import struct as _s
        import zlib

        h, w = y.shape

        def chunk(ctype, data):
            return (
                _s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", zlib.crc32(ctype + data))
            )

        raw = bytearray()
        for r in range(h):
            raw += b"\x00" + bytes(int(v) for v in y[r])
        ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    def test_ahash_matches_png_rendition(self):
        from etl_tools_rs_spark.operators.multimodal import ahash_bytes

        y = np.zeros((32, 32), dtype=np.uint8)
        y[:16] = 220  # bright top half
        a_jpeg = ahash_bytes(encode_baseline_jpeg(y, q=4))
        a_png = ahash_bytes(self._png(y))
        ham = bin(int(a_jpeg, 16) ^ int(a_png, 16)).count("1")
        assert ham <= 2, (a_jpeg, a_png)

    def test_phash_matches_png_rendition(self):
        # structured image with strong AC energy: a smooth gradient's
        # low-frequency DCT is ~all-zero and its pHash bits are
        # sign-of-noise (unstable under ANY lossy round trip), so use a
        # 16px checkerboard instead
        from etl_tools_rs_spark.operators.multimodal import phash_bytes

        r = np.arange(64).reshape(-1, 1) // 16
        c = np.arange(64).reshape(1, -1) // 16
        y = (230 * ((r + c) % 2)).astype(np.uint8)
        p_jpeg = phash_bytes(encode_baseline_jpeg(y, q=4))
        p_png = phash_bytes(self._png(y))
        ham = bin(int(p_jpeg, 16) ^ int(p_png, 16)).count("1")
        assert ham <= 4, (p_jpeg, p_png)

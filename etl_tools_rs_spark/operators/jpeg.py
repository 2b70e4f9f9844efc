"""Baseline JPEG decode with the stdlib + numpy only.

The engine depends on no codec library, but JPEG is the dominant web
image format — a training-data pipeline whose image set stops at
BMP/PNG leaves most of a crawl opaque. This module implements the
baseline sequential DCT process from the public JPEG specification
(ITU-T T.81 / ISO 10918-1): marker parsing, canonical Huffman entropy
decode, dequantization, the 8×8 inverse DCT (one numpy matrix sandwich
per block), restart-interval handling, and arbitrary chroma
subsampling. Only the LUMA (Y) plane is inverse-transformed — its one
consumer, ``multimodal._gray_rows`` (band profiles, resize, aHash/pHash
grids), wants grayscale, and grayscale IS the Y channel, so chroma
blocks are entropy-decoded (the bitstream demands it) but never
dequantized or IDCT'd: ~3× less math on 4:4:4 color images, ~1.5× on
4:2:0.

Out of scope, rejected with ValueError (error-as-record upstream, same
policy as the PNG/BMP/AVI decoders): progressive (SOF2) and every
non-baseline-Huffman process, arithmetic coding, 12-bit precision,
hierarchical mode. Truncated or garbage payloads raise too — never
silently produce pixels.

Reference parity note: the reference engine (ytitov/etl-tools-rs) has no
media handling at all; this is extension surface for the multimodal
pipeline brief, reimplemented from the public specification (no code
consulted).
"""

from __future__ import annotations

import math
import struct

import numpy as np

# zigzag scan order: index in the entropy stream -> position in the 8x8
# block (row-major linear index), from the public spec's Figure 5
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# orthonormal IDCT basis: M[u, x] = C(u)/2 * cos((2x+1)u*pi/16);
# spatial = M.T @ coeffs @ M  (and forward F = M @ f @ M.T — used by the
# test-side encoder)
_M = np.array(
    [
        [
            (math.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.float64,
)


class _BitReader:
    """MSB-first bit reader over already-unstuffed entropy bytes."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _build_huffman(counts: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman table: {(code_length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise ValueError("JPEG DHT symbol count mismatch")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """DIFF/AC magnitude extension (spec EXTEND): high bit 0 → negative."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _parse_segments(content: bytes):
    """Yield (marker, payload_start, payload_end) for each segment up to
    SOS (whose entropy data is handled by the caller) or EOI."""
    if len(content) < 4 or content[0] != 0xFF or content[1] != 0xD8:
        raise ValueError("not a JPEG payload (missing SOI)")
    i = 2
    n = len(content)
    while i < n:
        if content[i] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        while i < n and content[i] == 0xFF:  # fill bytes are legal
            i += 1
        if i >= n:
            raise ValueError("truncated JPEG (marker ran off the end)")
        marker = content[i]
        i += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # no payload
        if marker == 0xD9:  # EOI
            return
        if i + 2 > n:
            raise ValueError("truncated JPEG segment length")
        (seg_len,) = struct.unpack_from(">H", content, i)
        if seg_len < 2 or i + seg_len > n:
            raise ValueError("truncated JPEG segment")
        yield marker, i + 2, i + seg_len
        i += seg_len
        if marker == 0xDA:  # SOS — caller takes over at the entropy data
            return


def _split_scan(content: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy-coded bytes from ``start``, splitting at
    restart markers. Returns (intervals, end_index_of_scan)."""
    out: list[bytearray] = [bytearray()]
    i = start
    n = len(content)
    while i < n:
        b = content[i]
        if b != 0xFF:
            out[-1].append(b)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("truncated JPEG scan")
        m = content[i + 1]
        if m == 0x00:  # stuffed FF
            out[-1].append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            out.append(bytearray())
            i += 2
        else:  # any other marker ends the scan
            break
    return [bytes(b) for b in out], i


def jpeg_metadata(content: bytes) -> dict[str, int]:
    """Parse the frame header → {width, height, n_components,
    progressive} without decoding any pixel data. Real, not a stub."""
    for marker, s, e in _parse_segments(content):
        if marker in (0xC0, 0xC1, 0xC2):
            if e - s < 6:
                raise ValueError("truncated JPEG SOF")
            _, h, w, nc = struct.unpack_from(">BHHB", content, s)
            return {
                "width": w,
                "height": h,
                "n_components": nc,
                "progressive": int(marker == 0xC2),
            }
        if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG process (SOF{marker - 0xC0})")
    raise ValueError("no JPEG frame header found")


def _jpeg_decode_y(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode the LUMA plane of a baseline JPEG: returns
    (width, height, float64 array [h, w] in [0, 1])."""
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart = 0
    scan = None
    for marker, s, e in _parse_segments(content):
        if marker == 0xDB:  # DQT
            i = s
            while i < e:
                pq, tq = content[i] >> 4, content[i] & 15
                i += 1
                if pq not in (0, 1) or tq > 3:
                    raise ValueError("bad JPEG DQT header")
                step = 2 if pq else 1
                if i + 64 * step > e:
                    raise ValueError("truncated JPEG DQT")
                if pq:
                    vals = struct.unpack_from(">64H", content, i)
                else:
                    vals = content[i : i + 64]
                tab = np.zeros(64, dtype=np.float64)
                for z, v in enumerate(vals):
                    tab[ZIGZAG[z]] = v
                qt[tq] = tab
                i += 64 * step
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            prec, h, w, nc = struct.unpack_from(">BHHB", content, s)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h == 0 or w == 0 or not 1 <= nc <= 4:
                raise ValueError("degenerate JPEG frame")
            if e - s < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", content, s + 6 + 3 * c)
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("bad JPEG sampling factors")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker == 0xC2:
            raise ValueError("progressive JPEG not supported (baseline only)")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG process (SOF{marker - 0xC0})")
        elif marker == 0xC4:  # DHT
            i = s
            while i < e:
                tc, th = content[i] >> 4, content[i] & 15
                i += 1
                if tc not in (0, 1) or th > 3 or i + 16 > e:
                    raise ValueError("bad JPEG DHT header")
                counts = list(content[i : i + 16])
                i += 16
                total = sum(counts)
                if i + total > e or total > 256:
                    raise ValueError("truncated JPEG DHT")
                table = _build_huffman(counts, content[i : i + total])
                i += total
                (huff_dc if tc == 0 else huff_ac)[th] = table
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", content, s)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = content[s]
            if ns != len(frame["comps"]):
                raise ValueError("JPEG scan/frame component mismatch")
            sel = {}
            for c in range(ns):
                cid, tabs = content[s + 1 + 2 * c], content[s + 2 + 2 * c]
                sel[cid] = (tabs >> 4, tabs & 15)
            scan = (sel, e)
            break
    if frame is None or scan is None:
        raise ValueError("no JPEG scan found")
    sel, data_start = scan
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-hgt // (8 * vmax))
    y = comps[0]  # first component is luma by convention (and for nc=1)
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError(f"JPEG quant table {c['tq']} missing")
        if c["id"] not in sel:
            raise ValueError("JPEG scan omits a frame component")
        td, ta = sel[c["id"]]
        if td not in huff_dc or ta not in huff_ac:
            raise ValueError("JPEG Huffman table missing")
    yq = qt[y["tq"]]
    ytd, yta = sel[y["id"]]
    plane = np.zeros((mcuy * vmax * 8, mcux * hmax * 8), dtype=np.float64)

    intervals, _ = _split_scan(content, data_start)
    n_mcu = mcux * mcuy
    per_interval = restart if restart else n_mcu
    mcu = 0
    zz = ZIGZAG
    for seg in intervals:
        if mcu >= n_mcu:
            break
        r = _BitReader(seg)
        preds = {c["id"]: 0 for c in comps}
        seg_end = min(n_mcu, mcu + per_interval)
        while mcu < seg_end:
            my, mx = divmod(mcu, mcux)
            for c in comps:
                td, ta = sel[c["id"]]
                dct, act = huff_dc[td], huff_ac[ta]
                is_y = c is y
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.float64) if is_y else None
                        s_bits = _huff_decode(r, dct)
                        if s_bits > 11:
                            raise ValueError("bad JPEG DC magnitude")
                        diff = _extend(r.read_bits(s_bits), s_bits)
                        preds[c["id"]] += diff
                        if is_y:
                            coef[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(r, act)
                            run, size = rs >> 4, rs & 15
                            if size == 0:
                                if run == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            v = _extend(r.read_bits(size), size)
                            if is_y:
                                coef[zz[k]] = v
                            k += 1
                        if is_y:
                            blk = (coef * yq).reshape(8, 8)
                            px = _M.T @ blk @ _M + 128.0
                            r0 = (my * c["v"] + by) * 8
                            c0 = (mx * c["h"] + bx) * 8
                            plane[r0 : r0 + 8, c0 : c0 + 8] = px
            mcu += 1
    if mcu < n_mcu:
        raise ValueError("JPEG scan ended before all MCUs decoded")
    # crop the luma plane to its true dimensions, then replicate up to
    # full resolution if luma is subsampled (legal, vanishingly rare)
    cw = -(-w * y["h"] // hmax)
    ch = -(-hgt * y["v"] // vmax)
    plane = plane[:ch, :cw]
    if y["h"] != hmax or y["v"] != vmax:
        plane = np.repeat(
            np.repeat(plane, hmax // y["h"], axis=1), vmax // y["v"], axis=0
        )[:hgt, :w]
    else:
        plane = plane[:hgt, :w]
    return w, hgt, np.clip(plane, 0.0, 255.0) / 255.0


# --------------------------------------------------------------------------
# Fixture-grade baseline ENCODER. Not a production codec: uniform quant
# table, flat 8-bit Huffman codes (legal canonical tables, zero
# compression effort). It exists so tests and the registry pipeline can
# synthesize REAL baseline JPEG payloads executor-side without any codec
# library — round-tripping through it exercises every decoder stage
# (markers, interleaved MCUs, stuffing, restarts).
# --------------------------------------------------------------------------

_FLAT_COUNTS = bytes([0] * 7 + [255] + [0] * 8)
_FLAT_SYMBOLS = bytes(range(255))  # 255 codes of len 8 + room to stay prefix-free


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.write(1, 1)  # spec pads with 1-bits


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _fdct_quant(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    f = block.astype(np.float64) - 128.0
    F = _M @ f @ _M.T
    return np.round(F / q.reshape(8, 8)).astype(np.int64)


def _emit_magnitude(w: _BitWriter, v: int) -> None:
    size = v.bit_length() if v >= 0 else (-v).bit_length()
    w.write(size, 8)  # flat 8-bit Huffman: symbol == code
    if size:
        w.write(v if v > 0 else v + (1 << size) - 1, size)


def _emit_block(w: _BitWriter, coefs: np.ndarray, pred: int) -> int:
    lin = coefs.reshape(64)
    zz = [int(lin[ZIGZAG[k]]) for k in range(64)]
    _emit_magnitude(w, zz[0] - pred)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.write(0xF0, 8)  # ZRL
            run -= 16
        size = v.bit_length() if v >= 0 else (-v).bit_length()
        assert size <= 10
        w.write((run << 4) | size, 8)
        w.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        w.write(0x00, 8)  # EOB
    return zz[0]


def encode_baseline_jpeg(
    y: np.ndarray,
    cb: np.ndarray | None = None,
    cr: np.ndarray | None = None,
    q: int = 16,
    sampling: tuple[int, int] = (2, 2),
    restart: int = 0,
    sof_marker: int = 0xC0,
) -> bytes:
    """Baseline JPEG encoder for tests: grayscale (1 comp) or YCbCr
    (3 comps, luma sampled at ``sampling``, chroma at 1x1). Uniform
    quant table ``q``; flat 8-bit Huffman codes; optional restart
    interval in MCUs."""
    h, w_ = y.shape
    qtab = np.full(64, float(q))
    color = cb is not None
    hs, vs = sampling if color else (1, 1)
    comps = [{"id": 1, "h": hs, "v": vs, "plane": y}]
    if color:
        comps += [
            {"id": 2, "h": 1, "v": 1, "plane": cb},
            {"id": 3, "h": 1, "v": 1, "plane": cr},
        ]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w_ // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # pad each plane (edge replication) to its MCU-aligned size
    for c in comps:
        ph, pw = mcuy * c["v"] * 8, mcux * c["h"] * 8
        p = c["plane"]
        p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        c["pad"] = p

    out = bytearray(b"\xff\xd8")  # SOI
    dqt = bytes([0x00]) + bytes(
        int(qtab[ZIGZAG[k]]) for k in range(64)
    )  # pq=0/tq=0, zigzag order
    out += _seg(0xDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w_, len(comps))
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], 0])
    out += _seg(sof_marker, sof)
    out += _seg(0xC4, bytes([0x00]) + _FLAT_COUNTS + _FLAT_SYMBOLS)  # DC 0
    out += _seg(0xC4, bytes([0x10]) + _FLAT_COUNTS + _FLAT_SYMBOLS)  # AC 0
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))
    sos = bytes([len(comps)])
    for c in comps:
        sos += bytes([c["id"], 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    wtr = _BitWriter()
    preds = {c["id"]: 0 for c in comps}
    rst = 0
    n_mcu = mcux * mcuy
    for mcu in range(n_mcu):
        if restart and mcu and mcu % restart == 0:
            wtr.flush()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = _BitWriter()
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcux)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    r0 = (my * c["v"] + by) * 8
                    c0 = (mx * c["h"] + bx) * 8
                    blk = c["pad"][r0 : r0 + 8, c0 : c0 + 8]
                    coefs = _fdct_quant(blk, qtab)
                    preds[c["id"]] = _emit_block(wtr, coefs, preds[c["id"]])
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)



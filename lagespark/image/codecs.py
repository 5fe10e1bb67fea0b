"""From-scratch image codecs (numpy + stdlib only).

Formats (the `fmt` column of the graft input table, BASELINE.json:15):

  raw   — bare interleaved RGB uint8, exactly w*h*3 bytes (lossless)
  ppm   — binary PPM "P6" with header (lossless)
  png   — real PNG: IHDR/IDAT/IEND chunks, zlib-deflated scanlines,
          8-bit truecolor. Encoder emits filter 0; decoder handles
          filters 0-4 so externally produced truecolor PNGs decode too.
          (lossless)
  qdct  — our own lossy quantized-DCT format so the "PSNR ≥ 40 dB for
          lossy formats" invariant (BASELINE.json:6,15) is actually
          exercisable in-sandbox: per-channel 8×8 block DCT (orthonormal
          matrix product), frequency-weighted integer quantization,
          zlib-compressed int16 coefficients. Designed to land ≥ 40 dB
          on natural-ish content. (lossy)

Also: 64-bit DCT pHash (matching the `phash` column) and PSNR.

All kernels operate on (h, w, 3) uint8 numpy arrays and are loop-free over
pixels (block ops are einsum/matmul); per-image Python overhead only, which
amortizes inside Arrow batches.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# raw / ppm
# ---------------------------------------------------------------------------


def encode_raw(px: np.ndarray) -> bytes:
    return px.astype(np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(px: np.ndarray) -> bytes:
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def decode_ppm(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> pixels
    idx = 2
    vals = []
    while len(vals) < 3:
        while data[idx : idx + 1].isspace():
            idx += 1
        if data[idx : idx + 1] == b"#":  # comment
            idx = data.index(b"\n", idx) + 1
            continue
        start = idx
        while not data[idx : idx + 1].isspace():
            idx += 1
        vals.append(int(data[start:idx]))
    idx += 1  # the single whitespace after maxval
    pw, ph, maxval = vals
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    return np.frombuffer(data, dtype=np.uint8, count=pw * ph * 3, offset=idx).reshape(
        ph, pw, 3
    )


# ---------------------------------------------------------------------------
# png (8-bit truecolor)
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(px: np.ndarray) -> bytes:
    h, w = px.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, truecolor RGB
    rows = px.astype(np.uint8).reshape(h, w * 3)
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = rows
    idat = zlib.compress(raw.tobytes(), 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """PNG scanline unfiltering, filters 0-4. Row loop only (h rows);
    per-row ops vectorized except the inherently sequential Paeth/Sub scans,
    done per-byte-column in numpy int arithmetic."""
    out = np.zeros((h, stride), dtype=np.uint8)
    data = raw.reshape(h, stride + 1)
    for r in range(h):
        ft = int(data[r, 0])
        line = data[r, 1:].astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r > 0 else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        else:
            cur = np.empty(stride, np.int32)
            for c in range(stride):
                a = cur[c - bpp] if c >= bpp else 0
                b = prev[c]
                cc = prev[c - bpp] if c >= bpp else 0
                if ft == 1:  # Sub
                    pred = a
                elif ft == 3:  # Average
                    pred = (a + b) // 2
                elif ft == 4:  # Paeth
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                else:
                    raise ValueError(f"bad filter {ft}")
                cur[c] = (line[c] + pred) & 0xFF
        out[r] = cur.astype(np.uint8)
    return out


def decode_png(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    idx = len(PNG_SIG)
    width = height = 0
    idat = b""
    while idx < len(data):
        (ln,) = struct.unpack(">I", data[idx : idx + 4])
        tag = data[idx + 4 : idx + 8]
        payload = data[idx + 8 : idx + 8 + ln]
        idx += 12 + ln
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit truecolor PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = width * 3
    return _unfilter(raw, height, stride, 3).reshape(height, width, 3)


# ---------------------------------------------------------------------------
# qdct (our lossy format)
# ---------------------------------------------------------------------------

_QDCT_MAGIC = b"QDCT"
_D8 = None


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


def _quant_table() -> np.ndarray:
    u = np.arange(8)[:, None]
    v = np.arange(8)[None, :]
    return (2 + (u + v) // 2).astype(np.float64)  # mild: keeps PSNR > 40 dB


def _blocks(ch: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = ch.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    pad = np.zeros((ph, pw), dtype=np.float64)
    pad[:h, :w] = ch
    if ph > h:
        pad[h:, :w] = ch[-1:, :]
    if pw > w:
        pad[:, w:] = pad[:, w - 1 : w]
    b = pad.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return b, ph, pw


def _unblocks(b: np.ndarray, ph: int, pw: int, h: int, w: int) -> np.ndarray:
    out = (
        b.reshape(ph // 8, pw // 8, 8, 8).transpose(0, 2, 1, 3).reshape(ph, pw)
    )
    return out[:h, :w]


def encode_qdct(px: np.ndarray) -> bytes:
    global _D8
    if _D8 is None:
        _D8 = _dct_matrix(8)
    h, w = px.shape[:2]
    q = _quant_table()
    chans = []
    for c in range(3):
        b, ph, pw = _blocks(px[:, :, c].astype(np.float64) - 128.0)
        coef = np.einsum("ij,njk,lk->nil", _D8, b, _D8)
        qc = np.round(coef / q).astype(np.int16)
        chans.append(qc.tobytes())
    payload = zlib.compress(b"".join(chans), 6)
    return _QDCT_MAGIC + struct.pack(">HH", w, h) + payload


def decode_qdct(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    global _D8
    if _D8 is None:
        _D8 = _dct_matrix(8)
    if not data.startswith(_QDCT_MAGIC):
        raise ValueError("not QDCT")
    w, h = struct.unpack(">HH", data[4:8])
    raw = zlib.decompress(data[8:])
    q = _quant_table()
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    nb = (ph // 8) * (pw // 8)
    out = np.empty((h, w, 3), dtype=np.uint8)
    per = nb * 64 * 2
    for c in range(3):
        qc = np.frombuffer(raw[c * per : (c + 1) * per], dtype=np.int16).reshape(
            nb, 8, 8
        )
        coef = qc.astype(np.float64) * q
        b = np.einsum("ji,njk,kl->nil", _D8, coef, _D8)
        ch = np.clip(np.round(_unblocks(b, ph, pw, h, w) + 128.0), 0, 255)
        out[:, :, c] = ch.astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

LOSSLESS = {"raw", "ppm", "png"}
_ENCODERS = {"raw": encode_raw, "ppm": encode_ppm, "png": encode_png, "qdct": encode_qdct}


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    """Encoders (and phash64) must not mutate `px`: roundtrip checks reuse
    the encoded array as their reference (test-pinned in test_codecs)."""
    return _ENCODERS[fmt](px)


def decode_image(data: bytes, fmt: str, w: int = 0, h: int = 0) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(data, w, h)
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "png":
        return decode_png(data)
    if fmt == "qdct":
        return decode_qdct(data)
    raise ValueError(f"unknown fmt {fmt!r}")


# ---------------------------------------------------------------------------
# pHash / PSNR
# ---------------------------------------------------------------------------

_D32 = None


def phash64(px: np.ndarray) -> int:
    """64-bit DCT perceptual hash: nearest-resample to 32×32 gray, 2-D DCT,
    top-left 8×8 minus DC, median threshold. Matches the `phash` column the
    fixture generator writes (generator uses this same function)."""
    global _D32
    if _D32 is None:
        _D32 = _dct_matrix(32)
    h, w = px.shape[:2]
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    # area-average resize to 32×32 (box filter — stable under mild loss,
    # unlike nearest sampling which aliases high-frequency content)
    ry = -(-32 // h)  # upsample factor so rows >= 32
    rx = -(-32 // w)
    g = np.repeat(np.repeat(gray, ry, axis=0), rx, axis=1)
    hh, ww = g.shape
    ys = (np.arange(32) * hh // 32).astype(np.int64)
    xs = (np.arange(32) * ww // 32).astype(np.int64)
    rows = np.add.reduceat(g, ys, axis=0)
    g32 = np.add.reduceat(rows, xs, axis=1)
    cy = np.diff(np.append(ys, hh)).astype(np.float64)
    cx = np.diff(np.append(xs, ww)).astype(np.float64)
    g32 = g32 / cy[:, None] / cx[None, :]
    coef = _D32 @ g32 @ _D32.T
    block = coef[:8, :8].ravel()[1:]  # drop DC
    med = np.median(block)
    bits = block > med
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # map to signed int64 (the column is int64)
    return val - (1 << 63) if val >= (1 << 63) else val


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def procedural_image(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic image i: gradient + checker + per-i phase
    (FIXTURES.md §1). Natural-ish low-frequency content so qdct's ≥40 dB
    invariant is representative."""
    yy = np.arange(h)[:, None] / max(h, 1)
    xx = np.arange(w)[None, :] / max(w, 1)
    # smooth 2-D blobs with i-keyed frequencies/phases: fills the low-freq
    # DCT spectrum so pHash medians are well separated (stable hashes)
    def blob(k):
        fx = 1 + (i * 7 + k * 3) % 4
        fy = 1 + (i * 5 + k * 2) % 4
        ph1 = (i * 2.39996 + k) % (2 * np.pi)
        ph2 = (i * 1.61803 + 2 * k) % (2 * np.pi)
        return np.sin(2 * np.pi * fx * xx + ph1) * np.sin(2 * np.pi * fy * yy + ph2)

    # seeded smooth random field (8×8 control points, bilinear upsample):
    # gives every low-frequency DCT bin distinct energy → stable pHash
    rng = np.random.default_rng(10_000 + i)
    ctrl = rng.uniform(-1.0, 1.0, (9, 9))
    fy = yy[:, 0] * 8
    fx = xx[0, :] * 8
    y0 = np.floor(fy).astype(int).clip(0, 7)
    x0 = np.floor(fx).astype(int).clip(0, 7)
    ty = (fy - y0)[:, None]
    tx = (fx - x0)[None, :]
    field = (
        ctrl[np.ix_(y0, x0)] * (1 - ty) * (1 - tx)
        + ctrl[np.ix_(y0 + 1, x0)] * ty * (1 - tx)
        + ctrl[np.ix_(y0, x0 + 1)] * (1 - ty) * tx
        + ctrl[np.ix_(y0 + 1, x0 + 1)] * ty * tx
    )

    base = 128 + 55 * field + 30 * blob(0) + 20 * blob(1) + 14 * blob(2)
    r = base + 40 * xx
    g = base + 40 * yy
    checker = ((np.arange(w)[None, :] // 4 + np.arange(h)[:, None] // 4 + i) % 2) * 20
    b = base * 0.7 + checker
    px = np.stack(
        [np.broadcast_to(r, (h, w)), np.broadcast_to(g, (h, w)), np.broadcast_to(b, (h, w))],
        axis=2,
    )
    return np.clip(np.round(px), 0, 255).astype(np.uint8)

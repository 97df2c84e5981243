"""Image payload codec — pure numpy + zlib, no external image libraries.

The container has no PIL/ffmpeg/pdqhash, so this module provides a REAL,
deterministic codec instead of a stub:

* ``png``  — a genuine, spec-conformant PNG encoder/decoder (8-bit RGB,
  filter 0). Any standard viewer can open the bytes; round-trip is lossless.
* ``jpeg`` — a deterministic *lossy stand-in*: channel quantization (step 4)
  followed by PNG framing under a ``QJPG`` magic. Decoded pixels differ from
  the source by at most ±2/channel => PSNR ≈ 47 dB, satisfying the
  BASELINE.json input_hint invariant (PSNR >= 40 dB for lossy formats) with a
  real decode path and a real fidelity measurement — not a faked number.

Perceptual hash: 64-bit dHash over an 9x8 area-mean downsample, stored in the
``phash:int64`` column (BASELINE.json input_hint). The reference computes a
256-bit PDQ (modules/pdq_hash_enricher/pdq_hash_enricher.py:48-62); per
SURVEY.md §2.8 F3 we keep an int64 key for partitioning/dedup and would carry
the full PDQ hex in media props when the pdqhash lib is present (it is not —
gated behind an import-try in enrich.py).

Everything is vectorized numpy — these functions run inside Arrow-batched
pandas UDFs (mapInPandas), never per-row Python at the Spark layer.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QJPG_MAGIC = b"QJPG"
_LOSSY_STEP = 4  # quantization step => max per-channel error 2 => PSNR ~47dB


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a standard RGB PNG."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("png_encode expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # filter byte 0 prepended to every scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    # level 1: the fetch UDF is compute-bound on this call; PNG stays
    # spec-conformant and deterministic, ~4x faster for ~15% larger output
    idat = zlib.compress(raw.tobytes(), 1)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG produced by ``png_encode`` (8-bit RGB, filters 0/1/2)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, w, h, idat = len(_PNG_SIG), 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    filters = raw[:, 0]
    if np.any(filters > 2):
        raise ValueError("unsupported PNG filter")
    if not filters.any():  # our encoder's output: filter 0 everywhere, zero-copy path
        return raw[:, 1:].reshape(h, w, 3).copy()
    out = raw[:, 1:].astype(np.int64).reshape(h, w, 3)
    for y in range(h):  # h is small (<=512); unfiltering is row-sequential by spec
        f = filters[y]
        if f == 1:  # Sub
            out[y] = np.cumsum(out[y], axis=0) % 256
        elif f == 2:  # Up
            out[y] = (out[y] + out[y - 1]) % 256 if y else out[y]
    return out.astype(np.uint8)


def lossy_encode(pixels: np.ndarray) -> bytes:
    """Deterministic lossy stand-in codec (see module doc)."""
    q = ((pixels.astype(np.int16) + _LOSSY_STEP // 2) // _LOSSY_STEP * _LOSSY_STEP).clip(0, 255)
    return _QJPG_MAGIC + png_encode(q.astype(np.uint8))


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt in ("jpeg", "jpg"):
        return lossy_encode(pixels)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    """Decode either container to (h, w, 3) uint8 pixels."""
    if data.startswith(_QJPG_MAGIC):
        return png_decode(data[len(_QJPG_MAGIC) :])
    return png_decode(data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def _band_edges(length: int, n: int) -> np.ndarray:
    """np.array_split boundaries: first length%n bands get one extra element."""
    base, extra = divmod(length, n)
    sizes = np.full(n, base, dtype=np.int64)
    sizes[:extra] += 1
    return np.concatenate(([0], np.cumsum(sizes)))


def _area_mean_resize(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-mean downsample (near-equal bands, array_split
    semantics) — fully vectorized via prefix sums, no per-cell Python."""
    h, w = gray.shape
    ye, xe = _band_edges(h, out_h), _band_edges(w, out_w)
    # 2D prefix sums with a zero border: band sum = S[y1,x1]-S[y0,x1]-S[y1,x0]+S[y0,x0]
    s = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(np.cumsum(gray, axis=0), axis=1, out=s[1:, 1:])
    sums = s[np.ix_(ye, xe)]
    block = sums[1:, 1:] - sums[:-1, 1:] - sums[1:, :-1] + sums[:-1, :-1]
    areas = np.outer(np.diff(ye), np.diff(xe))
    return block / areas


_GRAY_COEF = np.array([0.299, 0.587, 0.114])


def rgb_gray(pixels: np.ndarray) -> np.ndarray:
    """REC.601 luminance (float64) — shared by dhash64 and pdq256 so a
    caller computing both hashes of one image pays the (h*w*3) matmul once
    (identical expression, bit-identical result)."""
    return pixels.astype(np.float64) @ _GRAY_COEF


def dhash64(pixels: np.ndarray, gray: np.ndarray | None = None) -> int:
    """64-bit difference hash (perceptual): 9x8 grayscale, adjacent-column compare.

    Signed int64 (two's complement) so it fits the ``phash:int64`` schema and
    Spark's LongType directly. ``gray`` short-circuits the luminance matmul
    when the caller already has ``rgb_gray(pixels)``.
    """
    if gray is None:
        gray = rgb_gray(pixels)
    cells = _area_mean_resize(gray, 8, 9)
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()  # 8x8 = 64 bits
    # packbits(bitorder='big') + big-endian int == the old MSB-first shift
    # loop, bit for bit
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# ---- PDQ-256 (spec-following, pure numpy) -----------------------------------------

_PDQ_DCT: np.ndarray | None = None


# (n, wsz) -> (lo, hi, norm): index arrays are pure functions of the window
# geometry; caching them avoids three arange/clip allocations per box pass
# (4 passes per image in the fetch UDF). Bounded, because image sizes come
# from fetched payloads. Callers only read the arrays.
@functools.lru_cache(maxsize=256)
def _box_idx(n: int, wsz: int):
    idx = np.arange(n)
    lo = np.maximum(0, idx - (wsz - 1) // 2)
    hi = np.minimum(n, idx + wsz // 2 + 1)
    return lo, hi, (hi - lo)


def _box1d(a: np.ndarray, wsz: int, axis: int) -> np.ndarray:
    """Centered box-mean with truncated edges along ``axis`` (the published
    PDQ box1D semantics: out[i] = mean(in[i-(w-1)//2 : i+w//2+1] ∩ bounds),
    edge windows normalized by their actual size), via one cumsum."""
    if wsz <= 1:
        return a
    a = np.moveaxis(a, axis, 0)
    n = a.shape[0]
    lo, hi, norm = _box_idx(n, wsz)
    c = np.empty((n + 1, *a.shape[1:]))
    c[0] = 0.0
    np.cumsum(a, axis=0, out=c[1:])
    out = (c[hi] - c[lo]) / norm.reshape(-1, *([1] * (a.ndim - 1)))
    return np.moveaxis(out, 0, axis)


def _jarosz_downsample_64(gray: np.ndarray) -> np.ndarray:
    """The published PDQ downsample: two passes of (horizontal box, vertical
    box) with window ``ceil(dim/128)`` per dimension — two box passes = the
    Jarosz tent filter — then POINT decimation at ``(i+0.5)*dim/64``
    (pdq/cpp/hashing/pdqhashing.cpp jaroszFilterFloat + decimateFloat)."""
    h, w = gray.shape
    win_rows = (w + 127) // 128  # window for the horizontal pass
    win_cols = (h + 127) // 128  # window for the vertical pass
    buf = gray.astype(np.float64)
    for _ in range(2):
        buf = _box1d(buf, win_rows, axis=1)
        buf = _box1d(buf, win_cols, axis=0)
    ri = ((np.arange(64) + 0.5) * h / 64).astype(np.int64)
    ci = ((np.arange(64) + 0.5) * w / 64).astype(np.int64)
    return buf[np.ix_(ri, ci)]


def _pdq_dct_matrix() -> np.ndarray:
    """16x64 DCT-II basis over output frequencies 1..16 — PDQ keeps the 16x16
    low-frequency block EXCLUDING the DC row/column (the published PDQ spec,
    Facebook ThreatExchange 'TMK+PDQF' paper §PDQ)."""
    global _PDQ_DCT
    if _PDQ_DCT is None:
        i = np.arange(1, 17, dtype=np.float64)[:, None]
        n = np.arange(64, dtype=np.float64)[None, :]
        _PDQ_DCT = np.sqrt(2.0 / 64.0) * np.cos((np.pi / (2.0 * 64.0)) * i * (2.0 * n + 1.0))
    return _PDQ_DCT


def pdq256(pixels: np.ndarray, gray: np.ndarray | None = None) -> tuple[str, int]:
    """256-bit PDQ-style perceptual hash + quality, following the published
    algorithm (reference consumes it via the pdqhash lib,
    modules/pdq_hash_enricher/pdq_hash_enricher.py:48-62):

      luminance (REC.601) -> two-pass Jarosz box filter (window
      ceil(dim/128) per dimension) -> point decimation to 64x64 -> 16x16
      DCT-II block at frequencies 1..16 -> median threshold -> 256 bits
      (row-major, MSB-first); quality = the published gradient heuristic
      (sum of |Δ|·100/255 over both directions of the 64x64 buffer, /90,
      capped at 100).

    Filter, decimation, DCT, median and quality all follow the published
    pdq/cpp implementation (ThreatExchange pdqhashing.cpp). Declared
    residual (no pdqhash lib and no network in-sandbox, so bit parity is
    unverifiable here): bit-packing order and float edge-cases vs the C
    code are property-tested, not golden-pinned — pin goldens out-of-band
    where pdqhash installs. Returns (64-char hex, quality 0..100).
    """
    if gray is None:
        gray = rgb_gray(pixels)
    buf = _jarosz_downsample_64(gray)
    m = _pdq_dct_matrix()
    d = m @ buf @ m.T  # 16x16
    med = np.median(d)
    bits = (d > med).ravel()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    # published quality heuristic: truncated-int gradient sum / 90, cap 100
    gx = np.trunc(np.abs(np.diff(buf, axis=1)) * 100.0 / 255.0).sum()
    gy = np.trunc(np.abs(np.diff(buf, axis=0)) * 100.0 / 255.0).sum()
    quality = int(min(100, (gx + gy) // 90))
    return f"{val:064x}", quality


def hamming256(hex_a: str, hex_b: str) -> int:
    return bin(int(hex_a, 16) ^ int(hex_b, 16)).count("1")


def thumbnail(pixels: np.ndarray, max_side: int = 64) -> np.ndarray:
    """Thumbnail via area-mean resize, preserving aspect (F4 analog:
    reference thumbnail_enricher.py:53-73 uses ffmpeg scale 512:-1)."""
    h, w = pixels.shape[:2]
    scale = max_side / max(h, w)
    if scale >= 1.0:
        return pixels
    out_h, out_w = max(1, round(h * scale)), max(1, round(w * scale))
    # one 3-channel prefix-sum pass instead of three single-channel passes
    # (r8, guide §4.2): every sum is integer-exact in float64 (uint8 inputs,
    # totals << 2^53), so fusing the channels is bit-identical to the old
    # per-channel loop while touching the image once
    ye, xe = _band_edges(h, out_h), _band_edges(w, out_w)
    s = np.zeros((h + 1, w + 1, 3), dtype=np.float64)
    np.cumsum(np.cumsum(pixels, axis=0, dtype=np.float64), axis=1, out=s[1:, 1:])
    sums = s[np.ix_(ye, xe)]
    block = sums[1:, 1:] - sums[:-1, 1:] - sums[1:, :-1] + sums[:-1, :-1]
    areas = np.outer(np.diff(ye), np.diff(xe))[..., None]
    return np.round(block / areas).clip(0, 255).astype(np.uint8)

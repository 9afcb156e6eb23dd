"""Minimal pure-Python PNG codec — stdlib zlib + numpy only.

Vendored so the multimodal operators have a REAL decode path in
environments without Pillow (this container): supports the common
core of the format — 8-bit depth, grayscale / RGB / RGBA color
types, non-interlaced, all five scanline filters on decode (encode
always writes filter 0). Anything else raises ValueError with the
unsupported field named.

This is deliberately a *codec*, not an imaging library: decode to an
(h, w, c) uint8 array, encode back. Resizing/hashing over the arrays
is plain numpy in operators/multimodal.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, channels) uint8 array."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("not a PNG: missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if color not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color}")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    c = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left pixel
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - c] if i >= c else 0
                b = prev[i]
                cc = prev[i - c] if i >= c else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, c)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def encode_png(img: np.ndarray) -> bytes:
    """(h, w) or (h, w, c) uint8 array → PNG bytes (filter 0)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 3: 2, 4: 6}.get(c)
    if color is None:
        raise ValueError(f"unsupported channel count {c}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter 0
        raw.extend(img[y].tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def decode_image_bytes(data: bytes) -> np.ndarray:
    """Container-sniffing decode: PNG (this module), baseline JPEG
    (operators/jpegcodec.py, vendored from the public T.81 spec), or
    GIF (operators/gifcodec.py, GIF89a spec). Anything else raises
    with the supported formats named."""
    if data[:8] == _SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from citus_spark.operators.jpegcodec import decode_jpeg

        return decode_jpeg(data)
    if data[:4] == b"GIF8":
        from citus_spark.operators.gifcodec import decode_gif

        return decode_gif(data)
    raise ValueError(
        "unrecognized image container (PNG, baseline JPEG, and GIF "
        "supported)"
    )


def to_gray(img: np.ndarray) -> np.ndarray:
    """(h, w, c) uint8 → (h, w) float64 luma (ITU-R 601)."""
    if img.shape[2] == 1:
        return img[:, :, 0].astype(np.float64)
    rgb = img[:, :, :3].astype(np.float64)
    return rgb @ np.array([0.299, 0.587, 0.114])


def block_means_8x8(gray: np.ndarray) -> np.ndarray:
    """(h, w) → 64 cell means on the 8×8 grid (aHash downsample)."""
    h, w = gray.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    out = np.empty(64)
    for i in range(8):
        for j in range(8):
            cell = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                        xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i * 8 + j] = cell.mean() if cell.size else 0.0
    return out

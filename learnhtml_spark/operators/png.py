"""PNG codec (decode + stored-block encode) in python/numpy — closes the
round-5 multimodal stub seam for PNG: the PNG container (chunk CRCs),
the zlib wrapper (RFC 1950 header and adler32 checks) and the scanline
unfiltering (RFC 2083 filters 0-4 incl. Paeth) are implemented here; the
raw DEFLATE stream (RFC 1951) is inflated by the stdlib ``zlib`` module,
which also supplies CRC32 and adler32.

Scope: 8-bit samples, color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA), non-interlaced — i.e. what PNG encoders emit
by default for photographic/synthetic content.  16-bit and Adam7 raise
with a clear message (they remain the one documented seam).

The encoder writes stored (uncompressed) DEFLATE blocks, so synthesized
payloads are byte-stable across zlib builds.

Tests: tests/test_png.py — inverse-encode (stored blocks), stdlib-zlib
streams (fixed via Z_FIXED, dynamic via default strategy), filter
coverage, and corrupt-stream failure modes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def zlib_decompress(data: bytes) -> bytes:
    """RFC 1950 stream -> bytes: header checks here, raw DEFLATE by stdlib
    ``zlib``, adler32 verified here so a bad checksum names itself."""
    if len(data) < 6:
        raise ValueError("zlib: stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib: not deflate")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("zlib: bad header check")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionary unsupported")
    try:
        raw = zlib.decompress(data[2:-4], -15)
    except zlib.error as e:
        raise ValueError(f"inflate: {e}") from None
    want = struct.unpack(">I", data[-4:])[0]
    if zlib.adler32(raw) != want:
        raise ValueError("zlib: adler32 mismatch")
    return raw


def zlib_compress_stored(data: bytes) -> bytes:
    """Minimal RFC 1950 stream of stored (uncompressed) DEFLATE blocks —
    the exact-inverse encoder used by ``encode_png``."""
    out = bytearray(b"\x78\x01")
    n = len(data)
    i = 0
    while True:
        chunk = data[i: i + 0xFFFF]
        i += len(chunk)
        final = 1 if i >= n else 0
        out.append(final)  # BFINAL + BTYPE=00, byte-aligned by design
        out += struct.pack("<HH", len(chunk), len(chunk) ^ 0xFFFF)
        out += chunk
        if final:
            break
    out += struct.pack(">I", zlib.adler32(data))
    return bytes(out)


_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB (alpha dropped, gray broadcast,
    palette expanded).  8-bit, non-interlaced; see module docstring."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        size, ctype = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8: pos + 8 + size]
        if len(body) != size:
            raise ValueError("PNG: truncated chunk")
        want = struct.unpack_from(">I", payload, pos + 8 + size)[0]
        if zlib.crc32(payload[pos + 4: pos + 8 + size]) != want:
            raise ValueError("PNG: chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("PNG: missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"PNG: only 8-bit supported (depth={depth})")
    if comp != 0 or filt != 0:
        raise ValueError("PNG: unknown compression/filter method")
    if interlace != 0:
        raise ValueError("PNG: Adam7 interlacing unsupported")
    if ctype_n not in _CHANNELS:
        raise ValueError(f"PNG: unsupported color type {ctype_n}")
    ch = _CHANNELS[ctype_n]
    raw = zlib_decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG: decompressed size mismatch")
    lines = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    img = np.zeros((h, stride), np.int64)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        ftype = lines[y, 0]
        cur = lines[y, 1:].astype(np.int64)
        if ftype == 0:
            row = cur
        elif ftype == 1:  # Sub — sequential in pixel units
            row = cur.copy()
            for x in range(ch, stride):
                row[x] = (row[x] + row[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            row = (cur + prev) & 0xFF
        elif ftype == 3:  # Average
            row = cur.copy()
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            row = cur.copy()
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[x] = (row[x] + pr) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        img[y] = row
        prev = row
    px = img.astype(np.uint8).reshape(h, w, ch)
    if ctype_n == 0:
        return np.repeat(px, 3, axis=2)
    if ctype_n == 2:
        return px
    if ctype_n == 3:
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        return plte[px[:, :, 0]]
    if ctype_n == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # 6: RGBA -> RGB


def encode_png(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG with filter-0 scanlines and stored
    DEFLATE blocks — byte-exact inverse of ``decode_png`` (tested)."""
    if px.ndim != 3 or px.shape[2] != 3 or px.dtype != np.uint8:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    h, w = px.shape[:2]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), px.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib_compress_stored(raw))
        + chunk(b"IEND", b"")
    )

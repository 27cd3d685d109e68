"""PNG codec (operators/png.py): the zlib wrapper must decode stored,
fixed-Huffman and dynamic-Huffman streams produced by a real compressor
and accept none with a bad checksum; the PNG container must round-trip
through the stored-block encoder and decode every filter type and color
type; corrupt streams must fail loudly, and the decode must surface as
an auditable error row (never a task failure) through media_features.

No Spark needed except the last test — the codec is plain numpy.
"""

import struct
import zlib

import numpy as np
import pytest

from learnhtml_spark.operators.png import (
    decode_png,
    encode_png,
    zlib_compress_stored,
    zlib_decompress,
)

RNG = np.random.RandomState(1234)


def _sample_data():
    # mix of repetitive (LZ77 matches) and incompressible bytes
    return (b"spark shuffle " * 400) + RNG.bytes(2048) + (b"abcabcabd" * 300)


def test_inflate_dynamic_fixed_stored_vs_zlib_oracle():
    data = _sample_data()
    for name, obj in [
        ("dynamic", zlib.compressobj(9)),
        ("fixed", zlib.compressobj(6, zlib.DEFLATED, 15, 8, zlib.Z_FIXED)),
        ("stored", zlib.compressobj(0)),
    ]:
        comp = obj.compress(data) + obj.flush()
        assert zlib_decompress(comp) == data, name


def test_zlib_compress_stored_roundtrip_and_oracle():
    # > 64 KiB forces multiple stored blocks
    data = RNG.bytes(150_000)
    comp = zlib_compress_stored(data)
    assert zlib_decompress(comp) == data
    assert zlib.decompress(comp) == data  # stdlib accepts our stream too


def test_png_encode_decode_inverse():
    px = RNG.randint(0, 256, (37, 23, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)


def _make_png(px, ctype, filters, plte=None):
    """Independent reference PNG writer: stdlib zlib compression, every
    filter type implemented forward (the decoder must invert them)."""
    h, w = px.shape[:2]
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    flat = px.reshape(h, w * ch)
    rows, prev = [], np.zeros(w * ch, np.int64)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y].astype(np.int64)
        enc = cur.copy()
        if f == 1:
            for x in range(w * ch - 1, ch - 1, -1):
                enc[x] = (cur[x] - cur[x - ch]) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            for x in range(w * ch):
                left = cur[x - ch] if x >= ch else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        elif f == 4:
            for x in range(w * ch):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pr) % 256
        rows.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = cur
    raw = b"".join(rows)

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw, 9)) + chunk(b"IEND", b"")


def test_png_all_filters_rgb():
    px = RNG.randint(0, 256, (16, 9, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert np.array_equal(decode_png(_make_png(px, 2, filters)), px)


def test_png_color_types():
    g = RNG.randint(0, 256, (11, 7, 1), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_make_png(g, 0, [4])), np.repeat(g, 3, 2)
    )
    pal = RNG.randint(0, 256, (5, 3), dtype=np.uint8)
    idx = RNG.randint(0, 5, (9, 6, 1), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_make_png(idx, 3, [0], plte=pal)), pal[idx[:, :, 0]]
    )
    rgba = RNG.randint(0, 256, (8, 8, 4), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_make_png(rgba, 6, [2, 4])), rgba[:, :, :3]
    )
    ga = RNG.randint(0, 256, (6, 5, 2), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_make_png(ga, 4, [1])), np.repeat(ga[:, :, :1], 3, 2)
    )


def test_png_corrupt_streams_fail_loudly():
    px = RNG.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    good = encode_png(px)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK" + good)
    # flip a pixel byte inside IDAT -> chunk CRC catches it
    bad = bytearray(good)
    bad[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="adler32"):
        # valid chunk CRCs but corrupted inflate payload checksum
        raw = np.concatenate(
            [np.zeros((8, 1), np.uint8), px.reshape(8, 24)], axis=1
        ).tobytes()
        comp = bytearray(zlib_compress_stored(raw))
        comp[-1] ^= 0xFF

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", bytes(comp))
            + chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="16-bit|only 8-bit"):
        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 16, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\0" * 100))
            + chunk(b"IEND", b"")
        )


def test_media_features_decodes_png_and_isolates_poison(spark):
    """End-to-end through the Arrow-batched operator: a real PNG payload
    decodes (decoder='png'), a truncated one lands as an error ROW."""
    from learnhtml_spark.operators.multimodal import media_features

    px = RNG.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    good = encode_png(px)
    rows = [
        ("media://img/ok.png", bytearray(good)),
        ("media://img/poison.png", bytearray(good[:40])),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    out = {r["media_ref"]: r
           for r in media_features(df, deterministic_fake=False).collect()}
    ok = out["media://img/ok.png"]
    assert (ok["decoder"], ok["width"], ok["height"]) == ("png", 8, 8)
    assert ok["error"] is None and len(ok["thumbnail"]) == 64
    bad = out["media://img/poison.png"]
    assert bad["decoder"] == "error" and bad["width"] == -1
    assert bad["error"] is not None

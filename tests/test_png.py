"""PNG codec (functions/png.py) — lossless round trips, all five
scanline filters against an independent forward-filter reference,
indexed/alpha color types, the stored-block analytic size the
container_media oracle pins, and containment."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pydoxtools_spark.functions.media import MediaDecodeError
from pydoxtools_spark.functions.png import build_png, parse_png


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def _png(w, h, ctype, raw, plte=None):
    out = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
    if plte is not None:
        out += _chunk(b"PLTE", plte.tobytes())
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def test_lossless_round_trips():
    rng = np.random.default_rng(3)
    for shape in ((1, 1), (7, 5), (13, 17, 3), (32, 32, 3)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        w, h, px = parse_png(build_png(img))
        want = img if img.ndim == 3 else np.stack([img] * 3, -1)
        assert (w, h) == (shape[1], shape[0])
        assert np.array_equal(px, want), shape


def test_stored_block_size_is_analytic():
    """compress_level=0: len(png) == 68 + h*(3w+1) — the closed form
    the container_media driver oracle states in SQL."""
    for w, h in ((4, 3), (8, 5), (1, 1), (20, 7)):
        px = np.full((h, w, 3), (7, 100, 50), np.uint8)
        data = build_png(px, compress_level=0)
        assert len(data) == 68 + h * (3 * w + 1)
        _w, _h, out = parse_png(data)
        assert np.array_equal(out, px)


def test_all_five_filters_decode_exactly():
    """Hand-built file whose rows use None/Sub/Up/Average/Paeth,
    forward-filtered by an independent reference implementation."""

    def fwd(img, ftypes):
        h, w, c = img.shape
        flat = img.reshape(h, w * c).astype(np.int32)
        out = bytearray()
        prior = np.zeros(w * c, np.int32)
        for y, ft in zip(range(h), ftypes):
            cur = flat[y]
            if ft == 0:
                enc = cur
            elif ft == 1:
                enc = cur.copy()
                for x in range(w * c - 1, c - 1, -1):
                    enc[x] = (enc[x] - cur[x - c]) & 0xFF
            elif ft == 2:
                enc = (cur - prior) & 0xFF
            elif ft == 3:
                enc = cur.copy()
                for x in range(w * c - 1, -1, -1):
                    left = cur[x - c] if x >= c else 0
                    enc[x] = (enc[x] - ((left + prior[x]) >> 1)) & 0xFF
            else:
                enc = cur.copy()
                for x in range(w * c - 1, -1, -1):
                    a = cur[x - c] if x >= c else 0
                    b = prior[x]
                    cc = prior[x - c] if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = (a if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else cc))
                    enc[x] = (enc[x] - pred) & 0xFF
            out.append(ft)
            out += bytes(enc.astype(np.uint8))
            prior = cur
        return bytes(out)

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    raw = fwd(img, [0, 1, 2, 3, 4, 4, 3, 2, 1])
    w, h, px = parse_png(_png(11, 9, 2, raw))
    assert np.array_equal(px, img)


def test_alpha_composites_over_white_and_palette_resolves():
    rgba = np.zeros((4, 4, 4), np.uint8)
    rgba[..., :3] = 200
    rgba[..., 3] = 128
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    _w, _h, px = parse_png(_png(4, 4, 6, raw))
    # (200*128 + 255*127 + 127) // 255 = 227, integer-exact
    assert np.array_equal(np.unique(px), [227])

    ga = np.zeros((2, 3, 2), np.uint8)
    ga[..., 0] = 100
    ga[..., 1] = 0          # fully transparent -> white
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(2))
    _w, _h, px = parse_png(_png(3, 2, 4, raw))
    assert np.array_equal(np.unique(px), [255])

    pal = np.array([[250, 0, 0], [0, 250, 0]], np.uint8)
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    _w, _h, px = parse_png(_png(2, 2, 3, raw, plte=pal))
    assert tuple(px[0, 0]) == (250, 0, 0) and tuple(px[0, 1]) == (0, 250, 0)


def test_containment():
    img = np.full((6, 6, 3), 90, np.uint8)
    good = build_png(img)
    with pytest.raises(MediaDecodeError, match="signature"):
        parse_png(b"\xff\xd8not png")
    with pytest.raises(MediaDecodeError):
        parse_png(good[:30])                       # truncated chunk
    bad = bytearray(good)
    bad[20] ^= 0xFF                                # corrupt IHDR byte
    with pytest.raises(MediaDecodeError, match="CRC"):
        parse_png(bytes(bad))
    # interlaced: explicit plug-point error
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 52))
            + _chunk(b"IEND", b""))
    with pytest.raises(MediaDecodeError, match="interlace"):
        parse_png(data)


def test_idat_padding_bomb_inflates_only_the_scanlines():
    """A 1x1 PNG whose IDAT stream continues with 256 MiB of deflated
    zeros decodes to its one pixel: only the h*(w*nch+1) bytes the IHDR
    asks for are inflated."""
    import tracemalloc

    c = zlib.compressobj(9)
    idat = c.compress(b"\x00" + bytes((10, 20, 30)))
    zeros = bytes(1 << 20)
    for _ in range(256):
        idat += c.compress(zeros)
    idat += c.flush()
    data = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
            + _chunk(b"IDAT", idat) + _chunk(b"IEND", b""))
    tracemalloc.start()
    try:
        w, h, px = parse_png(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert (w, h) == (1, 1)
    assert tuple(px[0, 0]) == (10, 20, 30)
    assert peak < 16 * 1024 * 1024


def test_media_features_decodes_png_blobs(spark):
    from pydoxtools_spark.operators.multimodal import media_features

    img = np.full((5, 8, 3), (40, 90, 200), np.uint8)
    rows = [("p1", "image", bytearray(build_png(img)), None)]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "meta map<string,string>")
    (r,) = media_features(media).collect()
    assert (r["width"], r["height"]) == (8, 5)
    assert r["mean_level"] == (299 * 40 + 587 * 90 + 114 * 200) // 1000
    assert r["decode_error"] is None

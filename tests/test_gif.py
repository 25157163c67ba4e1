"""GIF codec (functions/gif.py): LZW width-schedule round-trips,
interlace, palettes, and the media_features kernel path.

Reference behavior: pydoxtools decodes GIFs through PIL's plugin;
this engine ships the writer/reader pair itself.  GIF LZW is LSB-
first with a per-code width counter — the dictionary-growth tests
push the code width through every bump from mcs+1 up to 12, the part
a shared-table round-trip would NOT catch if the two sides' bit
schedules diverged (unlike the byte-aligned codecs, a width mismatch
desynchronizes everything after the first bump)."""
import numpy as np
import pytest

from pydoxtools_spark.functions.gif import (
    build_gif,
    gif_lzw_decode,
    gif_lzw_encode,
    parse_gif,
)
from pydoxtools_spark.functions.media import MediaDecodeError


def test_lzw_width_bumps_through_12_bits():
    # high-entropy bytes over a 256-color alphabet: the dictionary
    # blows straight past 4096 -> every width 9..12 is exercised and
    # the frozen-table ("deferred clear") regime at the end
    rng = np.random.default_rng(0)
    raw = bytes(rng.integers(0, 256, 20000, dtype=np.uint8))
    enc = gif_lzw_encode(raw, 8)
    assert gif_lzw_decode(enc, 8, len(raw)) == raw
    # tiny alphabet: width starts at 3 and climbs slowly
    raw = bytes(rng.integers(0, 4, 5000, dtype=np.uint8))
    assert gif_lzw_decode(gif_lzw_encode(raw, 2), 2, len(raw)) == raw
    # KwKwK pattern and single pixel
    assert gif_lzw_decode(gif_lzw_encode(b"\x01" * 50, 2), 2, 50) == b"\x01" * 50
    assert gif_lzw_decode(gif_lzw_encode(b"\x03", 2), 2, 1) == b"\x03"


def test_lzw_malformed_contained():
    with pytest.raises(MediaDecodeError):
        gif_lzw_decode(b"\x00", 2, 100)  # truncated
    with pytest.raises(MediaDecodeError):
        gif_lzw_decode(b"\xff\xff\xff\xff", 2, 4)  # code from the future
    with pytest.raises(MediaDecodeError):
        gif_lzw_decode(b"", 1, 1)  # mcs out of range


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip(interlace):
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, (11, 9), dtype=np.uint8)
    data = build_gif(idx, pal, interlace=interlace)
    w, h, px = parse_gif(data)
    assert (w, h) == (9, 11)
    np.testing.assert_array_equal(px, pal[idx])


def test_gif_palette_edges_and_extension_skip():
    # 1-color palette (depth 1, mcs clamps to 2) and a full 256 one
    one = build_gif(np.zeros((3, 4), np.uint8),
                    np.array([[10, 20, 30]], np.uint8))
    w, h, px = parse_gif(one)
    assert (w, h, px[0, 0].tolist()) == (4, 3, [10, 20, 30])
    pal = np.arange(256 * 3, dtype=np.uint16).reshape(256, 3) % 256
    idx = np.arange(256, dtype=np.uint8).reshape(16, 16)
    w, h, px = parse_gif(build_gif(idx, pal.astype(np.uint8)))
    np.testing.assert_array_equal(px, pal.astype(np.uint8)[idx])
    # a GIF89a graphic-control extension before the descriptor is
    # skipped (real-world animated-gif shape, first frame decodes)
    data = bytearray(build_gif(idx, pal.astype(np.uint8)))
    i = 13 + 3 * 256  # header + LSD + full GCT = descriptor offset
    assert data[i] == 0x2C
    data[i:i] = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    w, h, px2 = parse_gif(bytes(data))
    np.testing.assert_array_equal(px2, px)


def test_gif_frame_larger_than_budget_rejected_before_decode():
    """A 65535x65535 descriptor asks for 12 GiB of RGB pixels: it is
    rejected from the header, before any LZW decode."""
    import struct

    data = bytearray(build_gif(np.zeros((2, 2), np.uint8),
                               np.array([[1, 2, 3], [4, 5, 6]], np.uint8)))
    i = 13 + 3 * 2  # header + LSD + 2-color GCT = descriptor offset
    assert data[i] == 0x2C  # then x, y, w, h
    data[i + 5:i + 9] = struct.pack("<HH", 65535, 65535)
    with pytest.raises(MediaDecodeError, match="65535x65535 exceeds"):
        parse_gif(bytes(data))


def test_gif_contained_failures():
    with pytest.raises(MediaDecodeError, match="not a GIF"):
        parse_gif(b"BM000000")
    good = build_gif(np.zeros((2, 2), np.uint8),
                     np.array([[1, 2, 3]], np.uint8))
    with pytest.raises(MediaDecodeError):
        parse_gif(good[:15])
    with pytest.raises(MediaDecodeError):
        parse_gif(good[:6] + b"\x00" * 7 + b"\x3b")  # no descriptor
    with pytest.raises(ValueError):
        build_gif(np.full((2, 2), 9, np.uint8),
                  np.array([[1, 2, 3]], np.uint8))  # index > palette


def test_media_features_decodes_gif(spark):
    from pydoxtools_spark.operators.multimodal import media_features

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    idx = np.broadcast_to(np.arange(16) % 2, (8, 16)).astype(np.uint8)
    good = build_gif(idx, pal)        # half black/half white -> 127
    rows = [("g1", "image", bytearray(good), None),
            ("g2", "image", bytearray(good[:20]), None)]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "meta map<string,string>")
    out = {r["media_ref"]: r for r in media_features(media).collect()}
    assert out["g1"]["mean_level"] == 127
    assert (out["g1"]["width"], out["g1"]["height"]) == (16, 8)
    assert out["g2"]["decode_error"] is not None


def test_container_embedded_gif_and_tiff_decode(spark):
    """Cross-format property: GIF and TIFF payloads embedded in a docx
    decode through the same container_media_blobs -> media_features
    path as BMP/PNG/JPEG — decode_media dispatches on content magic,
    so new codecs reach every container for free."""
    from pyspark.sql import functions as F

    from pydoxtools_spark.functions.docx import build_tiny_docx
    from pydoxtools_spark.functions.tiff import build_tiff
    from pydoxtools_spark.operators.multimodal import media_features
    from pydoxtools_spark.pipeline import container_media_blobs

    gif = build_gif(np.zeros((3, 5), np.uint8),
                    np.array([[120, 120, 120]], np.uint8))
    tif = build_tiff(np.full((4, 6, 3), 80, np.uint8),
                     compression="packbits")
    docx = build_tiny_docx([
        ("image", "media/a.gif", gif),
        ("text", "body"),
        ("image", "media/b.tif", tif),
    ])
    blobs = spark.createDataFrame([("d://1", bytearray(docx))],
                                  "ref string, content binary")
    feats = media_features(
        container_media_blobs(blobs).filter("error IS NULL").select(
            "media_ref", "media_type", "content",
            F.lit(None).cast("map<string,string>").alias("meta")))
    out = {r["media_ref"].split("#")[1]: r for r in feats.collect()}
    assert out["media/a.gif"]["mean_level"] == 120
    assert (out["media/a.gif"]["width"], out["media/a.gif"]["height"]) == (5, 3)
    assert out["media/b.tif"]["mean_level"] == 80
    assert out["media/b.tif"]["decode_error"] is None

"""TIFF container codec (functions/tiff.py): round-trips across
compressions / byte orders / strip layouts, PackBits vectors, the
closed-form uncompressed sizes the oracle SQL states, and the
contained failure modes.

Reference behavior: pydoxtools accepts TIFF through PIL's plugin (the
Image.open seat); this engine decodes the baseline strip subset
itself, reusing its own CCITT G4 + LZW coders."""
import numpy as np
import pytest

from pydoxtools_spark.functions.media import MediaDecodeError
from pydoxtools_spark.functions.tiff import (
    build_tiff,
    build_tiff_g4,
    packbits_decode,
    packbits_encode,
    parse_tiff,
)


def _rgb(seed: int, h: int, w: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8)


def test_packbits_vectors_and_roundtrip():
    # the TIFF 6.0 spec example string (section: PackBits)
    spec = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    want = bytes.fromhex("AAAAAA80002A" + "AA" * 4 + "80002A22" + "AA" * 10)
    assert packbits_decode(spec) == want
    assert packbits_encode(want) == spec
    for seed in range(5):
        rng = np.random.default_rng(seed)
        raw = bytes(rng.integers(0, 4, 300, dtype=np.uint8))  # runs likely
        assert packbits_decode(packbits_encode(raw)) == raw
    assert packbits_decode(packbits_encode(b"")) == b""
    assert packbits_decode(packbits_encode(b"\x07" * 1000)) == b"\x07" * 1000


@pytest.mark.parametrize("byte_order", ["II", "MM"])
@pytest.mark.parametrize("compression", ["none", "lzw", "packbits"])
def test_rgb_roundtrip(byte_order, compression):
    px = _rgb(42, 9, 13)
    data = build_tiff(px, compression=compression, byte_order=byte_order)
    w, h, out = parse_tiff(data)
    assert (w, h) == (13, 9)
    np.testing.assert_array_equal(out, px)


def test_gray_and_multistrip_and_predictor():
    g = np.arange(7 * 11, dtype=np.uint8).reshape(7, 11)
    exp = np.repeat(g[:, :, None], 3, axis=2)
    for kw in ({}, {"rows_per_strip": 3}, {"byte_order": "MM"},
               {"compression": "lzw", "predictor": 2},
               {"compression": "lzw", "predictor": 2,
                "rows_per_strip": 2}):
        w, h, out = parse_tiff(build_tiff(g, **kw))
        assert (w, h) == (11, 7), kw
        np.testing.assert_array_equal(out, exp)
    # RGB multi-strip with predictor (per-sample differencing)
    px = _rgb(7, 10, 6)
    w, h, out = parse_tiff(build_tiff(px, compression="lzw",
                                      predictor=2, rows_per_strip=4))
    np.testing.assert_array_equal(out, px)


def test_g4_bilevel_roundtrip():
    y, x = np.mgrid[0:10, 0:23]
    ink = (x + y) % 5 < 2
    for kw in ({}, {"rows_per_strip": 4}, {"byte_order": "MM"}):
        data = build_tiff_g4(ink, **kw)
        w, h, out = parse_tiff(data)
        assert (w, h) == (23, 10), kw
        # photometric 0 fax convention: ink = black
        np.testing.assert_array_equal(
            out[:, :, 0], np.where(ink, 0, 255))
        np.testing.assert_array_equal(out[:, :, 0], out[:, :, 2])


def test_closed_form_sizes():
    # the oracle-facing writer contract: RGB 128 + 3wh, gray 122 + wh
    for h, w in [(5, 6), (8, 16), (1, 1)]:
        assert len(build_tiff(_rgb(1, h, w))) == 128 + 3 * w * h
        assert len(build_tiff(np.zeros((h, w), np.uint8))) == 122 + w * h


def test_contained_failures():
    with pytest.raises(MediaDecodeError, match="not a TIFF"):
        parse_tiff(b"BM123456")
    good = build_tiff(_rgb(3, 4, 4))
    with pytest.raises(MediaDecodeError):
        parse_tiff(good[:40])  # truncated strip/IFD
    # unsupported shape: 16-bit samples
    bad = bytearray(build_tiff(np.zeros((2, 2), np.uint8)))
    i = bad.find((258).to_bytes(2, "little"))
    bad[i + 8] = 16  # BitsPerSample 8 -> 16
    with pytest.raises(MediaDecodeError, match="unsupported TIFF shape"):
        parse_tiff(bytes(bad))
    with pytest.raises(ValueError):
        build_tiff(np.zeros((2, 2), np.uint8), compression="none",
                   predictor=2)


def test_lzw_bomb_strip_is_contained(lzw_bomb):
    """A compression-5 strip that decodes to 84 MB stops at the output
    budget: one contained MediaDecodeError, not a worker OOM."""
    from pydoxtools_spark.functions.tiff import _emit

    data = _emit([lzw_bomb], 64, 64, [8], 5, 1, 1, 64, "II", 1)
    with pytest.raises(MediaDecodeError, match="LZWDecode output exceeds"):
        parse_tiff(data)


def test_media_features_decodes_tiff(spark):
    """image/tiff blobs flow through the media_features kernel in all
    four compressions; a truncated TIFF is a contained error row."""
    from pydoxtools_spark.operators.multimodal import media_features

    g4 = build_tiff_g4(np.broadcast_to(
        np.arange(16) % 4 < 2, (8, 16)))           # half ink -> 127
    flat = build_tiff(np.full((5, 6, 3), 200, np.uint8),
                      compression="packbits")
    lzw = build_tiff(np.full((5, 6, 3), 64, np.uint8),
                     compression="lzw", predictor=2)
    rows = [("t1", "image", bytearray(g4), None),
            ("t2", "image", bytearray(flat), None),
            ("t3", "image", bytearray(lzw), None),
            ("t4", "image", bytearray(flat[:30]), None)]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "meta map<string,string>")
    out = {r["media_ref"]: r for r in media_features(media).collect()}
    assert out["t1"]["mean_level"] == 127 and out["t1"]["width"] == 16
    assert out["t2"]["mean_level"] == 200 and out["t2"]["height"] == 5
    assert out["t3"]["mean_level"] == 64
    assert out["t4"]["decode_error"] is not None
    assert out["t4"]["width"] is None


def test_ingest_routes_tiff_blobs_to_binary(spark):
    """TIFF magics route to the 'binary' in_kind at the JVM prefix
    stage (both magics embed a NUL, so no printable-text payload can
    false-positive); a text file is untouched."""
    from pydoxtools_spark.pipeline import ingest_blobs

    rows = [("t.tif", bytearray(build_tiff(_rgb(1, 3, 3)))),
            ("m.tif", bytearray(build_tiff(_rgb(2, 3, 3),
                                           byte_order="MM"))),
            ("a.txt", bytearray("II* not a tiff, just text".encode()))]
    blobs = spark.createDataFrame(rows, "ref string, content binary")
    parts = ingest_blobs(spark, blobs)
    spans = {r["doc_id"]: r["spans"] for r in
             parts["documents_in"].collect()}
    assert [s["kind"] for s in spans["t.tif"]] == ["binary"]
    assert [s["kind"] for s in spans["m.tif"]] == ["binary"]
    assert [s["kind"] for s in spans["a.txt"]] == ["text"]


def test_planar_and_fillorder_rejected():
    """PlanarConfiguration 2 / FillOrder 2 would decode scrambled
    pixels -- they must refuse loudly, not emit garbage."""
    import struct

    base = build_tiff(_rgb(9, 3, 3))

    def with_tag(tag, value):
        # splice one extra SHORT tag into the IFD (entries are sorted,
        # parser only maps them, so appending before the next-IFD
        # pointer and bumping the count is enough)
        e = "<"
        (ifd_off,) = struct.unpack_from(e + "I", base, 4)
        (n,) = struct.unpack_from(e + "H", base, ifd_off)
        entries_end = ifd_off + 2 + 12 * n
        entry = struct.pack(e + "HHIHH", tag, 3, 1, value, 0)
        return (base[:ifd_off] + struct.pack(e + "H", n + 1)
                + base[ifd_off + 2:entries_end] + entry
                + base[entries_end:])

    with pytest.raises(MediaDecodeError, match="planar"):
        parse_tiff(with_tag(284, 2))
    with pytest.raises(MediaDecodeError, match="FillOrder"):
        parse_tiff(with_tag(266, 2))
    # sanity: the splice helper itself yields a parseable file
    w, h, _ = parse_tiff(with_tag(284, 1))
    assert (w, h) == (3, 3)

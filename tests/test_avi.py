"""AVI container (functions/avi.py) + the real frame-sampling path
(multimodal.avi_frame_features): round-trips, random frame access
without decoding skipped frames, metadata, containment."""
import numpy as np
import pytest

from pydoxtools_spark.functions.avi import (
    build_avi,
    parse_avi_frame,
    parse_avi_meta,
)
from pydoxtools_spark.functions.media import MediaDecodeError


def _frames(n=5, h=4, w=6):
    fr = np.zeros((n, h, w, 3), dtype=np.uint8)
    for i in range(n):
        fr[i] = (i * 40) % 256
    return fr


def test_roundtrip_meta_and_frames():
    fr = _frames()
    data = build_avi(fr, fps=10)
    meta = parse_avi_meta(data)
    assert (meta["width"], meta["height"], meta["fps"],
            meta["n_frames"]) == (6, 4, 10, 5)
    for i in range(5):
        np.testing.assert_array_equal(parse_avi_frame(data, i, meta),
                                      fr[i])
    # random access without meta re-parse and out-of-range containment
    np.testing.assert_array_equal(parse_avi_frame(data, 3), fr[3])
    with pytest.raises(MediaDecodeError, match="out of range"):
        parse_avi_frame(data, 5, meta)


def test_odd_width_stride_and_gradient():
    rng = np.random.default_rng(3)
    fr = rng.integers(0, 256, (3, 5, 7, 3), dtype=np.uint8)  # stride pad
    data = build_avi(fr, fps=25)
    for i in range(3):
        np.testing.assert_array_equal(parse_avi_frame(data, i), fr[i])


def test_contained_failures():
    with pytest.raises(MediaDecodeError, match="not a RIFF/AVI"):
        parse_avi_meta(b"RIFF1234WAVE")
    data = bytearray(build_avi(_frames(2)))
    # shrink a frame chunk's declared size: no longer DIB-geometry
    i = data.find(b"00db")
    assert i > 0
    data[i + 4:i + 8] = (10).to_bytes(4, "little")
    meta = parse_avi_meta(bytes(data))
    with pytest.raises(MediaDecodeError, match="not uncompressed DIB"):
        parse_avi_frame(bytes(data), 0, meta)
    with pytest.raises(ValueError):
        build_avi(np.zeros((0, 2, 2, 3), np.uint8))


def test_media_features_decodes_avi(spark):
    from pydoxtools_spark.operators.multimodal import media_features

    good = build_avi(_frames(6, 4, 8), fps=3)  # frame 0 = gray 0
    rows = [("v1", "video", bytearray(good), None),
            ("v2", "video", bytearray(good[:40]), None)]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "meta map<string,string>")
    out = {r["media_ref"]: r for r in media_features(media).collect()}
    assert (out["v1"]["width"], out["v1"]["height"]) == (8, 4)
    assert out["v1"]["sample_rate"] == 3          # fps in the rate slot
    assert out["v1"]["duration_ms"] == 2000       # 6 frames @ 3 fps
    assert out["v1"]["mean_level"] == 0           # frame 0 black
    assert out["v2"]["decode_error"] is not None


def test_avi_frame_features_distributed_sampling(spark):
    from pyspark.sql import functions as F

    from pydoxtools_spark.operators.multimodal import avi_frame_features

    fr = _frames(7, 3, 4)  # frame i = uniform (i*40) % 256
    data = build_avi(fr, fps=5)
    media = spark.createDataFrame(
        [("v1", "video", bytearray(data),
          {"n_frames": "7"}),
         ("bad", "video", bytearray(b"RIFF\x04\x00\x00\x00AVI "),
          {"n_frames": "2"}),
         ("nul", "video", None, {"n_frames": "3"})],
        "media_ref string, media_type string, content binary, "
        "meta map<string,string>")
    got = {(r["media_ref"], r["frame_idx"]): r for r in
           avi_frame_features(media, every_n=2).collect()}
    assert sorted(k for k in got if k[0] == "v1") == \
        [("v1", 0), ("v1", 2), ("v1", 4), ("v1", 6)]
    for _, idx in [k for k in got if k[0] == "v1"]:
        r = got[("v1", idx)]
        assert (r["width"], r["height"]) == (4, 3)
        assert r["mean_level"] == (idx * 40) % 256
        assert r["decode_error"] is None
    assert all(got[k]["decode_error"] is not None
               for k in got if k[0] == "bad")
    # a NULL blob decodes as empty bytes: one decode_error per sampled frame
    assert sorted(k for k in got if k[0] == "nul") == [("nul", 0), ("nul", 2)]
    assert all(got[k]["decode_error"] is not None
               for k in got if k[0] == "nul")


def test_avi_frame_features_grouped_matches_fanout(spark):
    """Grouped-indexes mode: identical rows to the per-frame fan-out
    decoded directly in one process (parse_avi_meta / parse_avi_frame /
    luminance_hist16 per sampled index), and the plan aggregates sampled indexes per
    media_ref BEFORE the content join (one blob copy decodes all its
    sampled frames)."""
    from pydoxtools_spark.functions.media import luminance_hist16
    from pydoxtools_spark.operators.multimodal import avi_frame_features

    fr = _frames(9, 3, 4)
    data = build_avi(fr, fps=5)
    bad = b"RIFF\x04\x00\x00\x00AVI "
    media = spark.createDataFrame(
        [("v1", "video", bytearray(data), {"n_frames": "9"}),
         ("bad", "video", bytearray(bad), {"n_frames": "3"})],
        "media_ref string, media_type string, content binary, "
        "meta map<string,string>")
    grouped = avi_frame_features(media, every_n=3)

    def direct(ref, raw, idx):
        try:
            px = parse_avi_frame(raw, idx, parse_avi_meta(raw))
        except Exception as e:
            return (ref, idx, None, None, None, f"{type(e).__name__}: {e}")
        return (ref, idx, px.shape[1], px.shape[0], luminance_hist16(px)[1],
                None)

    want = [direct("v1", data, i) for i in (0, 3, 6)] + [direct("bad", bad, 0)]
    assert want[-1][-1] is not None  # the damaged blob is an error row
    assert sorted(map(tuple, grouped.collect())) == sorted(want)
    # plan assert: the common case ships ONE content copy per blob —
    # the sampled indexes are collected per media_ref below the join
    plan = grouped._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan and "frame_idx" in plan

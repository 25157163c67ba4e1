"""WARC reader/writer (functions/warc.py) + the Spark record
exploder (loaders.warc_records): framing round-trips (plain and
member-gzip), Content-Length authority over payload bytes, HTTP
body stripping, and per-file error containment."""
import zlib

import numpy as np
import pytest

from pydoxtools_spark.functions.warc import (
    WarcError,
    build_warc,
    http_payload,
    parse_warc,
    warc_target_uri,
    warc_type,
)


def _recs():
    return [
        ({"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:1>"},
         b"software: engine\r\n"),
        ({"WARC-Type": "response",
          "WARC-Target-URI": "http://example.com/a"},
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
         b"<html><body>hi</body></html>"),
        ({"WARC-Type": "conversion",
          "WARC-Target-URI": "<http://example.com/a>"},
         b"hi"),
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip_plain_and_gzip_members(gz):
    data = build_warc(_recs(), gzip_members=gz)
    if gz:
        assert data[:2] == b"\x1f\x8b"
        # deterministic output (no mtime stamp)
        assert data == build_warc(_recs(), gzip_members=gz)
    recs = parse_warc(data)
    assert [warc_type(h) for h, _ in recs] == \
        ["warcinfo", "response", "conversion"]
    assert warc_target_uri(recs[1][0]) == "http://example.com/a"
    assert warc_target_uri(recs[2][0]) == "http://example.com/a"  # <> strip
    assert recs[2][1] == b"hi"
    assert http_payload(recs[1][1]) == b"<html><body>hi</body></html>"


def test_content_length_is_authoritative():
    # payload containing CRLFCRLF and a fake WARC/ line must NOT split
    # the stream -- only Content-Length frames records
    evil = b"\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nbinary\x00junk"
    data = build_warc([({"WARC-Type": "resource"}, evil),
                       ({"WARC-Type": "resource"}, b"tail")])
    recs = parse_warc(data)
    assert len(recs) == 2
    assert recs[0][1] == evil and recs[1][1] == b"tail"


def test_malformed_framing_raises():
    good = build_warc(_recs())
    with pytest.raises(WarcError, match="truncated|unterminated"):
        parse_warc(good[:-20])
    with pytest.raises(WarcError, match="missing WARC/"):
        parse_warc(b"NOT A WARC")
    # record without Content-Length
    raw = b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nbody\r\n\r\n"
    with pytest.raises(WarcError, match="Content-Length"):
        parse_warc(raw)
    # bad gzip member
    with pytest.raises(WarcError, match="gzip"):
        parse_warc(b"\x1f\x8b" + b"\x00" * 20)
    # gzip tail garbage after a valid member
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    member = c.compress(build_warc(_recs()[:1])) + c.flush()
    with pytest.raises(WarcError, match="gzip"):
        parse_warc(member + b"\x1f\x8bgarbage")


def test_warc_records_spark_exploder(spark):
    from pydoxtools_spark.sources.loaders import warc_records

    seg0 = build_warc(_recs(), gzip_members=True)
    seg1 = build_warc(_recs()[:1])
    rows = [("s0.warc.gz", bytearray(seg0)),
            ("s1.warc", bytearray(seg1)),
            ("bad.warc", bytearray(b"NOT A WARC"))]
    blobs = spark.createDataFrame(rows, "path string, content binary")
    got = warc_records(blobs).collect()
    by_ref = {}
    for r in got:
        by_ref.setdefault(r["ref"], []).append(r)
    assert [r["warc_type"] for r in
            sorted(by_ref["s0.warc.gz"], key=lambda r: r["rec_idx"])] == \
        ["warcinfo", "response", "conversion"]
    resp = [r for r in by_ref["s0.warc.gz"] if r["warc_type"] == "response"][0]
    assert bytes(resp["content"]) == b"<html><body>hi</body></html>"
    assert resp["target_uri"] == "http://example.com/a"
    assert resp["rec_headers"]["WARC-Type"] == "response"
    assert [r["warc_type"] for r in by_ref["s1.warc"]] == ["warcinfo"]
    bad = by_ref["bad.warc"]
    assert len(bad) == 1 and bad[0]["error"] is not None
    assert bad[0]["rec_idx"] is None


def test_gzip_bomb_is_one_error_row(spark):
    """A gzip member inflating past constants.MAX_INFLATE_BYTES raises
    WarcError, which warc_records contains as one error row."""
    from pydoxtools_spark.constants import MAX_INFLATE_BYTES
    from pydoxtools_spark.sources.loaders import warc_records

    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    zeros = bytes(1 << 20)
    bomb = b"".join(c.compress(zeros)
                    for _ in range(MAX_INFLATE_BYTES // len(zeros) + 1))
    bomb += c.flush()
    with pytest.raises(WarcError, match="exceeds"):
        parse_warc(bomb)
    blobs = spark.createDataFrame([("bomb.warc.gz", bytearray(bomb))],
                                  "path string, content binary")
    (row,) = warc_records(blobs).collect()
    assert "exceeds" in row["error"]
    assert row["rec_idx"] is None


def test_wet_style_segment_through_ingest(spark):
    """The C4/CCNet entry move: WET conversion records -> warc_records
    -> ingest_blobs -> text spans, end to end."""
    from pyspark.sql import functions as F

    from pydoxtools_spark.pipeline import ingest_blobs
    from pydoxtools_spark.sources.loaders import warc_records

    recs = [({"WARC-Type": "conversion",
              "WARC-Target-URI": f"http://ex.com/{i}"},
             f"document {i} body text".encode()) for i in range(5)]
    blobs = spark.createDataFrame(
        [("seg.warc.gz", bytearray(build_warc(recs, gzip_members=True)))],
        "path string, content binary")
    docs = warc_records(blobs).filter("warc_type = 'conversion'").select(
        F.col("target_uri").alias("ref"), "content")
    parts = ingest_blobs(spark, docs)
    spans = {r["doc_id"]: r["spans"] for r in
             parts["documents_in"].collect()}
    assert len(spans) == 5
    for i in range(5):
        s = spans[f"http://ex.com/{i}"]
        assert [x["kind"] for x in s] == ["text"]
        assert s[0]["text"] == f"document {i} body text"


def test_warc_records_streaming_segments(spark, tmp_path):
    """Crawl segments arrive incrementally: binaryFile readStream ->
    warc_records -> append sink.  warc_records is a stateless
    mapInPandas, so it runs unchanged on a streaming frame — new
    segment files become new record rows, already-seen files don't
    re-emit (source tracking), the incremental-crawl-processing
    shape."""
    import pathlib

    from pydoxtools_spark.sources.loaders import warc_records

    in_dir = tmp_path / "segments"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def write_segment(name: str, lo: int, hi: int) -> None:
        recs = [({"WARC-Type": "conversion",
                  "WARC-Target-URI": f"http://ex.com/{i}"},
                 f"doc {i}".encode()) for i in range(lo, hi)]
        pathlib.Path(in_dir, name).write_bytes(
            build_warc(recs, gzip_members=True))

    def drain() -> None:
        src = spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, length long, "
            "content binary").load(str(in_dir))
        q = (warc_records(src, ref_col="path").writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    write_segment("s0.warc.gz", 0, 3)
    drain()
    write_segment("s1.warc.gz", 3, 5)
    drain()
    rows = spark.read.parquet(out_dir).collect()
    uris = sorted(r["target_uri"] for r in rows)
    assert uris == [f"http://ex.com/{i}" for i in range(5)]  # no re-emits
    assert all(r["error"] is None for r in rows)
    assert {bytes(r["content"]).decode() for r in rows} == \
        {f"doc {i}" for i in range(5)}

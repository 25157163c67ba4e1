"""zip-archive member exploder (loaders.zip_members): per-member
rows, per-member error containment, zip-bomb guard, and the
archive -> ingest_blobs -> spans end-to-end."""
import io
import zipfile

import pytest


def _zip(members: dict[str, bytes], **kw) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)),
                        data, **kw)
    return buf.getvalue()


def test_zip_members_explodes_and_contains(spark):
    from pydoxtools_spark.sources.loaders import zip_members

    good = _zip({"a.txt": b"alpha", "dir/": b"", "dir/b.html":
                 b"<html><body>x</body></html>"})
    # corrupt one member's compressed bytes: bad CRC on read
    bad_crc = bytearray(_zip({"ok.txt": b"fine", "broken.txt":
                              b"payload payload payload"}))
    i = bad_crc.find(b"payload")
    if i < 0:  # deflate obscures it: flip bytes in the second stream
        i = len(bad_crc) // 2
    bad_crc[i] ^= 0xFF
    rows = [("good.zip", bytearray(good)),
            ("badcrc.zip", bad_crc),
            ("notzip.bin", bytearray(b"\x00\x01\x02 not a zip"))]
    blobs = spark.createDataFrame(rows, "path string, content binary")
    got = {}
    for r in zip_members(blobs).collect():
        got.setdefault(r["ref"], []).append(r)
    g = {r["member"]: r for r in got["good.zip"]}
    assert set(g) == {"a.txt", "dir/b.html"}  # dir entry skipped
    assert bytes(g["a.txt"]["content"]) == b"alpha"
    assert g["dir/b.html"]["n_bytes"] == 27
    bc = {r["member"]: r for r in got["badcrc.zip"]}
    assert bc["ok.txt"]["error"] is None
    assert bc["broken.txt"]["error"] is not None
    assert bc["broken.txt"]["content"] is None
    nz = got["notzip.bin"]
    assert len(nz) == 1 and nz[0]["member"] is None
    assert nz[0]["error"] is not None


def test_zip_members_bomb_guard(spark):
    from pydoxtools_spark.sources.loaders import zip_members

    big = _zip({"huge.txt": b"A" * 100_000, "small.txt": b"ok"})
    blobs = spark.createDataFrame([("a.zip", bytearray(big))],
                                  "path string, content binary")
    got = {r["member"]: r for r in
           zip_members(blobs, max_member_bytes=1000).collect()}
    assert got["small.txt"]["error"] is None
    assert got["huge.txt"]["content"] is None
    assert "max_member_bytes" in got["huge.txt"]["error"]
    assert got["huge.txt"]["n_bytes"] == 100_000  # declared size kept


def test_zip_members_guard_is_on_by_default(spark):
    """Without max_member_bytes, a member declaring more than
    constants.MAX_INFLATE_BYTES (a 64 KB zip of zeros) is an error row
    and is never inflated.  A member whose stream runs past a smaller
    declared size stops there: zipfile reads the declared bytes and
    fails the CRC, so the declared size bounds every read."""
    import struct

    from pydoxtools_spark.constants import MAX_INFLATE_BYTES
    from pydoxtools_spark.sources.loaders import zip_members

    bomb = _zip({"zeros.bin": bytes(MAX_INFLATE_BYTES + 1), "ok.txt": b"ok"})
    lied = bytearray(_zip({"lie.bin": bytes(1 << 20)}))
    for sig, at in ((b"PK\x03\x04", 22), (b"PK\x01\x02", 24)):
        i = lied.find(sig) + at  # declared uncompressed size: 100 bytes
        lied[i:i + 4] = struct.pack("<I", 100)
    blobs = spark.createDataFrame(
        [("bomb.zip", bytearray(bomb)), ("lie.zip", lied)],
        "path string, content binary")
    got = {r["member"]: r for r in zip_members(blobs).collect()}
    assert got["zeros.bin"]["content"] is None
    assert "max_member_bytes" in got["zeros.bin"]["error"]
    assert got["ok.txt"]["error"] is None
    assert got["lie.bin"]["content"] is None
    assert "CRC" in got["lie.bin"]["error"]


def test_zip_archive_through_ingest(spark):
    """Archive members become documents: zip_members -> ingest_blobs
    routes each member by its own content (html kernel vs text)."""
    from pyspark.sql import functions as F

    from pydoxtools_spark.pipeline import ingest_blobs
    from pydoxtools_spark.sources.loaders import zip_members

    arc = _zip({
        "doc1.txt": b"plain body one",
        "doc2.html": b"<html><title>T</title><body><p>para here"
                     b"</p></body></html>",
    })
    blobs = spark.createDataFrame([("arc.zip", bytearray(arc))],
                                  "path string, content binary")
    docs = zip_members(blobs).filter("error IS NULL").select(
        F.concat_ws("#", "ref", "member").alias("ref"), "content")
    parts = ingest_blobs(spark, docs)
    spans = {r["doc_id"]: r["spans"] for r in
             parts["documents_in"].collect()}
    assert [s["kind"] for s in spans["arc.zip#doc1.txt"]] == ["text"]
    assert spans["arc.zip#doc1.txt"][0]["text"] == "plain body one"
    kinds = {s["kind"] for s in spans["arc.zip#doc2.html"]}
    assert "html" in kinds

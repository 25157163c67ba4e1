"""The python-kernel boundary (pydoxtools_spark/kernels.py): every
engine mapInPandas goes through it, so containment and NULL-blob
coercion hold for every blob operator — a garbage or NULL blob becomes
a contained row and never fails the job."""
import io
import pathlib
import tarfile
import zipfile

import numpy as np
import pytest
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parent.parent / "pydoxtools_spark"


def test_mapinpandas_only_in_kernels():
    """fixtures.py is exempt: its corpus generators write the goldens
    span equality compares the engine against, from spark.range ids
    with no external input to contain — routing them through the
    boundary under test would let a kernels.py defect reach both sides
    of the comparison."""
    allowed = {PKG / "kernels.py", PKG / "fixtures.py"}
    offenders = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py")) if p not in allowed
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".mapInPandas(" in line
    ]
    assert offenders == []


def test_map_rows_drops_partial_output_of_a_raising_row(spark):
    from pydoxtools_spark.kernels import map_rows

    def fn(ref, content):
        yield (ref, len(content), None)
        if content.startswith(b"x"):
            raise ValueError("boom")
        yield (ref, -1, None)

    df = spark.createDataFrame(
        [("a", bytearray(b"ok")), ("b", bytearray(b"xx")), ("c", None)],
        "ref string, content binary")
    got = sorted(map(tuple, map_rows(
        df, fn, "ref string, n long, error string").collect()))
    assert got == [("a", -1, None), ("a", 2, None),
                   ("b", None, "ValueError: boom"),
                   ("c", -1, None), ("c", 0, None)]


def test_walk_runs_hands_fn_whole_runs_across_batches(spark):
    """Runs cut by a 7-row Arrow batch still reach fn whole, once."""
    from pydoxtools_spark.kernels import walk_runs

    rows = [(f"d{i % 13}", i % 3, i) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id string, b int, v int")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = walk_runs(
            df, ["doc_id", "b"],
            lambda run: [(run["doc_id"].iat[0], int(run["b"].iat[0]),
                          len(run), list(map(int, run["v"])))],
            "doc_id string, b int, n int, vs array<int>",
            order=["v"]).collect()
    finally:
        spark.conf.set(conf, old)
    want = {}
    for d, b, v in rows:
        want.setdefault((d, b), []).append(v)
    assert {(r["doc_id"], r["b"]): r["vs"] for r in got} == want
    assert len(got) == len(want)


# ------------------------------------------------ blob-operator containment


def _pdf():
    from pydoxtools_spark.functions.pdfparse import build_tiny_pdf

    return build_tiny_pdf([{"texts": [(72.0, 700.0, 18.0, "Doc X")],
                            "images": [(480.0, 100.0, 100.0, 80.0)]}],
                          compress=True)


def _bmp():
    from pydoxtools_spark.functions.media import build_bmp

    return build_bmp(np.full((4, 6, 3), 120, dtype=np.uint8))


def _docx():
    from pydoxtools_spark.functions.docx import build_tiny_docx

    return build_tiny_docx([("header", "T", 1),
                            ("image", "media/image1.bmp", _bmp()),
                            ("text", "body")])


def _avi():
    from pydoxtools_spark.functions.avi import build_avi

    fr = np.zeros((3, 4, 6, 3), dtype=np.uint8)
    for i in range(3):
        fr[i] = i * 40
    return build_avi(fr, fps=5)


def _jpeg():
    from pydoxtools_spark.functions.exif import build_exif_app1, insert_app1
    from pydoxtools_spark.functions.jpeg import build_jpeg

    return insert_app1(build_jpeg(np.full((6, 8, 3), 120, np.uint8)),
                       build_exif_app1(make="ACME", gps=(48.85, 2.29)))


def _warc():
    from pydoxtools_spark.functions.warc import build_warc

    return build_warc([({"WARC-Type": "conversion",
                         "WARC-Target-URI": "http://example.com/a"},
                        b"hi")])


def _zip():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", b"alpha")
    return buf.getvalue()


def _tar():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in (("000001.txt", b"caption"),
                           ("000001.json", b"{}")):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _docs(blobs, in_kind):
    return blobs.select(
        F.col("ref").alias("doc_id"),
        F.array(F.struct(
            F.lit(in_kind).alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.col("ref").alias("media_ref"),
            F.lit(0).alias("offset"))).alias("spans"))


def _media(blobs, media_type="image", meta=None):
    meta = (F.create_map(*[F.lit(x) for kv in meta.items() for x in kv])
            if meta else F.lit(None).cast("map<string,string>"))
    return blobs.select(F.col("ref").alias("media_ref"),
                        F.lit(media_type).alias("media_type"), "content",
                        meta.alias("meta"))


def _one_error(col, prefix=""):
    return lambda rows: (len(rows) == 1 and rows[0][col] is not None
                         and rows[0][col].startswith(prefix))


def _errors_only(col):
    """Lenient parsers: a bad blob yields error rows or no rows."""
    return lambda rows: all(r[col] is not None for r in rows)


def _clean(row):
    d = row.asDict()
    return (d.get("error") is None and d.get("decode_error") is None
            and d.get("type") != "ParseError")


def _case_parse_pdf_blobs(spark, b):
    from pydoxtools_spark.pipeline import parse_pdf_blobs

    return parse_pdf_blobs(b)


def _case_extract_pdf_blobs(spark, b):
    from pydoxtools_spark.pipeline import extract

    return extract(spark, _docs(b, "pdf_bytes"), None,
                   parallelism=2, pdf_blobs=b)


def _case_extract_doc_blobs(spark, b):
    from pydoxtools_spark.pipeline import extract

    return extract(spark, _docs(b, "docx_bytes"), None,
                   parallelism=2, doc_blobs=b)


def _case_container_media_blobs(spark, b):
    from pydoxtools_spark.pipeline import container_media_blobs

    return container_media_blobs(b)


def _case_pdf_media_blobs(spark, b):
    from pydoxtools_spark.pipeline import pdf_media_blobs

    return pdf_media_blobs(b)


def _case_pdf_meta_from_blobs(spark, b):
    from pydoxtools_spark.operators.multimodal import pdf_meta_from_blobs

    return pdf_meta_from_blobs(b.withColumnRenamed("ref", "doc_id"))


def _case_render_pdf_pages(spark, b):
    from pydoxtools_spark.operators.multimodal import render_pdf_pages

    return render_pdf_pages(b.withColumnRenamed("ref", "doc_id"))


def _case_media_features(spark, b):
    from pydoxtools_spark.operators.multimodal import media_features

    return media_features(_media(b))


def _case_avi_frame_features(spark, b):
    from pydoxtools_spark.operators.multimodal import avi_frame_features

    return avi_frame_features(_media(b, "video", {"n_frames": "3"}),
                              every_n=1)


def _case_scrub_image_metadata(spark, b):
    from pydoxtools_spark.operators.multimodal import scrub_image_metadata

    return scrub_image_metadata(b.withColumnRenamed("ref", "media_ref"))


def _case_warc_records(spark, b):
    from pydoxtools_spark.sources.loaders import warc_records

    return warc_records(b, ref_col="ref")


def _case_zip_members(spark, b):
    from pydoxtools_spark.sources.loaders import zip_members

    return zip_members(b, ref_col="ref")


def _case_tar_members(spark, b):
    from pydoxtools_spark.sources.loaders import tar_members

    return tar_members(b, ref_col="ref")


def _case_webdataset_samples(spark, b):
    from pydoxtools_spark.sources.loaders import webdataset_samples

    return webdataset_samples(b, ref_col="ref")


def _case_cdc_chunk_table(spark, b):
    from pydoxtools_spark.operators.dedup import cdc_chunk_table

    return cdc_chunk_table(b, min_size=64, max_size=512, mask_bits=6)


# name -> (operator, output key column, good blob, garbage blob,
#          contained(rows of one bad blob))
CASES = {
    "parse_pdf_blobs": (
        _case_parse_pdf_blobs, "doc_id", _pdf, b"not a pdf",
        lambda rows: len(rows) == 1 and rows[0]["type"] == "ParseError"
        and rows[0]["rawtext"].startswith("pdf_parse_error: ")),
    "extract_pdf_blobs": (
        _case_extract_pdf_blobs, "doc_id", _pdf, b"not a pdf",
        _one_error("error", "pdf_parse_error: ")),
    "extract_doc_blobs": (
        _case_extract_doc_blobs, "doc_id", _docx, b"PK\x03\x04junk",
        _one_error("error", "docx_parse_error: ")),
    "container_media_blobs": (
        _case_container_media_blobs, "ref", _docx, b"PK\x03\x04junk",
        _one_error("error")),
    "pdf_media_blobs": (
        _case_pdf_media_blobs, "ref", _pdf, b"%PDF-1.4 garbage",
        _one_error("error")),
    "pdf_meta_from_blobs": (
        _case_pdf_meta_from_blobs, "doc_id", _pdf, b"%PDF-1.4 garbage",
        _one_error("error")),
    "render_pdf_pages": (
        _case_render_pdf_pages, "doc_id", _pdf, b"%PDF-1.4 garbage",
        _one_error("error")),
    "media_features": (
        _case_media_features, "media_ref", _bmp, b"BM\x00garbage",
        _one_error("decode_error")),
    "avi_frame_features": (
        _case_avi_frame_features, "media_ref", _avi,
        b"RIFF\x04\x00\x00\x00AVI ",
        lambda rows: len(rows) == 3
        and all(r["decode_error"] is not None for r in rows)),
    # a non-JPEG blob (the NULL one is b"") passes through unchanged
    "scrub_image_metadata": (
        _case_scrub_image_metadata, "media_ref", _jpeg, b"\xff\xd8\x00bad",
        lambda rows: len(rows) == 1 and (
            rows[0]["error"] is not None
            or (rows[0]["n_bytes_clean"] == 0 and not rows[0]["had_exif"]))),
    # an empty segment (the NULL blob) holds no records
    "warc_records": (
        _case_warc_records, "ref", _warc, b"NOT A WARC",
        _errors_only("error")),
    "zip_members": (
        _case_zip_members, "ref", _zip, b"PK\x03\x04junk",
        _one_error("error")),
    "tar_members": (
        _case_tar_members, "ref", _tar, b"not a tar at all" * 40,
        _one_error("error")),
    "webdataset_samples": (
        _case_webdataset_samples, "ref", _tar, b"not a tar at all" * 40,
        _one_error("error")),
    # every byte string chunks; a NULL blob is empty: no chunks
    "cdc_chunk_table": (
        _case_cdc_chunk_table, "ref", lambda: bytes(range(256)) * 8,
        bytes(range(255, -1, -1)) * 3,
        lambda rows: all(r["chunk_md5"] is not None for r in rows)),
}


def _by_key(df, key):
    out = {}
    for r in df.collect():
        out.setdefault(r[key], []).append(r)
    return out


@pytest.mark.parametrize("name", sorted(CASES))
def test_blob_operator_contains_garbage_and_null(spark, name):
    run, key, good, garbage, contained = CASES[name]
    schema = "ref string, content binary"
    good_row = ("good", bytearray(good()))
    alone = _by_key(run(spark, spark.createDataFrame([good_row], schema)),
                    key)
    mixed = _by_key(run(spark, spark.createDataFrame(
        [good_row, ("garbage", bytearray(garbage)), ("null", None)],
        schema)), key)
    assert alone["good"] and all(map(_clean, alone["good"]))
    assert sorted(map(repr, mixed["good"])) == \
        sorted(map(repr, alone["good"]))
    for bad in ("garbage", "null"):
        assert contained(mixed.get(bad, [])), (bad, mixed.get(bad))

"""Tests for the composition DSL (§2.9), sources (§2.1), and the
incremental streaming facade (§2.10)."""

import os

import pytest

from pyspark.sql import functions as F

from pydoxtools_spark.plans.pipeline_dsl import PipelineDSL
from pydoxtools_spark.sources import loaders


def test_pipeline_dsl_resolution(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "x")], ["doc_id", "text"])
    p = (
        PipelineDSL()
        .constant("sep", " ")
        .config("min_len", 2)
        .node("words", lambda t, sep: F.split(t, sep), ["text", "sep"])
        .node("n_words", lambda w: F.size(w), ["words"])
        .alias("wordcount", "n_words")
        .merge("summary", "n_words", "text")
    )
    out = p.apply(df, ["wordcount", "summary"]).collect()
    assert out[0]["wordcount"] == 2
    assert out[0]["summary"]["n_words"] == 2
    # config override at apply time (reference precedence semantics)
    p2 = PipelineDSL().config("k", 1).node("kk", lambda k: k + 0, ["k"])
    assert p2.apply(df, ["kk"], overrides={"k": 9}).collect()[0]["kk"] == 9


def test_element_wise(spark):
    df = spark.createDataFrame([(1, ["a", "b"])], ["doc_id", "xs"])
    p = PipelineDSL().element_wise("up", "xs", lambda x: F.upper(x))
    assert p.apply(df, ["up"]).collect()[0]["up"] == ["A", "B"]


def test_load_directory_binary(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "a.txt").write_bytes(b"hello")
    (d / "sub").mkdir()
    (d / "sub" / "b.txt").write_bytes(b"world!")
    (d / "sub" / "c.bin").write_bytes(b"\x00\x01")
    df = loaders.load_directory(spark, str(d), wildcard="*.txt")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    decoded = df.select(
        loaders.decode_text_col(F.col("content")).alias("t")).collect()
    assert {r["t"] for r in decoded} == {"hello", "world!"}


def test_docs_from_json(spark):
    df = spark.createDataFrame(
        [("d1", '{"a": "1", "b": "2"}')], ["doc_id", "json"])
    rows = loaders.docs_from_json(df).collect()
    assert {(r["key"], r["value"]) for r in rows} == {("a", "1"), ("b", "2")}


def test_incremental_streaming_facade(spark, tmp_path):
    """foreachBatch + AvailableNow over a growing parquet dir processes
    the backlog exactly once per file."""
    from pydoxtools_spark.schemas import DOCUMENTS_IN
    from pydoxtools_spark.streaming.facade import incremental_extract

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [{"doc_id": f"s{i}", "spans": [
        {"kind": "text", "text": f"a{i}\n\nb{i}", "media_ref": None,
         "offset": 0}]} for i in range(4)]
    spark.createDataFrame(rows, schema=DOCUMENTS_IN).write.parquet(in_dir)

    q = incremental_extract(spark, in_dir, None, out_dir, ckpt,
                            parallelism=2)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out_dir}/extracted")
    assert got.count() == 4
    # second invocation: no new files -> no duplicates
    q2 = incremental_extract(spark, in_dir, None, out_dir, ckpt,
                             parallelism=2)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/extracted").count() == 4


def test_replayed_stream_batch_commits_each_doc_once(spark, tmp_path):
    """A crash between foreachBatch's write and the streaming commit
    log (commits/0 deleted) replays batch 0 on restart; the replay
    finds its run already committed, so each doc is committed once.
    The streamed output is the batch snapshot set: read_extracted sees
    it and a later run_resumable has nothing to do."""
    import os

    from pydoxtools_spark.pipeline import read_extracted, run_resumable
    from pydoxtools_spark.schemas import DOCUMENTS_IN
    from pydoxtools_spark.streaming.facade import incremental_extract

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [{"doc_id": f"r{i}", "spans": [
        {"kind": "text", "text": f"x{i}\n\ny{i}", "media_ref": None,
         "offset": 0}]} for i in range(5)]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_IN)
    docs.write.parquet(in_dir)

    incremental_extract(spark, in_dir, None, out_dir, ckpt,
                        parallelism=2).awaitTermination(120)
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    incremental_extract(spark, in_dir, None, out_dir, ckpt,
                        parallelism=2).awaitTermination(120)

    got = read_extracted(spark, out_dir)
    assert sorted(r["doc_id"] for r in got.collect()) == [
        f"r{i}" for i in range(5)]
    assert spark.read.parquet(f"{out_dir}/extracted").count() == 5
    r = run_resumable(spark, docs, None, out_dir, parallelism=2)
    assert r["docs_processed"] == 0


def test_decode_ladder_non_utf8(spark):
    """Latin-1 bytes garble under utf-8 -> ladder falls back and
    preserves every byte; clean utf-8 (incl. multibyte) stays utf-8."""
    from pydoxtools_spark.sources import loaders

    rows = [
        (bytearray("café".encode("utf-8")),),       # valid utf-8
        (bytearray("caf\xe9 latin1".encode("latin-1")),),  # invalid utf-8
    ]
    df = spark.createDataFrame(rows, "content binary")
    got = {r["t"] for r in df.select(
        loaders.decode_text_col(F.col("content")).alias("t")).collect()}
    assert got == {"café", "café latin1"}


def test_sql_table_loader_partitioned_roundtrip(spark, tmp_path):
    """SQLTableLoader semantics against embedded Derby (the JDBC engine
    Spark ships): partitioned range read on the index column."""
    from pydoxtools_spark.sources import loaders

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0, 120).select(
        F.col("id"), F.concat(F.lit("doc "), F.col("id").cast("string")).alias("txt"))
    src.write.jdbc(url, "docs", properties=props)

    got = loaders.load_sql_table(
        spark, url, "docs", index_column="id", num_partitions=4,
        lower=0, upper=120, properties=props)
    assert got.rdd.getNumPartitions() == 4
    rows = {r["ID"] if "ID" in r else r["id"]: r[1] for r in got.collect()}
    assert len(rows) == 120 and rows[7] == "doc 7"


def test_docs_from_yaml_flattening(spark):
    pytest.importorskip("yaml")
    from pydoxtools_spark.sources.loaders import docs_from_yaml

    good = "a: 1\nb:\n  c: x\n  d: [u, v]\nempty:\n"
    rows = spark.createDataFrame(
        [("d1", good), ("d2", ": bad\n\t: yaml :")],
        ["doc_id", "yaml"])
    out = docs_from_yaml(rows).collect()
    got = {(r["doc_id"], r["key"]): r["value"] for r in out}
    assert got[("d1", "a")] == "1"
    assert got[("d1", "b.c")] == "x"
    assert got[("d1", "b.d.0")] == "u" and got[("d1", "b.d.1")] == "v"
    assert got[("d1", "empty")] is None
    assert got[("d2", None)] is None  # parse failure contained


def test_select_keys_dict_selector_semantics(spark):
    """DictSelector parity (operators_base.py:344-352): requested keys
    kept, kwargs-style renames applied, missing keys -> NULL rows."""
    from pydoxtools_spark.sources.loaders import select_keys

    rows = [("d1", "a", "1"), ("d1", "b", "2"), ("d2", "a", "9")]
    df = spark.createDataFrame(rows, ["doc_id", "key", "value"])
    out = select_keys(df, ["a"], renames={"bee": "b"})
    got = {(r["doc_id"], r["key"]): r["value"] for r in out.collect()}
    assert got == {("d1", "a"): "1", ("d1", "bee"): "2",
                   ("d2", "a"): "9", ("d2", "bee"): None}


def test_vector_sink_roundtrip(spark, tmp_path):
    """add_to_chroma stand-in (reference tests/test_documentbag.py:47-58):
    ingest (id, embedding, document, metadata), query top-k with
    documents joined back; a planted duplicate embedding ranks first."""
    from pydoxtools_spark.sources.loaders import (
        query_vector_sink, to_vector_sink)

    rows = [(i, [float(i == j) for j in range(8)], f"text {i}", "web")
            for i in range(8)]
    rows.append((100, rows[3][1], "dup of three", "web"))
    df = spark.createDataFrame(rows, ["doc_id", "embedding", "full_text", "src"])
    path = str(tmp_path / "collection.parquet")
    to_vector_sink(df, path, document_col="full_text", metadata_col="src")

    q = spark.createDataFrame([(3, rows[3][1])], ["query_id", "embedding"])
    hits = sorted(query_vector_sink(spark, path, q, k=2).collect(),
                  key=lambda r: r["rank"])
    assert hits[0]["neighbor_id"] == 100
    assert hits[0]["document"] == "dup of three"
    assert hits[0]["metadata"] == "web"
    assert abs(hits[0]["cos_sim"] - 1.0) < 1e-9


def test_streaming_facade_matches_batch_on_markdown(spark, tmp_path):
    """Batch/streaming equivalence on the round-3 branches: the SAME
    markdown + wiki + plain docs through incremental_extract and
    through batch extract() produce identical span sequences — one
    code path, proven, not asserted."""
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN
    from pydoxtools_spark.streaming.facade import incremental_extract

    md = ("# Title\n\nintro para\n\n"
          "| a | b |\n|---|---|\n| 1 | 2 |\n\n- one\n- two\n")
    wiki = ("== Head ==\nbody text\n* item1\n* item2\n")
    rows = [
        {"doc_id": "m1", "spans": [
            {"kind": "text", "text": md, "media_ref": None, "offset": 0}]},
        {"doc_id": "w1", "spans": [
            {"kind": "text", "text": wiki, "media_ref": None,
             "offset": 0}]},
        {"doc_id": "t1", "spans": [
            {"kind": "text", "text": "pa\n\npb", "media_ref": None,
             "offset": 0}]},
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_IN)
    in_dir = str(tmp_path / "in")
    docs.write.parquet(in_dir)

    q = incremental_extract(spark, in_dir, None,
                            str(tmp_path / "out"), str(tmp_path / "ckpt"),
                            parallelism=2)
    q.awaitTermination(120)

    def spanmap(df):
        return {r["doc_id"]: [(s["kind"], s["text"], s["offset"])
                              for s in r["spans"]] for r in df.collect()}

    stream_out = spanmap(
        spark.read.parquet(str(tmp_path / "out" / "extracted")))
    batch_out = spanmap(extract(spark, docs, None, parallelism=2))
    assert stream_out == batch_out
    # markdown branch actually fired: header + table + list spans exist
    kinds = {k for k, _, _ in stream_out["m1"]}
    assert {"header", "table", "list"} <= kinds

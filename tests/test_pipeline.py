"""End-to-end span-sequence equality tests (north rule): the Spark
pipeline's output must equal the generator's golden spans
(kind, text, media_ref, order) per doc_id — FIXTURES.md §4."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pydoxtools_spark.fixtures import gen_corpus
from pydoxtools_spark.pipeline import extract
from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus(spark):
    docs, pdf, exp = gen_corpus(N_DOCS)
    docs_df = spark.createDataFrame(docs, schema=DOCUMENTS_IN)
    pdf_df = spark.createDataFrame(pdf, schema=PDF_ELEMENT)
    return docs_df, pdf_df, exp


def _spans_tuples(rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequence_equality(spark, corpus):
    docs_df, pdf_df, exp = corpus
    result = extract(spark, docs_df, pdf_df, parallelism=8).collect()
    got = _spans_tuples([r.asDict(recursive=True) for r in result])
    want = _spans_tuples(exp)
    assert set(got) == set(want)
    bad = [d for d in want if got[d] != want[d]]
    assert not bad, f"{len(bad)} docs mismatch, first: {bad[0]}: " \
        f"got={got[bad[0]][:3]} want={want[bad[0]][:3]}"


def test_no_errors_on_clean_corpus(spark, corpus):
    docs_df, pdf_df, _ = corpus
    errs = extract(spark, docs_df, pdf_df, parallelism=8).filter(
        F.col("error").isNotNull()
    ).count()
    assert errs == 0


def test_failure_containment(spark):
    """A hopeless payload must produce an error doc, not a task failure
    (reference .default()/forgiving semantics, operators_base.py:186-194)."""
    rows = [
        {"doc_id": "ok", "spans": [
            {"kind": "text", "text": "a\n\nb", "media_ref": None, "offset": 0}]},
        # html kernel sees None text -> extract_html_spans('') -> no spans;
        # make a doc whose pdf_ref has no elements: yields empty spans
        {"doc_id": "empty_pdf", "spans": [
            {"kind": "pdf_ref", "text": None,
             "media_ref": "media://pdf/none", "offset": 0}]},
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_IN)
    out = {r["doc_id"]: r.asDict(recursive=True)
           for r in extract(spark, df, None, parallelism=2).collect()}
    assert [s["text"] for s in out["ok"]["spans"]] == ["a", "b"]
    assert out["empty_pdf"]["spans"] == []


def test_offsets_are_running_char_positions(spark, corpus):
    docs_df, pdf_df, _ = corpus
    one = extract(spark, docs_df, pdf_df, parallelism=8).limit(5).collect()
    for r in one:
        off = 0
        for s in r["spans"]:
            assert s["offset"] == off
            off += len(s["text"] or "")


def test_resume_from_partial_commit(spark, corpus, tmp_path):
    """Kill-after-partial-commit then rerun == single run (north rule
    resumability; the output snapshot is the checkpoint)."""
    from pydoxtools_spark.pipeline import run_resumable

    docs_df, pdf_df, exp = corpus
    out = str(tmp_path / "resume_out")
    half = docs_df.limit(N_DOCS // 2)
    r1 = run_resumable(spark, half, pdf_df, out, parallelism=4)
    assert r1["docs_processed"] == N_DOCS // 2
    r2 = run_resumable(spark, docs_df, pdf_df, out, parallelism=4)
    assert r2["docs_processed"] == N_DOCS - N_DOCS // 2
    got = spark.read.parquet(f"{out}/extracted")
    assert got.count() == N_DOCS
    assert got.select("doc_id").distinct().count() == N_DOCS
    g = _spans_tuples([r.asDict(recursive=True) for r in got.collect()])
    w = _spans_tuples(exp)
    assert all(g[d] == w[d] for d in w)
    # third run: nothing to do
    r3 = run_resumable(spark, docs_df, pdf_df, out, parallelism=4)
    assert r3["docs_processed"] == 0
    # metrics rows exist with lineage
    from pydoxtools_spark.pipeline import read_metrics
    m = read_metrics(spark, out)
    assert m.count() >= 2
    assert m.filter("docs_processed > 0").count() >= 2


def _metrics_by_run(spark, out):
    from pydoxtools_spark.pipeline import read_metrics

    return {r["run_id"]: r for r in read_metrics(spark, out).groupBy(
        "run_id").agg(*(F.sum(c).alias(c) for c in (
            "docs_processed", "parse_failures", "span_count"))).collect()}


def test_read_metrics_equal_each_runs_commit(spark, corpus, tmp_path):
    """read_metrics derives per-partition metrics from the committed
    snapshots: per run they sum to the marker's doc count and to the
    run's own counters, failures included, in schemas.METRICS shape."""
    import json

    from pydoxtools_spark.pipeline import read_metrics, run_resumable
    from pydoxtools_spark.schemas import METRICS

    docs_df, pdf_df, _ = corpus
    out = str(tmp_path / "metrics_out")
    bad = spark.createDataFrame([{"doc_id": "bad", "spans": [
        {"kind": "bogus_kind", "text": "x", "media_ref": None,
         "offset": 0}]}], schema=DOCUMENTS_IN)
    res = {
        "a": run_resumable(spark, docs_df.limit(N_DOCS // 3), pdf_df, out,
                           run_id="a", parallelism=4),
        "b": run_resumable(spark, docs_df.unionByName(bad), pdf_df, out,
                           run_id="b", parallelism=4),
    }
    assert res["b"]["parse_failures"] == 1
    got = _metrics_by_run(spark, out)
    assert set(got) == {"a", "b"}
    for run_id, r in res.items():
        with open(f"{out}/_snapshots/{run_id}.json") as fh:
            marker = json.load(fh)
        assert got[run_id]["docs_processed"] == marker["docs"] \
            == r["docs_processed"]
        assert got[run_id]["parse_failures"] == r["parse_failures"]
        assert got[run_id]["span_count"] == r["span_count"]
        assert marker["elapsed_ms"] == r["elapsed_ms"]
    m = read_metrics(spark, out)
    assert [(f.name, f.dataType) for f in m.schema] == \
        [(f.name, f.dataType) for f in METRICS]
    assert {r["input_snapshot"] for r in m.collect()} == {
        f"{out}/extracted/run_id=a", f"{out}/extracted/run_id=b"}
    assert read_metrics(spark, str(tmp_path / "empty")).count() == 0


def test_metrics_survive_a_crash_after_the_commit(spark, corpus, tmp_path,
                                                  monkeypatch):
    """A run that dies right after its marker commit keeps its metrics:
    they are derived from the committed snapshot, so the retry under
    the same run_id (already committed, writes nothing) loses nothing."""
    from pydoxtools_spark import pipeline

    docs_df, pdf_df, _ = corpus
    out = str(tmp_path / "commit_crash")
    commit = pipeline._commit_snapshot

    def commit_then_die(*args, **kwargs):
        commit(*args, **kwargs)
        raise RuntimeError("killed after the commit")

    monkeypatch.setattr(pipeline, "_commit_snapshot", commit_then_die)
    with pytest.raises(RuntimeError, match="killed after the commit"):
        pipeline.run_resumable(spark, docs_df, pdf_df, out, run_id="r1",
                               parallelism=4)
    monkeypatch.setattr(pipeline, "_commit_snapshot", commit)
    retry = pipeline.run_resumable(spark, docs_df, pdf_df, out,
                                   run_id="r1", parallelism=4)
    assert retry.get("already_committed")
    committed = pipeline.read_extracted(spark, out).count()
    assert committed == N_DOCS
    assert _metrics_by_run(spark, out)["r1"]["docs_processed"] == committed


def _text_docs(spark, ids):
    return spark.createDataFrame([{"doc_id": d, "spans": [
        {"kind": "text", "text": f"para {d}\n\nmore", "media_ref": None,
         "offset": 0}]} for d in ids], schema=DOCUMENTS_IN)


def test_read_metrics_is_one_scan(spark, tmp_path):
    """The committed set is read as one relation: read_metrics over
    three committed runs plans one parquet scan and no Union, and its
    rows equal each run's own counters."""
    import re

    from pydoxtools_spark.pipeline import read_metrics, run_resumable

    out = str(tmp_path / "one_scan")
    res = {run_id: run_resumable(spark, _text_docs(spark, ids), None, out,
                                 run_id=run_id, parallelism=2)
           for run_id, ids in (("r1", "ab"), ("r2", "cde"), ("r3", "f"))}
    m = read_metrics(spark, out)
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \S*\[[^\]]*\] parquet", plan)) == 1, plan
    assert "Union" not in plan
    got = _metrics_by_run(spark, out)
    assert {r: got[r]["docs_processed"] for r in got} == {
        r: res[r]["docs_processed"] for r in res} == {"r1": 2, "r2": 3, "r3": 1}


def test_read_extracted_returns_extracted_columns(spark, tmp_path):
    """read_extracted has EXTRACTED's columns and types, on an empty
    out dir and on a committed one alike: the write-time partition_id
    and the run_id directory stay inside the reader."""
    from pydoxtools_spark.pipeline import read_extracted, run_resumable
    from pydoxtools_spark.schemas import EXTRACTED

    out = str(tmp_path / "schema_out")
    empty = read_extracted(spark, out).schema
    run_resumable(spark, _text_docs(spark, "ab"), None, out, parallelism=2)
    committed = read_extracted(spark, out)
    want = [(f.name, f.dataType.simpleString()) for f in EXTRACTED]
    for schema in (empty, committed.schema):
        assert [(f.name, f.dataType.simpleString()) for f in schema] == want
    assert empty == committed.schema
    assert sorted(r["doc_id"] for r in committed.collect()) == ["a", "b"]


@pytest.mark.parametrize("run_id", [
    "a/b", "../x", "a%41", "__HIVE_DEFAULT_PARTITION__", 7])
def test_run_id_outside_the_rule_raises_before_any_write(spark, tmp_path,
                                                         run_id):
    """A run_id names the run dir the reader parses back: one that
    cannot round-trip is a ValueError, and nothing is written."""
    import os

    from pydoxtools_spark.pipeline import run_resumable

    out = tmp_path / "bad_run_id"
    with pytest.raises(ValueError, match="run_id"):
        run_resumable(spark, _text_docs(spark, "a"), None, str(out),
                      run_id=run_id, parallelism=2)
    assert not os.path.exists(out)
    assert os.listdir(tmp_path) == []


def test_run_id_reads_back_as_written(spark, tmp_path):
    """A run committed as "007" reads back as "007" (a string, not 7),
    with its marker's elapsed_ms; a filter on run_id is a partition
    filter of the one scan."""
    from pydoxtools_spark.pipeline import read_metrics, run_resumable

    out = str(tmp_path / "run_id_out") + "/"
    r = run_resumable(spark, _text_docs(spark, "abc"), None, out,
                      run_id="007", parallelism=2)
    run_resumable(spark, _text_docs(spark, "d"), None, out, run_id="7",
                  parallelism=2)
    only = read_metrics(spark, out).filter(F.col("run_id") == "007")
    plan = only._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(run_id" in plan
    assert "(run_id#" in plan and "= 007)" in plan
    rows = only.collect()
    assert {row["run_id"] for row in rows} == {"007"}
    assert sum(row["docs_processed"] for row in rows) == 3
    assert {row["elapsed_ms"] for row in rows} == {r["elapsed_ms"]}
    assert set(_metrics_by_run(spark, out)) == {"007", "7"}


def test_marker_without_string_run_id_is_torn(spark, tmp_path):
    """A marker whose run_id is missing or not a string is torn: its
    run is uncommitted, so its docs are extracted again."""
    import json

    from pydoxtools_spark.pipeline import (
        list_snapshots, read_extracted, run_resumable)

    out = str(tmp_path / "torn_out")
    run_resumable(spark, _text_docs(spark, "ab"), None, out, run_id="r1",
                  parallelism=2)
    marker = f"{out}/_snapshots/r1.json"
    with open(marker) as fh:
        record = json.load(fh)
    for torn in ({k: v for k, v in record.items() if k != "run_id"},
                 {**record, "run_id": 1}):
        with open(marker, "w") as fh:
            json.dump(torn, fh)
        assert list_snapshots(out) == []
        assert read_extracted(spark, out).count() == 0
    r = run_resumable(spark, _text_docs(spark, "ab"), None, out,
                      run_id="r2", parallelism=2)
    assert r["docs_processed"] == 2


def test_crashed_run_dir_is_invisible_until_manifested(spark, corpus, tmp_path):
    """A run killed mid-write leaves parquet WITHOUT a snapshot marker:
    the resume anti-join must ignore it and re-extract its docs (no
    silent data loss), and read_extracted must not expose it."""
    from pydoxtools_spark.pipeline import (
        list_snapshots, read_extracted, run_resumable)

    docs_df, pdf_df, exp = corpus
    out = str(tmp_path / "crash_out")
    # simulate the crash: half the docs written to a run dir, no marker
    half = docs_df.limit(N_DOCS // 2)
    from pydoxtools_spark.pipeline import extract
    extract(spark, half, pdf_df, parallelism=4).withColumn(
        "partition_id", F.lit(0)).write.parquet(
        f"{out}/extracted/run_id=deadbeef")
    assert list_snapshots(out) == []
    assert read_extracted(spark, out).count() == 0

    # a real run now processes ALL docs (the unmanifested dir is invisible)
    r = run_resumable(spark, docs_df, pdf_df, out, parallelism=4)
    assert r["docs_processed"] == N_DOCS
    committed = read_extracted(spark, out)
    assert committed.select("doc_id").distinct().count() == N_DOCS
    g = _spans_tuples([r.asDict(recursive=True) for r in committed.collect()])
    w = _spans_tuples(exp)
    assert all(g[d] == w[d] for d in w)


def test_extract_edge_inputs(spark):
    """Degenerate inputs: empty spans array and a null html payload
    yield empty span output with no error; an UNKNOWN input kind is a
    contained error (auditable, not silent data loss)."""
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN

    docs = spark.createDataFrame(
        [{"doc_id": "empty", "spans": []},
         {"doc_id": "unknown", "spans": [
             {"kind": "future_kind", "text": "x", "media_ref": None,
              "offset": 0}]},
         {"doc_id": "nullhtml", "spans": [
             {"kind": "html", "text": None, "media_ref": None,
              "offset": 0}]}],
        schema=DOCUMENTS_IN)
    rows = {r["doc_id"]: r for r in
            extract(spark, docs, None, parallelism=2).collect()}
    assert set(rows) == {"empty", "unknown", "nullhtml"}
    for d in ("empty", "nullhtml"):
        assert rows[d]["spans"] == [] and rows[d]["error"] is None
    assert rows["unknown"]["spans"] == []
    assert "unsupported input kind: future_kind" in rows["unknown"]["error"]


def test_flagship_plan_has_no_quadratic_joins(spark):
    """Plan audit (scale gate): the flagship extraction plan and the
    new heavy queries contain no CartesianProduct and no
    BroadcastNestedLoopJoin — every join is an equi/banded join that
    survives a 100x scale-up."""
    import __spark_entry__ as em

    for q in ("html_main_content", "markdown_spans", "pdf_table_chars",
              "line_dedup", "boilerplate_lines", "decontaminate",
              "textrank_keywords", "media_features"):
        df = em.queries()[q](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_replay_committed_run_id_is_noop_and_keeps_data(spark, corpus,
                                                        tmp_path):
    """Replaying run_resumable with an ALREADY-COMMITTED run_id must be
    a pure no-op: the committed run dir and its manifest survive
    (advisor r3: the pre-guard else-branch rmtree'd the committed
    parquet while its manifest still referenced it)."""
    import os

    from pydoxtools_spark.pipeline import read_extracted, run_resumable

    docs_df, pdf_df, _exp = corpus
    out = str(tmp_path / "replay_out")
    r1 = run_resumable(spark, docs_df, pdf_df, out, run_id="fixedrun",
                       parallelism=4)
    assert r1["docs_processed"] == N_DOCS
    run_dir = f"{out}/extracted/run_id=fixedrun"
    assert os.path.isdir(run_dir)

    r2 = run_resumable(spark, docs_df, pdf_df, out, run_id="fixedrun",
                       parallelism=4)
    assert r2.get("already_committed") is True
    assert r2["docs_processed"] == 0
    assert r2["committed_docs"] == N_DOCS
    # the committed data is still there and still readable
    assert os.path.isdir(run_dir)
    assert os.path.exists(f"{out}/_snapshots/fixedrun.json")
    assert read_extracted(spark, out).count() == N_DOCS


def test_ref_explode_prunes_span_text_from_scan(spark, tmp_path):
    """Plan audit (the r2-named 100x mitigation): the ref-only explode
    must push a kind+media_ref-only ReadSchema into the parquet scan —
    span.text never leaves storage for pdf/image/docx/ocr branches.
    Guards against a regression to the transform()-lambda form, which
    does NOT prune (verified on Spark 4.1)."""
    import re

    from pydoxtools_spark.pipeline import explode_input_refs, extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [{"doc_id": "a", "spans": [
            {"kind": "pdf_ref", "text": "payload", "media_ref": "m://1",
             "offset": 0}]}],
        schema=DOCUMENTS_IN).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = explode_input_refs(docs)._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("text" not in s for s in schemas), schemas
    # and the full extract() plan contains BOTH scans: the pruned one
    # for ref branches and the full one for payload branches
    eplan = extract(spark, docs, None, parallelism=2)._jdf.queryExecution() \
        .executedPlan().toString()
    eschemas = re.findall(r"ReadSchema: (\S+)", eplan)
    assert any("text" not in s for s in eschemas), eschemas


def _text_html_docx_input(spark):
    from pydoxtools_spark.functions.docx import build_tiny_docx

    docs = spark.createDataFrame([
        {"doc_id": "t", "spans": [
            {"kind": "text", "text": "a\n\nb", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "# Title\n\n- one\n- two\n\n**x** `y`",
             "media_ref": None, "offset": 0}]},
        {"doc_id": "h", "spans": [
            {"kind": "html", "text": "<html><body><p>hi</p></body></html>",
             "media_ref": None, "offset": 0}]},
        {"doc_id": "d", "spans": [
            {"kind": "docx_bytes", "text": None, "media_ref": "blob://d",
             "offset": 0}]},
    ], schema=DOCUMENTS_IN)
    blobs = spark.createDataFrame(
        [("blob://d", build_tiny_docx([("text", "body")]))],
        "ref string, content binary")
    return docs, blobs


def test_extract_plans_one_payload_kernel_and_one_span_exchange(spark):
    """Text, markdown, html and container spans share ONE python
    kernel behind ONE hash repartition of the exploded spans: a kernel
    per branch re-scanned, re-exploded and re-shuffled the payload for
    each (Catalyst pushes each branch's kind filter below the
    repartition, so the branches never share an exchange)."""
    docs, blobs = _text_html_docx_input(spark)
    df = extract(spark, docs, None, parallelism=2, doc_blobs=blobs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    out = {r["doc_id"]: [(s["kind"], s["text"]) for s in r["spans"]]
           for r in df.collect()}
    assert out["t"][:2] == [("text", "a"), ("text", "b")]
    assert ("header", "Title") in out["t"]
    assert out["h"] == [("text", "hi")]
    assert out["d"] == [("text", "body")]


def test_second_extract_write_hits_codegen_cache(spark, corpus, tmp_path):
    """A pass generates more classes than Spark's default 100-entry
    codegen cache holds, so with it every pass recompiled ~200 classes
    in Janino.  session.get_spark sizes the cache to hold a pass: a
    repeated identical write compiles (almost) nothing.  The first
    write fills the cache, so the check compares the two after it."""
    docs_df, pdf_df, _ = corpus
    docs, blobs = _text_html_docx_input(spark)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def write(name):
        extract(spark, docs_df.unionByName(docs), pdf_df, parallelism=4,
                doc_blobs=blobs).write.parquet(str(tmp_path / name))
        return compiles.getCount()

    write("warm")
    first = write("first")
    assert write("second") - first <= 5


def test_retried_run_id_after_lost_marker_commits_once(spark, corpus,
                                                       tmp_path):
    """A run whose data write landed but whose marker was lost (a crash
    between the two) and is retried under the same run_id must commit
    each doc once: the retry overwrites the unmanifested run dir
    instead of appending a second copy to it."""
    import os

    from pydoxtools_spark.pipeline import read_extracted, run_resumable

    docs_df, pdf_df, _ = corpus
    five = docs_df.limit(5)
    out = str(tmp_path / "retry_out")
    run_resumable(spark, five, pdf_df, out, run_id="r1", parallelism=2)
    os.remove(f"{out}/_snapshots/r1.json")
    r = run_resumable(spark, five, pdf_df, out, run_id="r1", parallelism=2)
    assert r["docs_processed"] == 5
    got = read_extracted(spark, out)
    assert got.count() == 5
    assert got.select("doc_id").distinct().count() == 5


@pytest.mark.parametrize("text", [
    "a\tb\n\n\tc\t",            # tab: not stripped by trim
    "a\r\n\r\nb\r\n \r\nc",     # CRLF blank lines
    "a\n\u00a0\nb",            # no-break space: not Java \s
    "a\n\u2028\nb\n\n\u2028",  # line separator: not Java \s
    "  lead\n\n\n trail  ",     # leading/trailing spaces
    "a\n\x0b\x0c\nb\n\x85\nc",  # VT/FF are Java \s, NEL is not
    " \n\n \t\n\n ",            # whitespace only
    "",
    None,
])
def test_sql_paragraphs_match_spark_split(spark, text):
    """The payload kernel's paragraph split equals the Spark SQL
    expression it replaced, position included:
    posexplode(split(trim(x), PARAGRAPH_SPLIT_REGEX)), trimmed, empty
    parts dropped."""
    from pydoxtools_spark.constants import PARAGRAPH_SPLIT_REGEX
    from pydoxtools_spark.functions.spantext import sql_paragraphs

    rows = spark.createDataFrame([(text,)], "x string").select(
        F.posexplode(F.split(F.trim("x"), PARAGRAPH_SPLIT_REGEX))
        .alias("pos", "para")
    ).filter(F.length(F.trim("para")) > 0).select(
        "pos", F.trim("para").alias("para")).collect()
    assert sql_paragraphs(text) == [(r["pos"], r["para"]) for r in rows]

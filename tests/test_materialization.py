"""The one materialization policy (session.checkpoint / session.pin):
the session checkpoint dir decides local vs reliable mode, every
operator returns identical rows in both, and no module outside
session.py materializes on its own."""
import pathlib
import re

import pytest

from pydoxtools_spark.operators import dedup, similarity

PKG = pathlib.Path(__file__).resolve().parent.parent / "pydoxtools_spark"

_TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "the quick brown fox jumps over the lazy dog near the old mill"),
    (4, "completely different content here entirely about something else"),
]


def _texts(spark):
    return spark.createDataFrame(_TEXTS, ["doc_id", "text"])


def _pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (7, 8), (8, 9)],
                                 ["id_a", "id_b"])


def _edges(spark):
    # node 3 is dangling: pagerank then checkpoints every round
    edges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 3.0)]
    return spark.createDataFrame([("d", s, t, w) for s, t, w in edges],
                                 ["doc_id", "src", "dst", "weight"])


OPERATORS = {
    "minhash_dedup_pairs": lambda spark: dedup.minhash_dedup_pairs(
        _texts(spark), threshold=0.5, num_perm=16, bands=8),
    "ngram_jaccard_pairs": lambda spark: dedup.ngram_jaccard_pairs(
        _texts(spark), threshold=0.5),
    "duplicated_window_spans": lambda spark: dedup.duplicated_window_spans(
        _texts(spark), n=6, min_docs=2),
    "connected_components": lambda spark: dedup.connected_components(
        _pairs(spark)),
    "pagerank": lambda spark: similarity.pagerank(_edges(spark), iters=5)
    .selectExpr("doc_id", "id", "round(rank, 9) AS rank"),
}


@pytest.fixture
def reliable_mode(spark, tmp_path):
    """Yields a switch into loss-safe mode (session checkpoint dir under
    tmp_path); on teardown the shared session is back in local mode, or
    every later test would silently run reliable mode."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    root = tmp_path / "ckpt"

    def enable():
        sc.setCheckpointDir(str(root))
        return root

    try:
        yield enable
    finally:
        # pyspark has no public unset: assign scala None to the field
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_local_and_reliable_checkpoint_modes_agree(spark, reliable_mode, op):
    run = OPERATORS[op]
    local = sorted(map(tuple, run(spark).collect()))
    assert local, "fixture must produce rows"
    root = reliable_mode()
    reliable = sorted(map(tuple, run(spark).collect()))
    assert reliable == local
    # reliable mode really wrote checkpoint files under the session dir
    assert list(root.glob("*/rdd-*")), op


def test_materialization_only_in_session_module():
    """The policy cannot scatter again: materialization calls (caches
    as well as lineage-truncating checkpoints) appear in session.py
    only, in the package and in the driver queries."""
    pat = re.compile(r"localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(")
    files = [p for p in sorted(PKG.rglob("*.py")) if p != PKG / "session.py"]
    hits = [
        f"{p.relative_to(PKG.parent)}:{n}"
        for p in files + [PKG.parent / "__spark_entry__.py"]
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_extract_files_reads_files_added_between_calls(spark, tmp_path):
    """A second extract_files over a directory that grew (plain file
    writes, which Spark does not see) returns every file: no cache of
    the first call's scan is plan-matched by the second.  The engine
    leaves nothing in the CacheManager either."""
    from pydoxtools_spark.functions.pdfparse import build_tiny_pdf
    from pydoxtools_spark.pipeline import extract_files

    def pdf(text):
        return build_tiny_pdf([{"texts": [(72.0, 700.0, 12.0, text)]}],
                              compress=True)

    d = tmp_path / "grow"
    d.mkdir()
    (d / "a.txt").write_text("alpha one\n\nalpha two")
    (d / "b.pdf").write_bytes(pdf("bravo pdf"))

    def names():
        return sorted(r["doc_id"].rsplit("/", 1)[-1] for r in extract_files(
            spark, str(d), parallelism=2).collect())

    assert names() == ["a.txt", "b.pdf"]
    (d / "c.txt").write_text("charlie")
    (d / "d.pdf").write_bytes(pdf("delta pdf"))
    assert names() == ["a.txt", "b.pdf", "c.txt", "d.pdf"]

    extract_files(spark, str(d), parallelism=2).write.parquet(
        str(tmp_path / "out"))
    assert _cache_manager_empty(spark)


def _write_docs(root, lo, hi, part):
    """gen_corpus docs [lo, hi) as one more parquet file in each of
    root/docs and root/pdf, written by pyarrow (another writer: the
    Spark session does not learn of the new files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pydoxtools_spark.fixtures import gen_doc
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    docs, pdf, exp = [], [], []
    for i in range(lo, hi):
        d, p, e = gen_doc(i)
        docs.append(d)
        pdf.extend(p)
        exp.append(e)
    for name, rows, schema in (("docs", docs, DOCUMENTS_IN),
                               ("pdf", pdf, PDF_ELEMENT)):
        (root / name).mkdir(exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
            str(root / name / f"part-{part}.parquet"))
    return exp


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_resume_reads_inputs_appended_by_another_writer(
        spark, reliable_mode, tmp_path, mode):
    """run_resumable resumed over input directories that another writer
    appended to extracts the new docs from the new rows: every
    committed doc equals its golden, pdf spans included, in both
    materialization modes, and the run leaves no CacheManager entry."""
    from pydoxtools_spark.pipeline import read_extracted, run_resumable

    if mode == "reliable":
        reliable_mode()
    root = tmp_path / "in"
    root.mkdir()
    out = str(tmp_path / "out")

    def resume():
        return run_resumable(spark, spark.read.parquet(str(root / "docs")),
                             spark.read.parquet(str(root / "pdf")), out,
                             parallelism=4)

    exp = _write_docs(root, 0, 20, 0)
    assert resume()["docs_processed"] == 20
    exp += _write_docs(root, 20, 40, 1)
    assert resume()["docs_processed"] == 20
    assert _cache_manager_empty(spark)

    def spans(rows):
        return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                               s["offset"]) for s in r["spans"]]
                for r in rows}

    got = read_extracted(spark, out).collect()
    assert len(got) == 40
    assert all(r["error"] is None for r in got)
    assert spans(got) == spans(exp)

"""Seeded inputs for the benchmark workloads, cached in the checkout.

Every input is a pure function of (workload, seed, size):

* the interleaved document table comes from the fixture generator
  ``fixtures.gen_doc`` (html, text, markdown, wiki, pdf_ref and image
  spans plus the 1-in-97 giant skew docs), with its golden
  ``extracted_expected``, in the layout ``fixtures.write_corpus``
  writes;
* the raw files are made with the public builders (``build_tiny_pdf``,
  ``build_pdf_cid``, ``build_tiny_docx``, ``build_tiny_rtf``) plus html
  and plain-text files, in the repository's uniform mixed-directory
  format mix (file ``i`` is kind ``i % 6``).  They are stored both as a
  directory of files and as a blob side table, and the expected spans
  of each file are computed once by the single-process oracle
  functions;
* the curation table is the span text of the golden extraction of a
  fixture corpus plus planted near-duplicates.

A cache entry is a directory named after its key with a ``.complete``
marker written last, so an interrupted build is rebuilt, never reused.
The key holds a hash of the sources that make the inputs and their
expected outputs (this file and the engine package), so an entry made
by other code is never read.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil

_WORDS = (
    "archive budget charter dossier estimate figure guideline handbook "
    "invoice journal ledger memo notice outline policy quarterly record "
    "schedule summary tender update volume warranty yield zone audit "
    "benchmark catalog digest edition folio gazette index manual "
    "register roster statement survey syllabus timetable"
).split()

RAW_KINDS = ("pdf", "pdf_cid", "docx", "rtf", "html", "txt")

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = os.path.join(os.path.dirname(HERE), "pydoxtools_spark")


def source_hash(*paths: str) -> str:
    """sha256 over the .py files under `paths` (files or directories),
    by relative name and content, in sorted order."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(glob.glob(os.path.join(p, "**", "*.py"),
                                   recursive=True))
        else:
            files.append(p)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, os.path.dirname(HERE)).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def inputs_hash() -> str:
    """The generators, builders and oracle parsers: this file and the
    engine package."""
    return source_hash(os.path.abspath(__file__), ENGINE)


def code_hash() -> str:
    """Everything a result depends on: the engine and the benchmark."""
    return source_hash(ENGINE, HERE)


def cache_dir(root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(root, "cache",
                        f"{workload}-s{seed}-{size}-{inputs_hash()}")


def _cached(path: str, build) -> str:
    """Run build(path) unless `path` holds a complete entry.  A new
    entry replaces those of the same key made by other sources."""
    marker = os.path.join(path, ".complete")
    if not os.path.exists(marker):
        for stale in glob.glob(path.rsplit("-", 1)[0] + "-*"):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return path


def with_offsets(spans):
    """(kind, text, media_ref) list -> canonical span tuples with the
    running char offset of the doc's text stream."""
    out, off = [], 0
    for kind, text, ref in spans:
        out.append((kind, text, ref, off))
        off += len(text) if text else 0
    return out


# ------------------------------------------------------ raw file corpus


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(5, 11))]
    return " ".join(words).capitalize() + "."


def _raw_file(i: int, rng: random.Random) -> tuple[str, bytes]:
    from pydoxtools_spark.functions.docx import build_tiny_docx
    from pydoxtools_spark.functions.pdfparse import build_pdf_cid, build_tiny_pdf
    from pydoxtools_spark.functions.rtf import build_tiny_rtf

    kind = RAW_KINDS[i % len(RAW_KINDS)]
    title = f"{rng.choice(_WORDS).capitalize()} {i}"
    paras = [" ".join(_sentence(rng) for _ in range(rng.randint(1, 3)))
             for _ in range(rng.randint(1, 4))]
    items = [_sentence(rng) for _ in range(rng.randint(2, 4))]
    name = f"f{i:05d}"
    if kind in ("pdf", "pdf_cid"):
        pages = []
        for _p in range(rng.randint(1, 3)):
            texts, y = [(72.0, 740.0, 18.0, title)], 700.0
            for para in paras:
                texts.append((72.0, y, 10.0, para))
                y -= 40.0
            pages.append({"texts": texts})
        if kind == "pdf":
            data = build_tiny_pdf(pages, compress=True, use_tj=True)
        else:
            data = build_pdf_cid(pages)
        return name + ".pdf", data
    with_list = rng.random() < 0.5
    blocks = [("header", title, 1)] + [("text", p) for p in paras]
    if with_list:
        blocks.append(("list", items))
    if kind == "docx":
        return name + ".docx", build_tiny_docx(blocks)
    if kind == "rtf":
        return name + ".rtf", build_tiny_rtf(blocks)
    if kind == "html":
        body = "".join(f"<p>{p}</p>" for p in paras)
        if with_list:
            body += "<ul>" + "".join(f"<li>{x}</li>" for x in items) + "</ul>"
        html = (f"<html><head><title>{title}</title></head><body>"
                f"<h1>{title}</h1>{body}</body></html>")
        return name + ".html", html.encode()
    return name + ".txt", "\n\n".join([title] + paras).encode()


def oracle_spans(name: str, data: bytes) -> list[tuple]:
    """Expected (kind, text, media_ref) of one raw file, from the
    single-process oracle functions the engine must agree with."""
    if name.endswith(".pdf"):
        import pandas as pd

        from pydoxtools_spark.functions.pdflayout import extract_pdf_spans
        from pydoxtools_spark.functions.pdfparse import pdf_elements_from_bytes

        return extract_pdf_spans(pd.DataFrame(pdf_elements_from_bytes(data, name)))
    if name.endswith(".docx"):
        from pydoxtools_spark.functions.docx import extract_docx_spans

        return extract_docx_spans(data)
    if name.endswith(".rtf"):
        from pydoxtools_spark.functions.rtf import extract_rtf_spans

        return extract_rtf_spans(data)
    if name.endswith(".html"):
        from pydoxtools_spark.functions.htmlparse import extract_html_spans

        return extract_html_spans(data.decode())
    from pydoxtools_spark.functions.spantext import split_paragraphs

    return [("text", p, None) for p in split_paragraphs(data.decode())]


_IN_KIND = {".pdf": "pdf_bytes", ".docx": "docx_bytes", ".rtf": "rtf_bytes",
            ".html": "html", ".txt": "text"}


def _write_raw_files(path: str, n_files: int, seed: int) -> None:
    """Raw files as extract() takes them after ingest routing: one
    documents_in row per file (files_docs.parquet; byte formats as a
    *_bytes span referencing the blob) and the blob side table
    (blobs.parquet: ref, content, in_kind), plus files_expected.json.
    The same files also go to raw/, for the directory-scan path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pydoxtools_spark.schemas import DOCUMENTS_IN

    rng = random.Random(seed * 1_000_003 + 17)
    docs, blobs, expected = [], [], {}
    os.makedirs(os.path.join(path, "raw"))
    for i in range(n_files):
        name, data = _raw_file(i, rng)
        with open(os.path.join(path, "raw", name), "wb") as fh:
            fh.write(data)
        kind = _IN_KIND[os.path.splitext(name)[1]]
        if kind.endswith("_bytes"):
            span = {"kind": kind, "text": None, "media_ref": name}
            blobs.append({"ref": name, "content": data, "in_kind": kind})
        else:
            span = {"kind": kind, "text": data.decode(), "media_ref": None}
        docs.append({"doc_id": name, "spans": [dict(span, offset=0)]})
        expected[name] = with_offsets(oracle_spans(name, data))
    pq.write_table(pa.Table.from_pylist(docs, schema=to_arrow_schema(DOCUMENTS_IN)),
                   os.path.join(path, "files_docs.parquet"))
    pq.write_table(pa.Table.from_pylist(blobs, schema=pa.schema(
        [("ref", pa.string()), ("content", pa.binary()),
         ("in_kind", pa.string())])), os.path.join(path, "blobs.parquet"))
    with open(os.path.join(path, "files_expected.json"), "w") as fh:
        json.dump(expected, fh)


def _write_parts(path: str, rows: list[dict], schema, files: int = 4) -> None:
    """rows -> `files` parquet files of contiguous slices, so a scan has
    that many partitions (as fixtures.write_corpus's output does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = max(-(-len(rows) // files), 1)
    for part, lo in enumerate(range(0, len(rows), step)):
        pq.write_table(pa.Table.from_pylist(rows[lo:lo + step], schema=schema),
                       os.path.join(path, f"part-{part:05d}.parquet"))


def _write_corpus(path: str, n_docs: int, seed: int) -> None:
    """fixtures.gen_doc rows -> documents_in / pdf_elements /
    extracted_expected parquet.  Generated here in plain python, so
    making inputs never warms the measured JVM."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from pydoxtools_spark.fixtures import gen_doc
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    docs, pdf, exp = [], [], []
    for i in range(n_docs):
        d, p, e = gen_doc(i, seed)
        docs.append(d)
        pdf.extend(p)
        exp.append(e)
    for name, rows, schema in (("documents_in", docs, DOCUMENTS_IN),
                               ("pdf_elements", pdf, PDF_ELEMENT),
                               ("extracted_expected", exp, DOCUMENTS_IN)):
        _write_parts(os.path.join(path, f"{name}.parquet"), rows,
                     to_arrow_schema(schema))


def extract_inputs(root: str, seed: int, n_docs: int, n_files: int) -> str:
    """Cache entry with corpus/ (the fixture corpus) and the raw-file
    tables of _write_raw_files."""
    def build(path):
        _write_corpus(os.path.join(path, "corpus"), n_docs, seed)
        _write_raw_files(path, n_files, seed)

    return _cached(cache_dir(root, "extract_corpus", seed,
                             f"d{n_docs}-f{n_files}"), build)


# ---------------------------------------------------- curation corpus

MIN_CURATE_CHARS = 400
DUP_SUFFIX = "~dup"


def _near_dup(text: str, rng: random.Random) -> str:
    words = text.split(" ")
    j = rng.randrange(len(words))
    words[j] = rng.choice(_WORDS)
    return " ".join(words) + " revised"


def curate_rows(seed: int, n_docs: int, dup_frac: float = 0.1):
    """Span text of the golden extraction of fixture docs 0..n-1 plus
    planted near-duplicates `<doc_id>~dup`, which sort after their
    source, so keep-the-minimum-id must drop them.  Left out: docs
    shorter than MIN_CURATE_CHARS (near-empty texts all collide under
    MinHash) and the giant skew docs, which are 1% of the docs but ~40%
    of the shingles, so their seed-drawn sizes would set the pass time."""
    from pydoxtools_spark.fixtures import GIANT_DOC_PERIOD, gen_doc

    rows = []
    for i in range(n_docs):
        if i % GIANT_DOC_PERIOD == 13:
            continue
        exp = gen_doc(i, seed)[2]
        text = "\n".join(s["text"] for s in exp["spans"] if s["text"])
        if len(text) >= MIN_CURATE_CHARS:
            rows.append((exp["doc_id"], text))
    rng = random.Random(seed * 7_919 + 3)
    planted = [(doc_id + DUP_SUFFIX, _near_dup(text, rng))
               for doc_id, text in rng.sample(rows, int(len(rows) * dup_frac))]
    return rows + planted


def curate_inputs(root: str, seed: int, n_docs: int) -> str:
    """Cache entry with text.parquet/: (doc_id, text)."""
    import pyarrow as pa

    schema = pa.schema([("doc_id", pa.string()), ("text", pa.string())])

    def build(path):
        rows = [{"doc_id": d, "text": t} for d, t in curate_rows(seed, n_docs)]
        _write_parts(os.path.join(path, "text.parquet"), rows, schema)

    return _cached(cache_dir(root, "curate_dedup", seed, f"d{n_docs}"), build)

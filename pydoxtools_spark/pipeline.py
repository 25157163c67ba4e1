"""End-to-end extraction pipeline (Spark-first).

Logical plan (all relational steps are JVM-side / whole-stage-codegen;
Python runs only in Arrow-batched kernels, all of them through
kernels.py — the payload, blob-parse, OCR and routed-table kernels):

  documents_in (doc_id, spans)
    ├─ posexplode(spans) kind in (text, html) ──┐
    ├─ ref explode ─┬─ kind=docx/odt/epub/rtf_bytes ⋈ doc_blobs
    │               │                           └─ union → repartition
    │               │      (doc_id, span_idx) → ONE payload kernel:
    │               │      html parse | markdown/wiki parse (doc_type,
    │               │      MARKUP_GUARD-routed in the JVM) | container
    │               │      parse | plain-text paragraph split
    │               ├─ kind='pdf_ref'/'pdf_bytes' → join pdf_elements →
    │               │     per-(doc,page-bucket) routed table kernel
    │               │     (per-page chars/grid tables, both finished in
    │               │     the kernel) → relational assembly → join back
    │               ├─ kind='image_ref' → projection (+ OCR kernel)
    │               └─ unknown kind → contained error row
    └─ union → window(offset) → array_sort → collect per doc

Scale properties (SURVEY.md §4):
  * giant PDFs are split into page buckets BEFORE the kernel, so a
    5000-page doc parallelizes across executors; reading order is
    restored by a JVM-side array_sort on (span_idx, p_num, -y0, x0) —
    a per-doc sort, never a global sort;
  * the doc-level title threshold (median font size) is computed with
    F.median in a hash aggregate, not inside the kernel, keeping the
    kernel page-local;
  * payload spans are hash-repartitioned for balance; AQE handles
    residual skew;
  * failures never kill a task: kernels.map_rows turns a raising
    per-span parse into a KIND_ERROR row that surfaces as the `error`
    column + parse_failures metrics (reference semantics:
    .default()/forgiving_extracts, operators_base.py:186-194,
    dask_operators.py:48-57).
"""

from __future__ import annotations

import glob
import json as _json
import os as _os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .constants import (
    IN_KIND_DOCX_BYTES,
    IN_KIND_EPUB_BYTES,
    IN_KIND_HTML,
    IN_KIND_IMAGE_REF,
    IN_KIND_ODT_BYTES,
    IN_KIND_PDF_BYTES,
    IN_KIND_PDF_REF,
    IN_KIND_RTF_BYTES,
    IN_KIND_TEXT,
    KIND_ERROR,
    KIND_IMAGE,
    KIND_SENTINEL,
    KIND_TEXT,
)
from .dispatch import TYPE_MARKDOWN, TYPE_MEDIAWIKI
from .functions.spantext import sql_paragraphs
from .kernels import error_text, map_rows
from .schemas import EXTRACTED, METRICS, PDF_ELEMENT
from .session import pin

# mid-pipeline row shape: one output span + its reading-order sort keys
_OUT_SPAN = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_idx", IntegerType(), False),
        StructField("ord1", DoubleType(), False),
        StructField("ord2", DoubleType(), False),
        StructField("ord3", DoubleType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
    ]
)

def explode_input_spans(documents_in: DataFrame) -> DataFrame:
    return documents_in.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("in_kind"),
        F.col("span.text").alias("in_text"),
        F.col("span.media_ref").alias("in_ref"),
    )


def explode_input_refs(documents_in: DataFrame) -> DataFrame:
    """Ref-only twin of explode_input_spans: the span payload text is
    projected away BEFORE the explode via GetArrayStructFields
    (`spans.kind` / `spans.media_ref`) + arrays_zip, the shape Spark
    4.1's nested-schema pruning DOES push into the parquet scan —
    ReadSchema carries kind+media_ref only, never span.text.  (A
    `transform(spans, x -> struct(...))` lambda does NOT prune —
    verified on this Spark — and plain posexplode drags the full
    payload; this is the 100x mitigation named since r2: ref-only
    branches stop re-reading the text payload they never use.  With a
    flat Iceberg schema this projection would be free; with the nested
    interleaved layout the field-extraction IS the projection.)"""
    return documents_in.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.col("spans.kind").alias("kind"),
                F.col("spans.media_ref").alias("media_ref"),
            )
        ).alias("span_idx", "span"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("in_kind"),
        F.col("span.media_ref").alias("in_ref"),
    )


# ------------------------------------------------------------- branches


_CONTAINER_IN_KINDS = (IN_KIND_DOCX_BYTES, IN_KIND_ODT_BYTES,
                       IN_KIND_EPUB_BYTES, IN_KIND_RTF_BYTES)


def _markup_type() -> F.Column:
    """doc_type of a text span whose content dispatch detects as
    markdown/mediawiki (reference: a .md payload gets the pandoc
    pipeline, document.py:66-113 + extract_pandoc.py:98-167); NULL for
    html and container spans and for text the MARKUP_GUARD regex
    rejects.  The cheap guard short-circuits in front of the 14-regex
    detection ladder (CaseWhen skips the ladder when the guard is
    false), so plain prose pays one regex, not fifteen — measured ~20%
    of the text-path time at sf0.1."""
    from .dispatch import MARKUP_GUARD, doc_type_col

    return F.when(
        (F.col("in_kind") == IN_KIND_TEXT)
        & F.col("in_text").rlike(MARKUP_GUARD),
        doc_type_col(F.col("in_text")),
    )


def _parse_markup(raw, doc_type):
    """markdown/mediawiki payload -> spans (functions/markdown.py;
    reference extract_pandoc.py:98-167 block mapping)."""
    from .functions.markdown import extract_markdown_spans, extract_wiki_spans

    fn = extract_wiki_spans if doc_type == TYPE_MEDIAWIKI else extract_markdown_spans
    return fn(raw or "")


def _parse_container(content):
    """Zip-container / rtf document bytes -> spans.  Self-describing
    dispatch per blob (magic + part probes, NOT the declared in_kind —
    a mislabeled blob still parses, and a hopeless one errors): docx
    (functions/docx.py, ECMA-376), odt (functions/odf.py, OASIS ODF),
    epub (functions/odf.py, XHTML chapters through the html kernel in
    spine order) — the reference's pandoc coverage
    (extract_pandoc.py:98-167) rebuilt from the container specs."""
    from .functions.docx import extract_docx_spans, is_docx
    from .functions.odf import (
        extract_epub_spans,
        extract_odt_spans,
        is_epub,
        is_odt,
    )
    from .functions.rtf import extract_rtf_spans, is_rtf

    if is_rtf(content):
        return extract_rtf_spans(content)
    if is_docx(content):
        return extract_docx_spans(content)
    if is_epub(content):
        return extract_epub_spans(content)
    if is_odt(content):
        return extract_odt_spans(content)
    raise ValueError(
        "unrecognized container (rtf/docx/odt/epub probes all negative)")


def _parse_payload(in_kind, text, doc_type, content):
    """One payload span -> [(ord1, (kind, text, media_ref))]: html
    parse, markdown/wiki parse, container parse, or the blank-line
    paragraph split of plain text (reference
    extract_textstructure.py:72-82), whose ord1 is the paragraph's
    position in the split, empty parts included."""
    if in_kind == IN_KIND_HTML:
        from .functions.htmlparse import extract_html_spans

        return enumerate(extract_html_spans(text or ""))
    if in_kind in _CONTAINER_IN_KINDS:
        return enumerate(_parse_container(content))
    if doc_type in (TYPE_MARKDOWN, TYPE_MEDIAWIKI):
        return enumerate(_parse_markup(text, doc_type))
    return [(pos, (KIND_TEXT, para, None))
            for pos, para in sql_paragraphs(text)]


def _payload_error(in_kind) -> str:
    if in_kind == IN_KIND_HTML:
        return "html_parse_error"
    if in_kind in _CONTAINER_IN_KINDS:
        return "docx_parse_error"
    return "markdown_parse_error"


def _payload_branch(spark: SparkSession, documents_in: DataFrame,
                    ref_spans: DataFrame, doc_blobs: DataFrame | None,
                    parallelism: int | None) -> DataFrame:
    """Every span whose parse runs in python, through ONE kernel: text
    and html spans with their payload, plus container spans
    (docx/odt/epub/rtf_bytes) joined to their doc_blobs(ref, content)
    bytes.  A container span whose ref has no blob row yields no spans
    (the doc still appears with an empty array via the sentinel),
    mirroring the pdf_ref convention.  One hash repartition on
    (doc_id, span_idx) spreads giant docs' spans evenly across tasks
    (skew defusal — the corpus writer clusters giants within files);
    a raising parse emits ONE contained error row for its span, under
    its kind's prefix."""
    payload = explode_input_spans(documents_in).filter(
        F.col("in_kind").isin(IN_KIND_TEXT, IN_KIND_HTML)
    ).select("doc_id", "span_idx", "in_kind", "in_text",
             _markup_type().alias("doc_type"),
             F.lit(None).cast("binary").alias("content"))
    if doc_blobs is not None:
        refs = ref_spans.filter(F.col("in_kind").isin(*_CONTAINER_IN_KINDS))
        payload = payload.unionByName(
            refs.join(doc_blobs, refs.in_ref == doc_blobs.ref).select(
                "doc_id", "span_idx", "in_kind",
                F.lit(None).cast("string").alias("in_text"),
                F.lit(None).cast("string").alias("doc_type"), "content"))
    payload = payload.repartition(
        parallelism or spark.sparkContext.defaultParallelism,
        "doc_id", "span_idx")

    def spans(doc_id, span_idx, in_kind, text, doc_type, content):
        return [(doc_id, span_idx, float(i), 0.0, 0.0, k, t, r)
                for i, (k, t, r) in _parse_payload(in_kind, text, doc_type,
                                                   content)]

    def on_error(values, e):
        return (values[0], values[1], 0.0, 0.0, 0.0, KIND_ERROR,
                f"{_payload_error(values[2])}: {error_text(e)}", None)

    return map_rows(payload, spans, _OUT_SPAN, on_error)


def parse_pdf_blobs(pdf_blobs: DataFrame, emit_chars: bool = False) -> DataFrame:
    """pdf_blobs(ref string, content binary) -> pdf_elements rows via
    the strict -> lenient repair ladder (functions/pdfparse.py;
    reference semantics pdf_utils.py:81-148).  This is the expensive
    scan of the bytes path (SURVEY.md §2.1 PDFFileLoader row).  A blob
    failing BOTH rungs (a NULL blob included) emits a type='ParseError'
    row — the layout branch converts it to an error span, never a task
    failure.  emit_chars feeds the full-fidelity table path
    (extract(..., table_mode='chars'))."""
    from operator import itemgetter

    as_row = itemgetter(*PDF_ELEMENT.fieldNames())

    def elements(ref, content):
        from .functions.pdfparse import pdf_elements_from_bytes

        return map(as_row, pdf_elements_from_bytes(
            content, doc_id=ref, emit_chars=emit_chars))

    def on_error(values, e):
        from .functions.pdfparse import PdfParseError

        msg = str(e) if isinstance(e, PdfParseError) else error_text(e)
        return (values[0], 0, 0, 0, "ParseError", 0.0, 0.0, 0.0, 0.0,
                f"pdf_parse_error: {msg}", None, None, None, None, None,
                None)

    return map_rows(pdf_blobs.select("ref", "content"), elements,
                    PDF_ELEMENT, on_error)


HTML_META = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_idx", IntegerType(), False),
        StructField("title", StringType(), True),
        StructField("short_title", StringType(), True),
        StructField("keywords", ArrayType(StringType()), False),
        StructField("description", StringType(), True),
        StructField("language", StringType(), True),
        StructField("canonical_url", StringType(), True),
    ]
)


def html_meta_table(documents_in: DataFrame) -> DataFrame:
    """Per-HTML-span metadata columns (the reference HtmlExtractor's
    non-span outputs, extract_html.py:244-259: title/short_title,
    keywords, meta description/language, canonical url) as a side
    table keyed by (doc_id, span_idx)."""

    def meta(doc_id, span_idx, raw):
        from .functions.htmlparse import extract_html_meta

        m = extract_html_meta(raw or "")
        return [(doc_id, span_idx, m.get("title"), m.get("short_title"),
                 m.get("keywords") or [], m.get("description"),
                 m.get("language"), m.get("canonical_url"))]

    html = explode_input_spans(documents_in).filter(
        F.col("in_kind") == IN_KIND_HTML
    ).select("doc_id", "span_idx", "in_text")
    return map_rows(html, meta, HTML_META, lambda v, e: (
        v[0], v[1], None, None, [], None, None, None))


def _pdf_branch(spans: DataFrame, pdf_elements: DataFrame) -> DataFrame:
    """PDF layout branch: relational implementation (pure Spark SQL for
    grouping/cells/ordering; numpy only for page-local graphics
    clustering) — see operators/pdf_relational.py.  Serves both
    pre-parsed pdf_ref spans and parsed-from-bytes pdf_bytes spans (the
    caller unions parsed elements into pdf_elements)."""
    from .operators.pdf_relational import pdf_layout_items

    refs = spans.filter(
        F.col("in_kind").isin(IN_KIND_PDF_REF, IN_KIND_PDF_BYTES)
    ).select("doc_id", "span_idx", "in_ref")
    items = pdf_layout_items(pdf_elements)

    return refs.join(items, refs.in_ref == items.ref).select(
        "doc_id",
        "span_idx",
        F.col("p_num").cast("double").alias("ord1"),
        (-F.col("y0")).alias("ord2"),
        F.col("x0").alias("ord3"),
        "kind",
        "text",
        items.media_ref.alias("media_ref"),
    )


def _ocr_branch(spans: DataFrame, media_blobs: DataFrame,
                ocr_model) -> DataFrame:
    """OCR branch (reference chain document.py:320-355: image -> OCR ->
    text through the SAME pipeline): image_ref spans whose blobs exist
    in media_blobs(ref, content) run through the batched OCR plug
    point; recognized text becomes a text span ORDERED AFTER the image
    span (ord1=1 vs the image branch's 0), OCR failure a contained
    error span.  The model sees one Arrow batch of decoded images at a
    time (operators/multimodal.ocr_extract)."""
    from .operators.multimodal import ocr_extract

    refs = spans.filter(F.col("in_kind") == IN_KIND_IMAGE_REF).select(
        "doc_id", "span_idx", "in_ref"
    )
    ocr = ocr_extract(
        media_blobs.select(F.col("ref").alias("media_ref"), "content"),
        ocr_model,
    )
    joined = refs.join(ocr, refs.in_ref == ocr.media_ref)
    return joined.select(
        "doc_id",
        "span_idx",
        F.lit(1.0).alias("ord1"),
        F.lit(0.0).alias("ord2"),
        F.lit(0.0).alias("ord3"),
        F.when(F.col("error").isNotNull(), F.lit(KIND_ERROR))
        .otherwise(F.lit(KIND_TEXT)).alias("kind"),
        F.when(F.col("error").isNotNull(),
               F.concat(F.lit("ocr_error: "), F.col("error")))
        .otherwise(F.col("text")).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    ).filter(F.col("text").isNotNull())


_KNOWN_IN_KINDS = (
    IN_KIND_TEXT, IN_KIND_HTML, IN_KIND_PDF_REF, IN_KIND_PDF_BYTES,
    IN_KIND_DOCX_BYTES, IN_KIND_ODT_BYTES, IN_KIND_EPUB_BYTES,
    IN_KIND_RTF_BYTES, IN_KIND_IMAGE_REF,
)


def _unknown_kind_branch(spans: DataFrame) -> DataFrame:
    """Input spans of a kind no branch handles become contained error
    rows (error column + parse_failures metric) — a silently dropped
    payload at 10^12-doc scale is invisible data loss; an error row is
    auditable."""
    return spans.filter(~F.col("in_kind").isin(*_KNOWN_IN_KINDS)).select(
        "doc_id",
        "span_idx",
        F.lit(0.0).alias("ord1"),
        F.lit(0.0).alias("ord2"),
        F.lit(0.0).alias("ord3"),
        F.lit(KIND_ERROR).alias("kind"),
        F.concat(F.lit("unsupported input kind: "), F.col("in_kind")).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


def _sentinel_branch(documents_in: DataFrame) -> DataFrame:
    """One marker row per document so docs whose spans produce no
    output still appear (empty array) WITHOUT a final join: sentinels
    flow through the same doc_id-partitioned window/groupBy, then get
    filtered out of the span array.  Replaces an all-docs sort-merge
    join (one scan + one shuffle + two stages cheaper)."""
    return documents_in.select(
        "doc_id",
        F.lit(-1).alias("span_idx"),
        F.lit(0.0).alias("ord1"),
        F.lit(0.0).alias("ord2"),
        F.lit(0.0).alias("ord3"),
        F.lit(KIND_SENTINEL).alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )


def _image_branch(spans: DataFrame) -> DataFrame:
    return spans.filter(F.col("in_kind") == IN_KIND_IMAGE_REF).select(
        "doc_id",
        "span_idx",
        F.lit(0.0).alias("ord1"),
        F.lit(0.0).alias("ord2"),
        F.lit(0.0).alias("ord3"),
        F.lit(KIND_IMAGE).alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.col("in_ref").alias("media_ref"),
    )


# ------------------------------------------------------------- assembly


def extract(
    spark: SparkSession,
    documents_in: DataFrame,
    pdf_elements: DataFrame | None = None,
    parallelism: int | None = None,
    page_numbers: list[int] | None = None,
    max_pages: int | None = None,
    table_mode: str = "grid",
    pdf_blobs: DataFrame | None = None,
    doc_blobs: DataFrame | None = None,
    media_blobs: DataFrame | None = None,
    ocr_model=None,
) -> DataFrame:
    """documents_in (+ pdf_elements side table, + optional
    pdf_blobs(ref, content binary) for raw-PDF-bytes ingestion, +
    optional doc_blobs(ref, content binary) for docx_bytes spans) ->
    extracted (doc_id, spans array<struct<kind,text,media_ref,offset>>,
    error).

    page_numbers / max_pages restrict PDF extraction to selected pages —
    the reference's page-slicing semantics (document.py:978-979,
    1025-1029; pdf_utils.py:306-309) as a JVM-side partition-prunable
    filter on the elements scan.

    table_mode: "chars" asks the blob parser for type='Char' rows, which
    send their pages down the full-fidelity word-rebuild/sweep-line/
    spanning-cell table path; the routed table kernel picks the path
    per page either way (see operators/pdf_relational.py).
    parallelism: payload-kernel repartition width; None =
    defaultParallelism."""
    # Statically-absent PDF input -> the pdf branch is skipped outright
    # (r7).  With the old empty-DataFrame default the branch still built
    # the FULL pdf_layout_items machinery over zero rows — its pins
    # wrap the empties in plan leaves that PropagateEmptyRelation
    # cannot see through, so every no-PDF
    # extract() planned and ran ~60 empty operators, ~10 empty
    # exchanges and an empty python router-kernel stage (plan-audited
    # on q_docx_spans).  Output is identical: pdf_ref/pdf_bytes spans
    # join against the item table, so with no elements they contribute
    # zero rows either way (the sentinel still emits the doc).
    has_pdf = pdf_elements is not None or pdf_blobs is not None
    if pdf_elements is None:
        # one explicit empty partition: the default empty DataFrame
        # carries defaultParallelism (32) empty partitions that union
        # into the parse stage as pure task overhead (r7)
        pdf_elements = spark.createDataFrame(
            spark.sparkContext.parallelize([], 1), schema=PDF_ELEMENT)
    if pdf_blobs is not None:
        pdf_elements = pdf_elements.unionByName(
            parse_pdf_blobs(pdf_blobs, emit_chars=(table_mode == "chars")))
    if page_numbers is not None:
        pdf_elements = pdf_elements.filter(F.col("p_num").isin(page_numbers))
    if max_pages is not None:
        pdf_elements = pdf_elements.filter(F.col("p_num") < max_pages)

    # Ref-only branches (pdf/image/ocr/container refs) never touch
    # span.text: they read through the column-pruned ref explode (scan
    # carries kind+media_ref only — the r2-named 100x mitigation; A/B at
    # the 96k corpus in BASELINE.md).  The text payload is scanned once,
    # by the payload branch.
    ref_spans = explode_input_refs(documents_in)
    out = (
        _payload_branch(spark, documents_in, ref_spans, doc_blobs,
                        parallelism)
        .unionByName(_image_branch(ref_spans))
        .unionByName(_unknown_kind_branch(ref_spans))
        .unionByName(_sentinel_branch(documents_in))
    )
    if has_pdf:
        out = out.unionByName(_pdf_branch(ref_spans, pdf_elements))
    if media_blobs is not None and ocr_model is not None:
        out = out.unionByName(_ocr_branch(ref_spans, media_blobs, ocr_model))

    # running char offset over the doc's reading-ordered span stream;
    # error spans contribute 0 and are routed to the error column.
    # `tb` = xxhash64 over null-disambiguated (kind, text, media_ref)
    # makes the order TOTAL with one cheap numeric key: the window and
    # the array_sort below sort by the identical (span_idx, ord1-3, tb)
    # prefix, so offsets always agree with the emitted span order, even
    # for rows tying on all four layout keys.  xxhash64 SKIPS null
    # inputs, so the nullable columns are coalesced to distinct
    # per-column sentinels — otherwise (text='x', media_ref=NULL) and
    # (text=NULL, media_ref='x') would hash identically and the window
    # order between them would be nondeterministic while array_sort
    # breaks the tie on kind/text.  (Rows tying on tb too are identical
    # in every emitted field — any order yields the same output.)
    # Chosen over (a) full kind/text/media_ref tie-breaker columns —
    # string sort keys, measured +13% on the 8-core scale point — and
    # (b) HOF prefix-sums over the assembled array — O(n^2) per doc,
    # measured +15% on the 2-core point from ~2000-span giant docs.
    out = out.withColumn(
        "tb",
        F.xxhash64(
            "kind",
            F.coalesce(F.col("text"), F.lit("\x00t")),
            F.coalesce(F.col("media_ref"), F.lit("\x00m")),
        ),
    )
    order_cols = [F.col(c) for c in ("span_idx", "ord1", "ord2", "ord3", "tb")]
    w = (
        Window.partitionBy("doc_id")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    text_len = F.when(
        F.col("kind").isin(KIND_ERROR, KIND_SENTINEL), F.lit(0)
    ).otherwise(F.length(F.coalesce(F.col("text"), F.lit(""))))
    out = out.withColumn(
        "offset", F.coalesce(F.sum(text_len).over(w), F.lit(0)).cast("int")
    )

    assembled = out.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("span_idx", "ord1", "ord2", "ord3", "tb", "kind",
                         "text", "media_ref", "offset")
            )
        ).alias("ordered"),
        F.max(F.when(F.col("kind") == KIND_ERROR, F.col("text"))).alias("error"),
    )
    return assembled.select(
        "doc_id",
        F.expr(
            "transform(filter(ordered, x -> x.kind NOT IN ('error', '__sentinel')),"
            " x -> struct(x.kind as kind, x.text as text,"
            " x.media_ref as media_ref, x.offset as offset))"
        ).alias("spans"),
        "error",
    )


# --------------------------------------------------------------- metrics


def _run_counters() -> list[F.Column]:
    """The run-level counters, as aggregate columns over extracted
    rows: the run's Observation and read_metrics' per-partition rows
    both aggregate these."""
    return [
        F.count(F.lit(1)).alias("docs_processed"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "parse_failures"),
        F.sum(F.size("spans")).alias("span_count"),
    ]


# ------------------------------------------------------------ resumable


# a run_id is a hive directory name (`extracted/run_id=<id>`) that the
# reader parses back, and a marker file name: no separator, no escape,
# and not the name partition discovery reads back as NULL
_RUN_ID = re.compile(r"(?!__HIVE_DEFAULT_PARTITION__$)[A-Za-z0-9_.-]+")

# one committed run dir's rows, with its hive `run_id` directory as a
# string column (so "007" stays "007")
_RUN_DIR = StructType(EXTRACTED.fields + [
    StructField("partition_id", IntegerType()),
    StructField("run_id", StringType()),
])


def _read_marker(path: str) -> dict | None:
    """A `_snapshots/<run_id>.json` marker, or None when it is absent or
    torn (unparseable, naming no run dir or no string run_id): an
    uncommitted run."""
    try:
        with open(path) as fh:
            marker = _json.load(fh)
    except (OSError, ValueError):
        return None
    committed = (isinstance(marker, dict) and "path" in marker
                 and isinstance(marker.get("run_id"), str))
    return marker if committed else None


def _markers(out_dir: str) -> list[dict]:
    """The committed runs' markers, in run_id order."""
    paths = sorted(glob.glob(f"{out_dir}/_snapshots/*.json"))
    return [m for m in map(_read_marker, paths) if m is not None]


def list_snapshots(out_dir: str) -> list[str]:
    """Committed run directories, from the `_snapshots/*.json` markers:
    an unmanifested (crashed-mid-write) run dir is invisible to the
    resume anti-join and the readers, like an uncommitted snapshot."""
    return [m["path"] for m in _markers(out_dir)]


def _commit_snapshot(out_dir: str, run_id: str, run_path: str,
                     docs: int, elapsed_ms: int) -> None:
    """Atomic-enough snapshot commit: the marker file is created (via
    tmp + rename) strictly AFTER the data write succeeded."""
    snap_dir = f"{out_dir}/_snapshots"
    _os.makedirs(snap_dir, exist_ok=True)
    tmp = f"{snap_dir}/.{run_id}.json.tmp"
    with open(tmp, "w") as fh:
        _json.dump({"run_id": run_id, "path": run_path, "docs": docs,
                    "elapsed_ms": elapsed_ms,
                    "committed_at": time.time()}, fh)
    _os.replace(tmp, f"{snap_dir}/{run_id}.json")


def _read_committed(spark: SparkSession, out_dir: str,
                    markers: list[dict]) -> DataFrame:
    """The committed snapshot set as one relation (_RUN_DIR): a single
    scan over every marker's run dir, with the schema given (no footer
    is read) and `run_id` taken from the hive directory, so a filter
    on it prunes whole run dirs.  read_extracted, read_metrics and the
    resume anti-join all read through here."""
    reader = spark.read.schema(_RUN_DIR)
    if markers:  # basePath needs at least one path under it
        reader = reader.option("basePath", f"{out_dir}/extracted")
    return reader.parquet(*(m["path"] for m in markers))


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed view of the output table: the manifested run dirs
    only, with exactly EXTRACTED's columns whether or not any run is
    committed."""
    return _read_committed(spark, out_dir, _markers(out_dir)).select(
        *EXTRACTED.fieldNames())


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition lineage metrics (schemas.METRICS) of every
    committed run, the twin of read_extracted: one aggregate by
    (run_id, write-time `partition_id`) over the committed set's one
    scan, with elapsed_ms and input_snapshot looked up from each run's
    marker.  So they cannot disagree with the committed set, only a
    reader pays the scan, and a filter on run_id is a partition filter:
    the scan reads only that run's files."""
    markers = _markers(out_dir)
    if not markers:
        return spark.createDataFrame([], schema=METRICS)
    marker = F.create_map(*(x for m in markers for x in (
        F.lit(m["run_id"]),
        F.struct(F.lit(m.get("elapsed_ms")).cast("long").alias("elapsed_ms"),
                 F.lit(m["path"]).alias("input_snapshot")),
    )))[F.col("run_id")]
    return (_read_committed(spark, out_dir, markers)
            .groupBy("run_id", "partition_id").agg(*_run_counters())
            .select("run_id", "partition_id", "docs_processed",
                    "parse_failures", "span_count",
                    marker["elapsed_ms"].alias("elapsed_ms"),
                    marker["input_snapshot"].alias("input_snapshot")))


def run_resumable(
    spark: SparkSession,
    documents_in: DataFrame,
    pdf_elements: DataFrame | None,
    out_dir: str,
    run_id: str | None = None,
    **extract_kwargs,
) -> dict:
    """Resumable batch run: anti-join already-committed doc_ids (the
    parquet/Iceberg output snapshot IS the checkpoint — SURVEY.md §2.10),
    extract the remainder, write it as one run dir and commit it.

    Single extraction pass: run-level counters come from an Observation
    attached to the write action (no pre-count job, kernels run exactly
    once), and the write lands in a hive-partitioned `run_id=<id>/`
    subdir with the write-time partition_id as the lineage column
    (read_metrics aggregates it on demand).

    Snapshot commit protocol (the parquet stand-in for Iceberg
    snapshots, SURVEY.md §7.3 risk 6): a run directory COUNTS as
    committed only once its `_snapshots/<run_id>.json` marker exists —
    the marker is written strictly after the data write succeeds, so a
    run killed mid-write leaves an unmanifested directory that the next
    run's anti-join IGNORES (its docs are re-extracted rather than
    silently lost), and a retry under the same run_id overwrites that
    directory rather than appending to it.  The marker (doc count,
    elapsed_ms) is the run's only commit record and nothing runs after
    it.  With Iceberg this would be `MERGE INTO` + the snapshot log.

    `run_id` (default: a fresh 12-hex id) must match `[A-Za-z0-9_.-]+`
    and not be `__HIVE_DEFAULT_PARTITION__`, or ValueError is raised
    before anything touches disk: it becomes the `run_id=<id>`
    directory name that the committed-set reader parses back, and a
    separator, a `%` escape or that name would not round-trip.

    **extract_kwargs forward to extract(): pdf_blobs / doc_blobs
    (docx/odt/epub/rtf containers) / media_blobs + ocr_model /
    table_mode / parallelism / max_pages — resumability covers every
    branch, not just the text/html/pdf core.

    Loss safety: the committed snapshot is the resume point.  Inside a
    run, operator materializations follow the session policy
    (session.checkpoint / session.pin): set the session checkpoint dir
    for reliable, executor-loss-safe materialization.
    """
    from pyspark.sql import Observation

    run_id = run_id or uuid.uuid4().hex[:12]
    if not isinstance(run_id, str) or not _RUN_ID.fullmatch(run_id):
        raise ValueError(
            f"run_id {run_id!r} must match {_RUN_ID.pattern}: it names "
            "the run dir that read_extracted and read_metrics parse back")
    spans_path = f"{out_dir}/extracted"
    run_path = f"{spans_path}/run_id={run_id}"

    snap = _read_marker(f"{out_dir}/_snapshots/{run_id}.json")
    if snap is not None:
        # run_id already committed, and a committed run is immutable:
        # a re-run would anti-join to nothing and remove its run dir
        return {"run_id": run_id, "docs_processed": 0,
                "parse_failures": 0, "span_count": 0, "elapsed_ms": 0,
                "output": spans_path, "already_committed": True,
                "committed_docs": int(snap.get("docs", 0))}

    todo = documents_in
    markers = _markers(out_dir)
    if markers:
        committed = _read_committed(spark, out_dir, markers).select("doc_id")
        todo = documents_in.join(committed, "doc_id", "left_anti")

    t0 = time.monotonic()
    obs = Observation(f"extract_{run_id}")
    extracted = (
        extract(spark, todo, pdf_elements, **extract_kwargs)
        .withColumn("partition_id", F.spark_partition_id())
        .observe(obs, *_run_counters())
    )
    # overwrite: an unmanifested run_path is a crashed attempt's
    # leftover (a manifested run_id returned above), so a retry under
    # the same run_id replaces it instead of committing it twice
    extracted.write.mode("overwrite").parquet(run_path)
    elapsed_ms = int((time.monotonic() - t0) * 1000)
    stats = obs.get
    n_done = int(stats["docs_processed"] or 0)
    if n_done:
        # commit strictly after a successful non-empty data write (an
        # empty run dir has no parquet footers and must stay invisible)
        _commit_snapshot(out_dir, run_id, run_path, n_done, elapsed_ms)
    else:
        # no-op resume: the run dir is empty and uncommitted by
        # construction — remove it so repeated resumes don't litter
        # extracted/ with unmanifested dirs (direct parent-dir reads of
        # the output tree stay clean).  A committed run_id returned
        # above, so this never removes a manifested run's data.
        shutil.rmtree(run_path, ignore_errors=True)
    return {"run_id": run_id, "docs_processed": n_done,
            "parse_failures": int(stats["parse_failures"] or 0),
            "span_count": int(stats["span_count"] or 0),
            "elapsed_ms": elapsed_ms, "output": spans_path}


# ----------------------------------------------------------- ingestion


def container_media_blobs(doc_blobs: DataFrame) -> DataFrame:
    """Embedded media of zip-container documents (docx word/media, odt
    Pictures/, epub OEBPS/images) -> one row per media part: (ref,
    target, media_ref, media_type, content, error).  `target` matches
    the image spans' media_ref (the rels target), so `ref + target`
    joins a span to its bytes; `media_ref` = 'ref#target' is the
    globally unique key the MEDIA shape wants — the rows feed
    media_features / ocr_extract directly (r4 verdict item 6; the
    reference extracts these via pandoc, extract_pandoc.py:98-167).
    Scale shape: one Arrow pass over the blob column, no shuffle; a
    corrupt zip is a contained error row."""

    def media(ref, content):
        from .functions.docx import extract_container_media

        return [(ref, target, f"{ref}#{target}", "image", payload, None)
                for target, payload in extract_container_media(content)]

    return map_rows(
        doc_blobs.select("ref", "content"), media,
        "ref string, target string, media_ref string, "
        "media_type string, content binary, error string")


def pdf_media_blobs(pdf_blobs: DataFrame) -> DataFrame:
    """Image XObject streams of raw PDFs -> one row per image: (ref,
    target, media_ref, media_type, width, height, content, error) —
    the PDF mirror of container_media_blobs (r5 verdict item 3; the
    reference surfaces every pdfminer LTFigure as an Image element,
    pdf_utils.py:286-398).  `target` is 'xobj{num}', matching the
    Image spans' media_ref suffix, so `ref + target` joins a span to
    its bytes.  The decodable subset (Flate /DeviceRGB) is re-encoded
    as BMP and feeds media_features directly; plug-in codecs (DCT/JPX/
    JBIG2/CCITT) pass through undecoded with their media_type — the
    bytes must not vanish just because the codec is external.  Scale
    shape: one Arrow pass over the blob column, no shuffle; a damaged
    or undecryptable PDF is a contained error row."""

    def media(ref, content):
        from .functions.pdfparse import extract_pdf_images

        return [(ref, target, f"{ref}#{target}", mtype, w, h, payload, None)
                for target, mtype, w, h, payload in extract_pdf_images(content)]

    return map_rows(
        pdf_blobs.select("ref", "content"), media,
        "ref string, target string, media_ref string, "
        "media_type string, width int, height int, "
        "content binary, error string")


def ingest_blobs(spark: SparkSession, blobs: DataFrame,
                 ref_col: str = "ref",
                 content_col: str = "content") -> dict:
    """Raw (ref, content) blobs -> routed extract() inputs — the
    reference's Document(source=...) experience (document.py:66-113:
    magic/type detection chooses the pipeline) over a distributed blob
    table:

      pdf            -> pdf_bytes span + pdf_blobs side row
      docx/odt/epub/rtf -> container span + doc_blobs side row
      anything else  -> decoded via the force_decode ladder; html
                        payloads route to the html branch, the rest to
                        the text branch (dispatch.doc_type_col)

    Returns {"documents_in", "pdf_blobs", "doc_blobs"} ready for
    extract(**).  Scale shape: magic-prefix dispatch (%PDF-, {\\rtf,
    PK zip) is a pure-JVM byte comparison on the scan — no shuffle, no
    Python; ONLY PK-prefixed blobs (the minority needing a central-
    directory read to tell docx/odt/epub/plain-zip apart) go through
    the Arrow probe kernel, and only their (ref, kind) pairs join
    back, so the corpus-sized binary column never re-shuffles.

    The routed (ref, content, in_kind) frame is pinned (session.pin):
    the three returned outputs feed 4-5 extract() branches, and
    without it every branch re-scans and re-probes the raw source —
    29.3 -> 22.3 s on the 3000-file mixed-directory bench (BASELINE.md).
    The pin is new on every call (a second call over a grown directory
    sees the new files) and is freed once the outputs are unreachable;
    nothing needs releasing.  At cluster scale prefer materializing the
    routed frame to parquet once and running extract() from that (the
    spark-submit job's two-step shape)."""
    from .dispatch import TYPE_HTML, doc_type_col

    b = blobs.select(F.col(ref_col).alias("ref"),
                     F.col(content_col).alias("content"))
    # media/binary magics the engine has no extractor for: routed to
    # the 'binary' in_kind so _unknown_kind_branch emits an AUDITABLE
    # error span — the force_decode ladder never fails (ISO-8859-1
    # fallback), so without this probe a JPEG becomes silent mojibake
    # text (r4 advisor finding).  The null-byte leg catches arbitrary
    # binary payloads: no text encoding this engine decodes emits NUL.
    _is_binaryish = (~F.is_valid_utf8(F.col("content").cast("string"))
                     | F.expr("contains(content, X'00')"))
    _media_magic = (
        F.expr("startswith(content, X'89504E47')")        # PNG
        | F.expr("startswith(content, X'FFD8FF')")        # JPEG
        | F.expr("startswith(content, X'47494638')")      # GIF8
        | F.expr("startswith(content, X'49492A00')")      # TIFF II
        | F.expr("startswith(content, X'4D4D002A')")      # TIFF MM
        | F.expr("startswith(content, X'1F8B')")          # gzip
        | F.expr("startswith(content, X'7F454C46')")      # ELF
        # BM / RIFF are printable-ASCII prefixes: a text file starting
        # with the words "BMW..." or "RIFF..." must NOT route to
        # binary — require binary corroboration (NUL byte / invalid
        # utf-8), which every real BMP/WAV header satisfies via its
        # little-endian size fields (r5 advisor finding)
        | ((F.expr("startswith(content, X'424D')")        # BMP
            | F.expr("startswith(content, X'52494646')"))  # RIFF (wav/avi)
           & _is_binaryish)
        | (~F.is_valid_utf8(F.col("content").cast("string"))
           & F.expr("contains(content, X'00')"))
    )
    jvm_kind = (
        F.when(F.expr("startswith(content, X'255044462D')"),  # %PDF-
               IN_KIND_PDF_BYTES)
        .when(F.expr("startswith(content, X'7B5C727466')"),   # {\rtf
               IN_KIND_RTF_BYTES)
        .when(F.expr("startswith(content, X'504B0304')"),     # PK zip
               F.lit("_zip"))
        .when(_media_magic, F.lit("binary"))
        .otherwise("_text")
    )
    b = b.withColumn("in_kind", jvm_kind)

    def probe_zip(ref, content):
        from .dispatch import blob_in_kind

        return [(ref, blob_in_kind(content))]

    zips = b.filter(F.col("in_kind") == "_zip")
    zip_kinds = map_rows(zips.select("ref", "content"), probe_zip,
                         "ref string, zip_kind string")
    routed = pin(b.filter(F.col("in_kind") != "_zip").unionByName(
        # only the zip SUBSET joins its probe results — the rest of the
        # corpus-sized binary column never enters a shuffle
        zips.join(zip_kinds, "ref").select(
            "ref", "content",
            # a PK zip that probes to no known container is a plain
            # zip archive — binary, not latin-1-decodable text
            F.col("zip_kind").alias("in_kind"),
        )
    ))

    # 'binary' is deliberately NOT in _KNOWN_IN_KINDS: those spans
    # fall through to _unknown_kind_branch's contained error row
    binary_kinds = (IN_KIND_PDF_BYTES, "binary") + _CONTAINER_IN_KINDS
    textual = routed.filter(~F.col("in_kind").isin(*binary_kinds))
    from .sources.loaders import decode_text_col

    text_payload = decode_text_col(F.col("content"))
    textual_docs = textual.select(
        F.col("ref").alias("doc_id"),
        F.array(F.struct(
            F.when(doc_type_col(text_payload) == TYPE_HTML,
                   IN_KIND_HTML).otherwise(IN_KIND_TEXT).alias("kind"),
            text_payload.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    binary_docs = routed.filter(F.col("in_kind").isin(*binary_kinds)).select(
        F.col("ref").alias("doc_id"),
        F.array(F.struct(
            F.col("in_kind").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.col("ref").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    return {
        "documents_in": textual_docs.unionByName(binary_docs),
        "pdf_blobs": routed.filter(
            F.col("in_kind") == IN_KIND_PDF_BYTES).select("ref", "content"),
        "doc_blobs": routed.filter(
            F.col("in_kind").isin(*_CONTAINER_IN_KINDS)).select(
                "ref", "content"),
    }


def extract_files(spark: SparkSession, directory: str,
                  wildcard: str = "*", parallelism: int | None = None,
                  **extract_kwargs) -> DataFrame:
    """One call from a directory of mixed files to extracted spans:
    binaryFile scan -> format probe -> routed extract().  The doc_id
    is the file path (stable, unique).  The user-facing equivalent of
    iterating Document(path) over a folder, distributed."""
    from .sources.loaders import load_directory

    blobs = load_directory(spark, directory, wildcard=wildcard).select(
        F.col("path").alias("ref"), "content")
    # a directory of small files scans as ~1-file partitions: coalesce
    # to the requested parallelism so downstream kernels get balanced,
    # fewer, fuller tasks (per-task overhead dominated the 3000-file
    # bench otherwise)
    blobs = blobs.repartition(parallelism or spark.sparkContext.defaultParallelism)
    parts = ingest_blobs(spark, blobs)
    return extract(
        spark, parts["documents_in"], None, parallelism,
        pdf_blobs=parts["pdf_blobs"], doc_blobs=parts["doc_blobs"],
        **extract_kwargs)

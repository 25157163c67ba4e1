"""Fixed StructType schemas (SURVEY.md §1.2: narrow-waist schema design).

Input/output table shapes are pinned by BASELINE.json input_hint:
  documents_in(doc_id string,
               spans array<struct<kind,text,media_ref,offset>>)
  extracted  (doc_id string,
               spans array<struct<kind,text,media_ref,offset>>)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
    ]
)

SPANS = ArrayType(SPAN, containsNull=False)

DOCUMENTS_IN = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPANS, False),
    ]
)

EXTRACTED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPANS, True),
        StructField("error", StringType(), True),
    ]
)

# Pre-parsed PDF layout elements (FIXTURES.md §3; mirrors DocumentElement,
# reference document_base.py:62-98).
PDF_ELEMENT = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("p_num", IntegerType(), False),
        StructField("boxnum", IntegerType(), False),
        StructField("linenum", IntegerType(), False),
        StructField("type", StringType(), False),  # Text|Graphic|Image
        StructField("x0", DoubleType(), False),
        StructField("y0", DoubleType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
        StructField("rawtext", StringType(), True),
        StructField("font_name", StringType(), True),
        StructField("font_size", DoubleType(), True),
        StructField("font_color", StringType(), True),
        StructField("mean_char_orientation", DoubleType(), True),
        StructField("linewidth", DoubleType(), True),
        StructField("media_ref", StringType(), True),  # for Image elements
    ]
)

# Per-partition run metrics, as pipeline.read_metrics derives them
# from the committed snapshots (FIXTURES.md §5).
METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("docs_processed", LongType(), False),
        StructField("parse_failures", LongType(), False),
        StructField("span_count", LongType(), False),
        StructField("elapsed_ms", LongType(), False),
        StructField("input_snapshot", StringType(), True),
    ]
)

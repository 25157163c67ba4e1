"""Batched-model plug points for the HF/transformer tier.

The reference runs fine-tuned HF classifiers and embedding models
in-process (TextBlockClassifier/PageClassifier extract_classes.py:
29-103; calculate_string_embeddings nlp_utils.py:403-414).  Those model
families are not in this sandbox — classify.py/similarity.py ship
deterministic oracle-checkable STAND-INS — but the production swap-in
shape must exist and be proven: a real model drops in as a BATCHED
callable inside an Arrow-batched kernel, nothing else changes.

Contracts these operators pin (and tests/test_operators.py proves with
a mock deterministic linear-head model):
  * batching    — the model is invoked once per Arrow batch with a
                  list[str]; batch size is driven by
                  spark.sql.execution.arrow.maxRecordsPerBatch, never
                  per-row
  * schema      — classify returns (id, label, error),
                  embed returns (id, embedding array<double>, error)
  * containment — a model that raises poisons ONLY that batch's rows
                  (error column), never the task; a model returning
                  the wrong count is reported the same way
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers compose)
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import call_model, map_batches

CLASSIFIED = StructType(
    [
        StructField("id", StringType(), False),
        StructField("label", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def classify_with_model(df: DataFrame, model, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """TextBlockClassifier/PageClassifier slot: `model` is any batched
    list[str] -> list[str] callable (an HF text-classification pipeline
    wraps to exactly this).  Returns (id, label, error)."""

    def batch(ids, texts):
        labels, err = call_model(
            model, [t if t is not None else "" for t in texts],
            "labels", "inputs")
        return [(str(i), lb, err) for i, lb in zip(ids, labels)]

    return map_batches(df.select(id_col, text_col), batch, CLASSIFIED)


EMBEDDED = StructType(
    [
        StructField("id", StringType(), False),
        StructField("embedding", ArrayType(DoubleType()), True),
        StructField("error", StringType(), True),
    ]
)


def embed_with_model(df: DataFrame, model, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """calculate_string_embeddings slot: `model` is any batched
    list[str] -> list[list[float]] callable (a sentence-transformer
    encode wraps to exactly this).  Returns (id, embedding, error);
    output plugs straight into similarity.knn_graph_lsh /
    embedding_neardup_pairs."""

    def vectors(texts):
        return [[float(x) for x in v] for v in model(texts)]

    def batch(ids, texts):
        vecs, err = call_model(
            vectors, [t if t is not None else "" for t in texts],
            "vectors", "inputs")
        return [(str(i), v, err) for i, v in zip(ids, vecs)]

    return map_batches(df.select(id_col, text_col), batch, EMBEDDED)

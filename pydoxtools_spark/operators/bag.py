"""DocumentBag-equivalent relational operators (SURVEY.md §2.7).

The reference distributes documents as dask bags; each bag primitive
maps to a stock DataFrame operation.  Map, filter, property projection
and generalized apply ARE that operation (withColumns, filter, select,
fn(df)); the two with a shape of their own are kept here
(citations: /root/reference/pydoxtools/dask_operators.py:16-173,
document.py:1277-1371, 1509-1511).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exploded(df: DataFrame, list_col: str, keep: list[str] | None = None) -> DataFrame:
    """DocumentBagExplode (document.py:1343-1371): one row per list
    element, lineage (source ids) carried along."""
    keep = keep or [c for c in df.columns if c != list_col]
    return df.select(*keep, F.posexplode_outer(list_col).alias("idx", "element"))


def bag_stats(df: DataFrame, *numeric_cols: str) -> DataFrame:
    """`stats` (document.py:1509-1511): global sum of per-doc counters."""
    return df.agg(*[F.sum(c).alias(f"sum_{c}") for c in numeric_cols],
                  F.count("*").alias("n_docs"))

"""The python-kernel boundary: every engine `mapInPandas` runs here.

Operators hand this module a per-row function (`map_rows`), a
per-batch function (`map_batches`, the batched-model plug points) or a
per-key-run function (`walk_runs`); what each hand-written batch loop
used to repeat lives once, below:

  * one pd.DataFrame of tuple rows per Arrow batch;
  * BinaryType columns reach the function as `bytes`, a NULL blob as
    b"" — an empty input like any other, never a TypeError;
  * containment: a row whose function raises becomes ONE error row in
    place of its output (parse failure = error column, never task
    death);
  * the modelplug contract (`call_model`): one output per input, or
    the whole batch is an error.

Kernels stay `mapInPandas` (Arrow-batched, one python worker per
task), so Spark stages keep their MapInPandas operator labels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, DataType, StructType

from .session import width


def error_text(e: BaseException) -> str:
    """A contained exception's text: 'Type: message'."""
    return f"{type(e).__name__}: {e}"


def _struct(schema: StructType | str) -> StructType:
    return DataType.fromDDL(schema) if isinstance(schema, str) else schema


def _map(df: DataFrame, body, schema: StructType) -> DataFrame:
    """df.mapInPandas with `body(batches)` yielding lists of output
    tuples, one pd.DataFrame per list."""
    names = schema.fieldNames()

    def kernel(batches):
        for rows in body(batches):
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(kernel, schema)


def map_batches(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """`fn(*columns)` -> list of output tuples, once per Arrow batch.
    Columns arrive in `df` order as pandas Series, except BinaryType
    columns: a list of `bytes` with NULL as b""."""
    binary = [isinstance(f.dataType, BinaryType) for f in df.schema.fields]
    names = df.columns

    def body(batches):
        for pdf in batches:
            yield fn(*(
                [b"" if v is None else bytes(v) for v in pdf[c]] if blob
                else pdf[c]
                for c, blob in zip(names, binary)))

    return _map(df, body, _struct(schema))


def map_rows(df: DataFrame, fn, schema: StructType | str,
             on_error=None) -> DataFrame:
    """`fn(*values)` -> iterable of output tuples for one input row
    (values in `df` column order, blobs coerced as in map_batches).  If
    `fn` raises, its partial output is dropped and the row emits
    `on_error(values, exc)` instead; the default error row is the first
    input value, NULLs, and error_text(exc) in the last column."""
    schema = _struct(schema)
    if on_error is None:
        nulls = (None,) * (len(schema.fields) - 2)

        def on_error(values, e):
            return (values[0], *nulls, error_text(e))

    def rows_of(*cols):
        rows = []
        for values in zip(*cols):
            n = len(rows)
            try:
                rows.extend(fn(*values))
            except Exception as e:  # containment: an error row, not death
                del rows[n:]
                rows.append(on_error(values, e))
        return rows

    return map_batches(df, rows_of, schema)


def walk_runs(df: DataFrame, keys, fn, schema: StructType | str,
              order=()) -> DataFrame:
    """Grouped kernel without groupBy.applyInPandas' ~18 ms fixed cost
    per group (CLAUDE.md traps 4 and 14): repartition by `keys` to the
    session width, sort within partitions by (*keys, *order), and call
    `fn(run)` once per contiguous key run — `run` is the pd.DataFrame
    of exactly one group, a run cut by an Arrow batch boundary buffered
    into the next batch.  `fn` returns an iterable of output tuples."""
    keys = list(keys)
    walked = df.repartition(width(df.sparkSession), *keys) \
        .sortWithinPartitions(*keys, *order)

    def body(batches):
        import numpy as np

        buf = None  # trailing (possibly batch-spanning) run
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            if len(pdf) == 0:
                continue
            cut = np.zeros(len(pdf) - 1, dtype=bool)
            for k in keys:
                v = pdf[k].to_numpy()
                cut |= v[1:] != v[:-1]
            starts = np.concatenate(([0], np.flatnonzero(cut) + 1))
            rows = []
            for s, e in zip(starts[:-1], starts[1:]):
                rows.extend(fn(pdf.iloc[s:e]))
            buf = pdf.iloc[starts[-1]:]
            if rows:
                yield rows
        if buf is not None and len(buf):
            tail = list(fn(buf))
            if tail:
                yield tail

    return _map(walked, body, _struct(schema))


def call_model(model, inputs: list, outputs: str, per: str):
    """One batched model call under the modelplug contract ->
    (outputs, None), or ([None] * len(inputs), 'model_error: ...') when
    the model raises or returns a count other than one per input."""
    try:
        out = list(model(inputs))
        if len(out) != len(inputs):
            raise ValueError(
                f"model returned {len(out)} {outputs} for {len(inputs)} {per}")
        return out, None
    except Exception as e:  # poison the batch's rows, not the task
        return [None] * len(inputs), f"model_error: {error_text(e)}"

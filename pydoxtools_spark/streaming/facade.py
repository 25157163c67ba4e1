"""Streaming facade over the batch extraction kernels.

The reference has NO streaming machinery (verified — SURVEY.md §2.10):
distribution is dask batch bags, resumability is a disk cache.  The
engine's native resume contract is therefore batch snapshot anti-join
(pipeline.run_resumable).  This facade adds an incremental-ingest mode
for corpora that keep growing: Structured Streaming over the input
table with Trigger.AvailableNow, running the SAME batch run
(run_resumable, with its snapshot commit) per micro-batch via
foreachBatch — one code path and one commit protocol for batch and
streaming, the idiomatic Spark pattern for "batch job, incrementally".
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import run_resumable


def incremental_extract(
    spark: SparkSession,
    input_path: str,
    pdf_elements: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    **extract_kwargs,
):
    """Incrementally extract newly-arrived documents_in parquet files.

    readStream(parquet) -> foreachBatch(run_resumable).  Every
    micro-batch commits through the batch commit protocol: one run
    dir, one `_snapshots` marker and the committed-doc anti-join, under
    a run_id made from the checkpoint dir and the batch id.
    foreachBatch is at-least-once — a crash between the sink write and
    the streaming commit log replays the batch — and a replay finds its
    run_id already committed and writes nothing, so each doc is
    committed once.  Streamed and batch runs share one snapshot set:
    read_extracted sees the streamed output, and a later run_resumable
    skips its docs.  The trigger is availableNow: each call processes
    the backlog and stops.  **extract_kwargs forward to run_resumable
    and on to extract().
    """
    stream = (
        spark.readStream.schema(
            spark.read.parquet(input_path).schema
        ).parquet(input_path)
    )
    query_tag = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_resumable(batch_df.sparkSession, batch_df, pdf_elements, out_dir,
                      run_id=f"stream-{query_tag}-{batch_id}",
                      **extract_kwargs)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming facade over the batch extraction kernels.

The reference has NO streaming machinery (verified — SURVEY.md §2.10):
distribution is dask batch bags, resumability is a disk cache.  The
engine's native resume contract is therefore batch snapshot anti-join
(pipeline.run_resumable).  This facade adds an incremental-ingest mode
for corpora that keep growing: Structured Streaming over the input
table with Trigger.AvailableNow, reusing the SAME batch kernels via
foreachBatch — one code path for batch and streaming, the idiomatic
Spark pattern for "batch job, incrementally".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import extract


def incremental_extract(
    spark: SparkSession,
    input_path: str,
    pdf_elements: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    parallelism: int | None = None,
    available_now: bool = True,
    **extract_kwargs,
):
    """Incrementally extract newly-arrived documents_in parquet files.

    readStream(parquet) -> foreachBatch(batch extract) -> append parquet;
    exactly-once via the streaming checkpoint (file-source offsets).
    With available_now=True this processes the backlog and stops — a
    resumable batch job driven by the streaming engine.  parallelism
    is extract()'s span width; None = the session's defaultParallelism.
    """
    stream = (
        spark.readStream.schema(
            spark.read.parquet(input_path).schema
        ).parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = extract(batch_df.sparkSession, batch_df, pdf_elements,
                      parallelism=parallelism, **extract_kwargs)
        out.write.mode("append").parquet(f"{out_dir}/extracted")

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

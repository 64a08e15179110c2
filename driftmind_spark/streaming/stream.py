"""Structured Streaming source and sink shared by the composed ingest
(streaming/ingest.py::stream_ingest, the one streaming entry point).

``read_pages_stream`` is the file-source stream over a pages directory
(the batch pipeline's pages schema, ``maxFilesPerTrigger`` bounding each
micro-batch); ``_write_batch_idempotent`` is the exactly-once
``foreachBatch`` sink every per-batch table of the ingest writes through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def _write_batch_idempotent(df: DataFrame, out_path: str, batch_id: int) -> None:
    """Exactly-once foreachBatch sink: partition by ``batch_id`` and
    DYNAMICALLY overwrite that one partition.  A blind ``append`` is only
    at-least-once — if the process dies between a successful append and
    the checkpoint commit, Structured Streaming retries the micro-batch
    with the SAME batch_id and a plain append would duplicate every row
    in it.  Overwriting the batch's own partition makes the retry replace
    its partial output instead (foreachBatch batch_ids are stable across
    retries — the documented exactly-once recipe); other batches'
    partitions are untouched."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )

"""Pages-table source/sink helpers (SURVEY.md §2.1).

The reference's upload/delete endpoints become set-oriented table
operations: validation filters pushed into the scan (S1/S2), deletion as
an anti-join partition overwrite (S11), and the documents catalog as a
single aggregation pass (SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import validated_pages


def read_pages(spark: SparkSession, path: str, validate: bool = True) -> DataFrame:
    df = spark.read.parquet(path)
    return validated_pages(df) if validate else df


def delete_documents(chunks: DataFrame, urls: DataFrame) -> DataFrame:
    """S11 delete-document sink, rewritten: instead of the reference's
    fetch-all-chunks + batched delete + blob cleanup
    (``Services/SearchService.cs:485-529``,
    ``Services/DocumentManagementService.cs:144-296``), deletion is a
    left-anti join producing the surviving rows; callers overwrite the
    affected partitions (idempotent, atomic per partition)."""
    return chunks.join(F.broadcast(urls.select("url")), "url", "left_anti")


def document_catalog(
    chunks: DataFrame, sample_len: int = 150, n_samples: int = 3
) -> DataFrame:
    """GET /documents in one pass (SURVEY.md §3.3): per-url chunk count,
    last-updated, and the reference's TOP-3 chunk samples
    (``Services/DocumentManagementService.cs:68-99``: first three chunks
    by index, word-boundary-truncated to 150 chars, whitespace-only
    entries dropped) — replacing the 3-queries-per-document fan-out with
    one aggregation."""
    from ..functions.text import truncate_at_word

    top_chunks = F.slice(
        F.array_sort(F.collect_list(F.struct("chunk_index", "content"))),
        1,
        n_samples,
    )
    samples = F.filter(
        F.transform(top_chunks, lambda s: truncate_at_word(s.content, sample_len)),
        lambda x: F.trim(x) != "",
    )
    return chunks.groupBy("url").agg(
        F.count("*").alias("chunk_count"),
        F.max("warc_ts").alias("last_updated"),
        F.first("lang").alias("lang"),
        samples.alias("samples"),
    )


def document_exists(chunks: DataFrame, url: str) -> bool:
    """P5 existence probe (SearchService.cs:579-603)."""
    return chunks.filter(F.col("url") == url).limit(1).count() > 0

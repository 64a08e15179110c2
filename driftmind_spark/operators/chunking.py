"""The ingestion pipeline: pages -> extract -> chunk -> embed ->
chunks DataFrame.

Spark rewrite of the reference's per-request upload path
(``Services/DocumentProcessingService.cs:40-412``, see SURVEY.md §3.1):
one declarative DAG instead of 5-6 network round-trips per document.

Scale notes (10^12 rows):
- every per-url stage is narrow (no shuffle); extract/chunk/normalize/
  embed run in ONE fused Arrow crossing (mapInArrow) — chained pandas
  UDFs were measured to re-serialize intermediates per stage;
- chunk indices are assigned in-kernel at emit time (the posexplode/W4
  discipline — never a window shuffle for numbering);
- the reference's embedding cache (EmbeddingService.cs:37-58) maps to
  per-batch caching: each batch embeds its distinct texts once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PAGE_BYTES = 3 * 1024 * 1024  # appsettings.json:26 (3 MB upload cap)


def validated_pages(pages: DataFrame) -> DataFrame:
    """S1/S2: row-level filters replacing the reference's per-file
    validation (FileProcessingService.cs:28-37) — pushed to the scan."""
    if "html" in pages.columns:
        return pages.filter(F.length("html") <= MAX_PAGE_BYTES)
    return pages


def extract_text_table(pages: DataFrame) -> DataFrame:
    """Stage-0 extraction: pages -> (url, warc_ts, lang, text) with the
    boilerplate-stripped main content as ``text``.

    This is the Spark analog of the reference's extracted-text twin blob
    (BlobStorageService.cs:174-234): extraction runs ONCE and both the
    chunking and the triple stages consume the (much smaller) text table
    instead of re-reading and re-stripping the raw html — at 100 TB the
    html column is the bulk of the bytes, so sharing the extraction pass
    halves the pipeline's scan traffic."""
    return validated_pages(pages).mapInArrow(
        _extract_only_kernel(),
        f"url string, warc_ts {dict(pages.dtypes).get('warc_ts', 'timestamp_ntz')}, "
        "lang string, text string",
    )


def _extract_only_kernel():
    import pyarrow as pa

    from ..kernels.extract import extract_any

    def kernel(batches):
        for rb in batches:
            cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            text = pa.array(
                [
                    extract_any(u, h)
                    for u, h in zip(
                        cols["url"].to_pylist(), cols["html"].to_pylist()
                    )
                ],
                pa.string(),
            )
            yield pa.RecordBatch.from_arrays(
                [cols["url"], cols["warc_ts"], cols["lang"], text],
                ["url", "warc_ts", "lang", "text"],
            )

    return kernel


def _fused_chunk_batches(use_text_column: bool, embedding_dim: int | None):
    """ONE Python crossing per page batch: extract -> chunk -> normalize
    [-> embed] inside a single mapInArrow kernel.  Chained pandas UDFs
    would round-trip each intermediate column through Arrow once per
    stage; at 10^12 rows that ser/de dominates the stage, so the whole
    stateless per-url part of the pipeline is fused.  Chunking runs with
    ``chunk_text``'s defaults (300-char chunks, 20-char overlap).

    Arrow-native on both sides (r1 verdict follow-up): no pandas
    DataFrame/index construction, per-doc metadata repeated via
    ``Array.take`` instead of per-row Python appends, and the embedding
    column built zero-copy as a ListArray over one flat float32 buffer.
    Embedding itself is batched: distinct norm_texts per batch are
    embedded in ONE vectorized call (the reference's embedding-cache
    semantics, EmbeddingService.cs:33-58, at batch granularity)."""
    import numpy as np
    import pyarrow as pa

    from ..kernels.extract import extract_any
    from ..kernels.hashing import hashed_ngram_embeddings_batch
    from ..kernels.textproc import chunk_text, normalize_for_caching

    def kernel(batches):
        for rb in batches:
            cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            if use_text_column:
                texts = cols["text"].to_pylist()
            else:
                texts = [
                    extract_any(u, h)
                    for u, h in zip(
                        cols["url"].to_pylist(), cols["html"].to_pylist()
                    )
                ]
            src_row: list[int] = []     # source page per chunk (for take)
            idxs: list[int] = []
            contents: list[str] = []
            norms: list[str] = []
            for r, text in enumerate(texts):
                chunks = chunk_text(text)
                idxs.extend(range(len(chunks)))
                contents.extend(chunks)
                norms.extend(normalize_for_caching(c) for c in chunks)
                src_row.extend([r] * len(chunks))
            take = pa.array(src_row, type=pa.int64())
            arrays = [
                cols["url"].take(take),
                cols["warc_ts"].take(take),
                cols["lang"].take(take),
                pa.array(idxs, type=pa.int32()),
                pa.array(contents, type=pa.string()),
                pa.array(norms, type=pa.string()),
            ]
            names = ["url", "warc_ts", "lang", "chunk_index", "content",
                     "norm_text"]
            if embedding_dim:
                uniq: dict[str, int] = {}
                inv = np.fromiter(
                    (uniq.setdefault(t, len(uniq)) for t in norms),
                    dtype=np.int64, count=len(norms),
                )
                mat = hashed_ngram_embeddings_batch(list(uniq), embedding_dim)
                flat = mat[inv].ravel() if len(norms) else np.empty(
                    0, dtype=np.float32
                )
                offsets = pa.array(
                    np.arange(len(norms) + 1, dtype=np.int32) * embedding_dim
                )
                arrays.append(
                    pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32()))
                )
                names.append("embedding")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return kernel


_CHUNK_ROWS_SCHEMA = (
    "url string, warc_ts timestamp_ntz, lang string, "
    "chunk_index int, content string, norm_text string"
)


def build_chunks(
    pages: DataFrame,
    embedding_dim: int = 256,
    with_embeddings: bool = True,
    use_text_column: bool = False,
) -> DataFrame:
    """pages -> chunks(url, warc_ts, lang, chunk_index, content,
    norm_text, chunk_id [, embedding]).

    chunk_id is the reference's "{docId}_{index}" key
    (DocumentProcessingService.cs:394) — deterministic, so re-runs are
    idempotent (F14 note in SURVEY.md: no GUIDs).  The empty-text guard
    (P7) is implicit: chunk_text returns [] for whitespace-only pages.

    Chunks are ``chunk_text``'s 300-char chunks with a 20-char overlap.
    Embeddings are computed inline in the fused kernel (narrow plan, zero
    shuffles), each batch embedding its distinct texts once.
    """
    ts_type = dict(pages.dtypes).get("warc_ts", "timestamp_ntz")
    schema = _CHUNK_ROWS_SCHEMA.replace("timestamp_ntz", ts_type)
    inline_dim = embedding_dim if with_embeddings else None
    if inline_dim:
        schema += ", embedding array<float>"
    return validated_pages(pages).mapInArrow(
        _fused_chunk_batches(use_text_column, inline_dim), schema
    ).withColumn("chunk_id", F.concat_ws("_", "url", "chunk_index"))


def docs_meta(chunks: DataFrame) -> DataFrame:
    """The normalized replacement for the chunk-0 metadata convention
    (SURVEY.md §1.2): one row per url with catalog aggregates — the
    one-pass rewrite of GET /documents (SURVEY.md §3.3)."""
    return chunks.groupBy("url").agg(
        F.count("*").alias("chunk_count"),
        F.max("warc_ts").alias("last_updated"),
        F.first("lang").alias("lang"),
        F.sum(F.length("content")).alias("total_chars"),
    )

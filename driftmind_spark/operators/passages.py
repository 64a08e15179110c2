"""Chunk-level deduplication — the intra-document layer of the
training-data dedup stack (Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022; C4's repeated-span rule).

``corpus_dedup`` (operators/dedup.py) removes whole near-duplicate
*documents*; :func:`chunk_dedup` removes *repeated chunks inside
otherwise-distinct documents* — boilerplate paragraphs, license blocks,
navigation text that survives document-level dedup because the
surrounding text differs.  It is the pipeline's ``chunk_dedup`` stage
(kg/pipeline.py), which persists only the dropped rows.  No reference
counterpart (DriftMind's closest analog is the embed-cache
``dropDuplicates(norm_text)``,
Services/EmbeddingService.cs:33-58, which dedups embedding COMPUTE but
never removes the repeated text from the corpus).

Granularity note: the full Lee-et-al construction dedups arbitrary
repeated *substrings* via a corpus-wide suffix array — inherently
sequential/memory-resident and not expressible as a distributed
dataflow.  The shape production Spark pipelines use instead (and what
C4 shipped: exact dedup of three-sentence spans) is fingerprinting at a
fixed granularity — chunk rows here — which catches the
boilerplate/license/nav mass with one hash-shuffle.

Scale shape (100 TB): one shuffle groups fingerprints (count + min are
partial-aggregated map-side, so a chunk repeated 10^9 times arrives at
its reducer as one row per map task, not 10^9 rows); the keeper
dictionary is filtered to REPEATED fingerprints only before joining
back, and the join is an equi-join AQE can split on skew.  No text
moves in the dictionary — only (fingerprint, keeper id, count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Whitespace-normalized lowercase — the SHARED normalization (one
# definition for the whole dedup family: exact_dedup, fingerprints,
# chunk fingerprints), imported rather than redefined so the families
# can never drift apart.
from .dedup import NORM as _norm

__all__ = ["chunk_dedup"]


def chunk_dedup(chunks: DataFrame, min_chars: int = 50) -> DataFrame:
    """First-occurrence keeper election over an already-chunked table
    (the pipeline's chunks stage output, keyed by ``(url, chunk_index)``):
    a chunk whose normalized ``content`` (at least ``min_chars`` long)
    occurs more than once corpus-wide is kept only at its minimum
    ``(url, chunk_index)`` occurrence.  Input columns pass through, plus
    ``(fingerprint, n_occurrences, keeper_doc, keeper_idx, is_kept)``.
    ``filter(is_kept)`` is the deduplicated chunks table; the pipeline's
    chunk-dedup stage persists only ``filter(~is_kept)``, narrowed to ids,
    fingerprint and keeper, as ``chunk_dedup_audit``, and its kept set is
    ``chunks`` left-anti-joined with that audit on ``(url, chunk_index)``.

    Operating on chunk rows (rather than re-splitting text) keeps the
    byte-parity chunking contract untouched: chunk boundaries are still
    exactly the reference's, and dedup only FILTERS rows.

    Re-runnable on its own output: a frame already carrying the derived
    columns (an earlier pass's kept rows, an audit join) has them
    dropped and recomputed instead of colliding ambiguously."""
    derived = ("fingerprint", "n_occurrences", "keeper_doc", "keeper_idx",
               "is_kept")
    chunks = chunks.drop(*[c for c in derived if c in chunks.columns])
    fingerprint = F.md5(_norm(F.col("content")))
    occ = (
        chunks.filter(F.length(_norm(F.col("content"))) >= min_chars)
        .groupBy(fingerprint.alias("fingerprint"))
        .agg(
            F.min(F.struct(F.col("url").alias("doc"),
                           F.col("chunk_index").alias("idx"))).alias("keeper"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
    j = chunks.withColumn("fingerprint", fingerprint).join(
        occ, "fingerprint", "left")
    first = (F.col("url") == F.col("keeper.doc")) & (
        F.col("chunk_index") == F.col("keeper.idx"))
    return j.select(
        *chunks.columns,
        "fingerprint",
        "n_occurrences",
        F.col("keeper.doc").alias("keeper_doc"),
        F.col("keeper.idx").alias("keeper_idx"),
        (F.col("n_occurrences").isNull() | first).alias("is_kept"),
    )

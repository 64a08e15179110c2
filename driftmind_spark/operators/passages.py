"""Chunk-level deduplication — the intra-document layer of the
training-data dedup stack (Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022; C4's repeated-span rule).

``corpus_dedup`` (operators/dedup.py) removes whole near-duplicate
*documents*; :func:`chunk_dedup` removes *repeated chunks inside
otherwise-distinct documents* — boilerplate paragraphs, license blocks,
navigation text that survives document-level dedup because the
surrounding text differs.  It is the pipeline's ``chunk_dedup`` stage
(kg/pipeline.py).  No reference counterpart (DriftMind's closest analog
is the embed-cache ``dropDuplicates(norm_text)``,
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


def chunk_dedup(
    chunks: DataFrame,
    doc_col: str = "url",
    idx_col: str = "chunk_index",
    content_col: str = "content",
    min_chars: int = 50,
    min_repeats: int = 2,
) -> DataFrame:
    """First-occurrence keeper election over an already-chunked table
    (the pipeline's chunks stage output): a chunk whose normalized
    content (at least ``min_chars`` long) occurs ``min_repeats`` or more
    times corpus-wide is kept only at its minimum ``(doc, idx)``
    occurrence.  Input columns pass through, plus ``(fingerprint,
    n_occurrences, keeper_doc, keeper_idx, is_kept)``.  ``filter(is_kept)`` is the deduplicated chunks table —
    what the pipeline's optional chunk-dedup stage writes.

    Operating on chunk rows (rather than re-splitting text) keeps the
    byte-parity chunking contract untouched: chunk boundaries are still
    exactly the reference's, and dedup only FILTERS rows.

    Re-runnable on its own output: a frame already carrying the derived
    columns (a persisted ``chunks_dedup`` table, an audit join) has them
    dropped and recomputed instead of colliding ambiguously."""
    derived = ("fingerprint", "n_occurrences", "keeper_doc", "keeper_idx",
               "is_kept")
    chunks = chunks.drop(*[c for c in derived if c in chunks.columns])
    norm_len = F.length(_norm(F.col(content_col)))
    occ = (
        chunks.filter(norm_len >= min_chars)
        .groupBy(F.md5(_norm(F.col(content_col))).alias("fingerprint"))
        .agg(
            F.min(
                F.struct(
                    F.col(doc_col).alias("doc"), F.col(idx_col).alias("idx")
                )
            ).alias("keeper"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_repeats)
    )
    with_fp = chunks.withColumn(
        "fingerprint", F.md5(_norm(F.col(content_col)))
    )
    j = with_fp.join(occ, "fingerprint", "left")
    first = (F.col(doc_col) == F.col("keeper.doc")) & (
        F.col(idx_col) == F.col("keeper.idx")
    )
    return j.select(
        *chunks.columns,
        "fingerprint",
        "n_occurrences",
        F.col("keeper.doc").alias("keeper_doc"),
        F.col("keeper.idx").alias("keeper_idx"),
        (F.col("n_occurrences").isNull() | first).alias("is_kept"),
    )

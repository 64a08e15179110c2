"""Vectorized pandas UDFs (Arrow-batched) wrapping the pure kernels.

Every UDF here is the *slow path* by design policy (SURVEY.md §2.10): it
exists only where built-in ``pyspark.sql.functions`` cannot express the
reference's exact semantics (byte-parity extraction/chunking, MinHash).
No per-row Python UDFs anywhere (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, LongType, StringType

from ..kernels import hashing as hk
from ..kernels.textproc import chunk_text


# ---------------------------------------------------------------------------
# Chunking (F1/F2): text -> array<string> of chunks (``chunk_text``'s own
# 300/20 defaults); chunk indices come from posexplode (W4), so no window
# shuffle is ever needed for numbering.
# ---------------------------------------------------------------------------


def make_chunk_udf():
    @pandas_udf(ArrayType(StringType()))
    def chunk_udf(text: pd.Series) -> pd.Series:
        return text.map(chunk_text)

    return chunk_udf


# ---------------------------------------------------------------------------
# Deterministic embedding (ada-002 stand-in, SURVEY.md §7.3)
# ---------------------------------------------------------------------------


def make_embed_udf(dim: int = 256):
    """Round 4: batched — ONE ``hashed_ngram_embeddings_batch`` call over
    the batch's DISTINCT texts (bit-identical to the scalar kernel; see
    its docstring) instead of a per-row ``text.map``.  Link-scoring
    batches repeat surfaces heavily (LSH pairs over a Zipf dictionary),
    so the distinct-dedup does most of the work reduction."""

    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(text: pd.Series) -> pd.Series:
        vals = ["" if t is None else t for t in text]
        uniq = list(dict.fromkeys(vals))
        mat = hk.hashed_ngram_embeddings_batch(uniq, dim)
        idx = {t: i for i, t in enumerate(uniq)}
        take = np.fromiter((idx[t] for t in vals), dtype=np.int64,
                           count=len(vals))
        return pd.Series(list(mat[take]))

    return embed_udf


# ---------------------------------------------------------------------------
# MinHash signature + LSH band keys (K2/K3).  Signatures are uint64 viewed
# as int64 (opaque keys; sign is irrelevant).
# ---------------------------------------------------------------------------


def make_minhash_bands_udf(num_perm: int, bands: int, shingle_k: int,
                           seed: int):
    mh = hk.MinHasher(num_perm=num_perm, seed=seed)

    @pandas_udf(ArrayType(LongType()))
    def minhash_bands_udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            sh = hk.char_shingles((t or "").lower(), k=shingle_k)
            sig = mh.signature(sh)
            out.append([int(np.int64(np.uint64(h))) for h in
                        np.array(mh.band_hashes(sig, bands), dtype=np.uint64)])
        return pd.Series(out)

    return minhash_bands_udf


def make_minhash_sig_udf(num_perm: int, shingle_k: int):
    mh = hk.MinHasher(num_perm=num_perm)

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig_udf(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: mh.signature(
                hk.char_shingles((t or "").lower(), k=shingle_k)
            ).view(np.int64).tolist()
        )

    return minhash_sig_udf


# ---------------------------------------------------------------------------
# SimHash (dedup family)
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(
        lambda t: int(np.int64(np.uint64(hk.simhash64((t or "").lower().split()))))
    )


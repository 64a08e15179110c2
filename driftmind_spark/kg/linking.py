"""K4/K5 — entity-link scoring over LSH candidate pairs + broadcast
alias-dictionary linking.

Link evidence, in decreasing precision order:
1. alias dictionary (J7): both surfaces map to the same canonical entity
   via a broadcast hash join against the (small) alias table;
2. shingle-Jaccard >= ``JACCARD_THRESHOLD`` on the normalized surfaces
   (verifies the LSH candidates — LSH recalls, Jaccard confirms);
3. embedding cosine >= ``COSINE_THRESHOLD`` on the hashed-ngram vectors
   (catches word-level paraphrases char-shingles miss).

All three produce (src, dst) mention-id edges consumed by K6.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions.text import cosine_sim
from ..functions.udfs import make_embed_udf
from .blocking import LSH_SHINGLE_K

# link-evidence thresholds and the KG's embedding dimension (the default
# of every entry point that embeds chunks or link surfaces), shared with
# the incremental rebuild (kg/incremental.py), which stamps them into its
# persisted state
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.85
EMBEDDING_DIM = 64

def make_jaccard_udf():
    """Shingle-Jaccard scorer over ``LSH_SHINGLE_K``-char shingles (the
    banding's shingle length), round-4 vectorization of the round-3
    memoized version.  Per Arrow batch:

    1. shingle-ID arrays are built ONCE per DISTINCT surface (batch-local
       integer vocabulary over the literal k-char substrings — exact set
       identity, no hash collisions);
    2. Jaccard is computed ONCE per DISTINCT (a, b) text pair — LSH
       buckets repeat the same surface pairs across many mention pairs;
    3. all distinct pairs are counted in ONE numpy pass: |A ∪ B| =
       distinct keys of the concatenated (pair_row, shingle_id) stream
       (np.unique + bincount), |A ∩ B| = |A| + |B| − |A ∪ B| — no
       per-pair CPython set intersections.

    Same edge semantics as kernels.hashing.jaccard: both-empty -> 1.0,
    one-empty -> 0.0; values are bit-identical (same integer counts,
    same float64 division)."""

    @pandas_udf(DoubleType())
    def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        vocab: dict[str, int] = {}
        sh_ids: dict[str, "np.ndarray"] = {}

        def ids(t: str):
            r = sh_ids.get(t)
            if r is None:
                if not t:
                    subs = ()
                elif len(t) < LSH_SHINGLE_K:
                    subs = (t,)
                else:
                    subs = {
                        t[i:i + LSH_SHINGLE_K]
                        for i in range(len(t) - LSH_SHINGLE_K + 1)
                    }
                r = np.fromiter(
                    (vocab.setdefault(s, len(vocab)) for s in subs),
                    dtype=np.int64, count=len(subs),
                )
                sh_ids[t] = r
            return r

        va = ["" if x is None else x for x in a]
        vb = ["" if y is None else y for y in b]
        pair_keys = list(zip(va, vb))
        uniq = list(dict.fromkeys(pair_keys))
        arrs = [(ids(ta), ids(tb)) for ta, tb in uniq]
        la = np.fromiter((len(x) for x, _ in arrs), dtype=np.int64,
                         count=len(arrs))
        lb = np.fromiter((len(y) for _, y in arrs), dtype=np.int64,
                         count=len(arrs))
        tot = la + lb
        union = np.zeros(len(uniq), dtype=np.int64)
        if len(uniq) and int(tot.sum()):
            rows = np.repeat(np.arange(len(uniq), dtype=np.int64), tot)
            all_ids = np.concatenate(
                [z for pair in arrs for z in pair if len(z)]
            )
            keys = rows * np.int64(len(vocab) + 1) + all_ids
            union = np.bincount(
                np.unique(keys) // np.int64(len(vocab) + 1),
                minlength=len(uniq),
            )
        inter = tot - union
        with np.errstate(invalid="ignore", divide="ignore"):
            jac = np.where(
                (la == 0) & (lb == 0), 1.0,
                np.where((la == 0) | (lb == 0), 0.0,
                         inter / np.maximum(union, 1)),
            )
        val = {p: float(jac[i]) for i, p in enumerate(uniq)}
        return pd.Series([val[p] for p in pair_keys], dtype=float)

    return jaccard_udf


def score_candidate_pairs(
    pairs: DataFrame,
    embedding_dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """K4: verified link edges (src, dst, jaccard, cosine, evidence)."""
    jac = make_jaccard_udf()
    embed = make_embed_udf(embedding_dim)
    scored = (
        pairs.withColumn("jaccard", jac("norm_a", "norm_b"))
        .withColumn("emb_a", embed("norm_a"))
        .withColumn("emb_b", embed("norm_b"))
        .withColumn("cosine", cosine_sim("emb_a", "emb_b"))
        .drop("emb_a", "emb_b")
    )
    return (
        scored.filter(
            (F.col("jaccard") >= JACCARD_THRESHOLD)
            | (F.col("cosine") >= COSINE_THRESHOLD)
        )
        .select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            "jaccard",
            "cosine",
            F.when(F.col("jaccard") >= JACCARD_THRESHOLD, F.lit("jaccard"))
            .otherwise(F.lit("cosine"))
            .alias("evidence"),
        )
    )


def alias_link_edges(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """K5 (J7): broadcast alias-dictionary links.  Surfaces resolving to
    the same canonical entity are linked star-wise through the entity's
    minimum mention id (keeps edge count linear in members, not
    quadratic)."""
    resolved = mentions.join(
        F.broadcast(aliases),
        F.lower(F.col("surface")) == F.lower(F.col("alias")),
        "inner",
    ).select("mention_id", "entity")
    hubs = resolved.groupBy("entity").agg(F.min("mention_id").alias("hub_id"))
    return (
        resolved.join(F.broadcast(hubs), "entity")
        .filter(F.col("mention_id") != F.col("hub_id"))
        .select(
            F.col("hub_id").alias("src"),
            F.col("mention_id").alias("dst"),
            F.lit(1.0).alias("jaccard"),
            F.lit(1.0).alias("cosine"),
            F.lit("alias").alias("evidence"),
        )
    )


def all_link_edges(
    mentions: DataFrame,
    aliases: DataFrame | None,
    pairs: DataFrame,
    embedding_dim: int = EMBEDDING_DIM,
) -> DataFrame:
    edges = score_candidate_pairs(pairs, embedding_dim)
    if aliases is not None:
        edges = edges.unionByName(alias_link_edges(mentions, aliases))
    return edges

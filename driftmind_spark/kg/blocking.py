"""K2/K3 — mention normalization, MinHash signatures, LSH banding and
candidate-pair generation with explicit skew handling.

Generalizes the reference's exact-key embedding cache
(``Services/EmbeddingService.cs:33-34``) to near-duplicate surface
blocking.  Scale design:

- mentions are first aggregated per distinct surface (the surface
  dictionary is orders of magnitude smaller than the mention stream at
  10^12 docs — Zipf), so MinHash runs once per distinct surface;
- candidate pairs come from an equi-join on ``(band_idx, band_hash)`` —
  a shuffle hash/sort-merge join Catalyst can plan, never a cross join;
- hot buckets (a band-hash shared by a huge cluster, the LSH analog of
  head-entity skew) are CAPPED at ``LSH_MAX_BUCKET``: membership above
  the cap means the bucket key carries no discriminative information and
  the pair explosion would be O(n^2); AQE skew-join splitting handles the
  moderate ones, the cap removes the pathological ones.  A dropped bucket
  truncates nothing silently: surfaces in it still meet in their other
  31 bands.

The banding constants below are the linking's one definition: the
incremental rebuild (kg/incremental.py) bands with the same constants
and stamps them into its persisted state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import make_minhash_bands_udf

LSH_NUM_PERM = 128
LSH_BANDS = 32
LSH_SHINGLE_K = 3
LSH_SEED = 42
# hot-bucket cap: a band bucket with more members generates no pairs
LSH_MAX_BUCKET = 256


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Distinct entity surfaces with mention counts:
    (mention_id, surface, norm, n_mentions).  One hash-agg shuffle;
    partial aggregation eats the Zipf skew map-side."""
    # one scan, not a unionAll of two selects (which plans two scans of
    # the triples table — 2.8M rows re-read at the 100k-page scale)
    surfaces = triples.select(
        F.explode(F.array("subj", "obj")).alias("surface")
    )
    return (
        surfaces.groupBy("surface")
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("norm", F.lower(F.trim(F.col("surface"))))
        .withColumn("mention_id", F.xxhash64("surface"))
    )


def banded_mentions(mentions: DataFrame) -> DataFrame:
    bands_udf = make_minhash_bands_udf(
        LSH_NUM_PERM, LSH_BANDS, LSH_SHINGLE_K, LSH_SEED)
    return mentions.select(
        "mention_id",
        "surface",
        "norm",
        F.posexplode(bands_udf("norm")).alias("band_idx", "band_hash"),
    )


def candidate_pairs(
    mentions: DataFrame,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduped across bands.
    ``max_bucket_size`` exists for tests that force the cap."""
    banded = banded_mentions(mentions)
    # anti-join against the HOT buckets only (same pattern as
    # operators/dedup.py): the over-cap list is tiny by construction — a
    # few degenerate surface clusters — so it broadcasts, instead of the
    # round-2 inner join that shuffled the FULL bucket-size dictionary
    # alongside the banded stream.
    hot = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
        .select("band_idx", "band_hash")
    )
    banded = banded.join(
        F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            F.col("a.mention_id").alias("id_a"),
            F.col("a.surface").alias("surface_a"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.mention_id").alias("id_b"),
            F.col("b.surface").alias("surface_b"),
            F.col("b.norm").alias("norm_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


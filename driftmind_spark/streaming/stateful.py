"""The streaming near-duplicate gate's signature banding and per-bucket
fold, shared by the composed ingest (streaming/ingest.py::stream_ingest)
and its batch reference :func:`near_dup_flags_batch`.

A page's MinHash signature is cut into ``bands`` slices; each slice
hashes to a band bucket key.  Per bucket, :func:`_fold_bucket` runs an
ordered state machine over arriving rows against the bucket's
representative signatures: a row that agrees with a representative on
enough slots is a near-dup, otherwise it becomes a representative while
the bucket has room.  ``stream_ingest`` runs the fold per micro-batch
with the representatives persisted between batches;
``near_dup_flags_batch`` runs the SAME fold over a static frame in one
pass, so the two must agree row for row.

The gate's tuning lives in the constants below.  The signature
construction's part of it (``GATE_SIG_PARAMS``) is stamped into the
persisted state, and a resume under other values fails loudly; the
threshold, the bucket capacity and the TTL are not stamped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GATE_NUM_PERM = 64
GATE_BANDS = 8
GATE_SHINGLE_K = 3
# a near-dup agrees with a representative on this share of slots
GATE_MIN_AGREEMENT = 0.9
GATE_MIN_SLOTS = int(-(-GATE_MIN_AGREEMENT * GATE_NUM_PERM // 1))  # ceil
# representatives kept per band bucket
GATE_MAX_REPS = 8
# event-time TTL of a band bucket's representatives
GATE_TTL_SECONDS = 7 * 24 * 3600
# everything that makes two signatures comparable, stamped into the state
GATE_SIG_PARAMS = (f"construction=kernel;num_perm={GATE_NUM_PERM};"
                   f"bands={GATE_BANDS};shingle_k={GATE_SHINGLE_K}")

DUP_OUT_SCHEMA = (
    "url string, warc_ts timestamp, band_idx int, dup_of string, "
    "agreement int, saturated boolean"
)


def sig_banded(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, text) -> (url, warc_ts, sig, band_idx, band_hash)
    rows, one per band: ONE numpy MinHash UDF per page (kernels/hashing
    — per-row, so it needs no aggregation), band keys derived JVM-side
    from signature slices."""
    from ..functions.udfs import make_minhash_sig_udf

    sig_udf = make_minhash_sig_udf(GATE_NUM_PERM, GATE_SHINGLE_K)
    with_sig = pages.select(
        "url", "warc_ts", sig_udf("text").alias("sig")
    )
    rows_per_band = GATE_NUM_PERM // GATE_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("band_hash"),
        )
        for b in range(GATE_BANDS)
    ]
    return with_sig.select(
        "url", "warc_ts", "sig",
        F.explode(F.array(*band_structs)).alias("bh"),
    ).select("url", "warc_ts", "sig", "bh.band_idx", "bh.band_hash")


def _fold_bucket(rows, reps, min_slots: int, max_reps: int):
    """The shared per-bucket fold (stream and batch run the SAME code):
    ``rows`` is (url, warc_ts, sig_list) in event order; ``reps`` the
    bucket's representative list [(url, sig_list)].  A row whose
    signature agrees with a representative on >= min_slots slots is a
    near-dup (emitted with ``saturated=False``, NOT added to reps —
    keeper semantics); otherwise it becomes a representative while the
    bucket has capacity.  A distinct row arriving at a FULL bucket is
    emitted as ``(url, ts, None, 0, saturated=True)`` — the saturation
    signal: its later duplicates will pass this band undetected, so
    operators watching the output can raise GATE_BANDS/GATE_MAX_REPS
    instead of silently losing recall (the streaming analog of the batch
    hot-band-stats frame).  Returns (out_rows, reps) with out_rows =
    (url, ts, dup_of, agreement, saturated).

    NOTE: the per-row Python loop is structurally forced — this is a
    per-key ORDERED state machine (earlier-seen-wins rep election)
    whose result depends on arrival order; do not vectorize it into an
    unordered form."""
    out = []
    for url, ts, sig in rows:
        hit = None
        for rep_url, rep_sig in reps:
            agree = sum(1 for a, b in zip(sig, rep_sig) if a == b)
            if agree >= min_slots:
                hit = (rep_url, agree)
                break
        if hit is not None:
            out.append((url, ts, hit[0], hit[1], False))
        elif len(reps) < max_reps:
            reps.append((url, list(sig)))
        else:
            out.append((url, ts, None, 0, True))
    return out, reps


def near_dup_flags_batch(pages: DataFrame) -> DataFrame:
    """Batch analog of ``stream_ingest``'s near-dup gate (its
    differential reference): the SAME ``_fold_bucket`` applied per band
    bucket over event-ordered rows, in one pass over a static frame."""

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["warc_ts", "url"])
        band_idx = int(pdf["band_idx"].iloc[0])
        rows = [(u, t, list(s)) for u, t, s in
                zip(pdf["url"], pdf["warc_ts"], pdf["sig"])]
        dups, _ = _fold_bucket(rows, [], GATE_MIN_SLOTS, GATE_MAX_REPS)
        return pd.DataFrame(
            [(u, t, band_idx, d, a, s) for (u, t, d, a, s) in dups],
            columns=["url", "warc_ts", "band_idx", "dup_of",
                     "agreement", "saturated"],
        )

    return (
        sig_banded(pages.select("url", "warc_ts", "text"))
        .groupBy("band_idx", "band_hash")
        .applyInPandas(fold, DUP_OUT_SCHEMA)
    )

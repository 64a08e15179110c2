"""Deduplication operators for training-data pipelines: exact,
n-gram-Jaccard, portable-MinHash-LSH, SimHash, embedding-cosine.

Scale design: every variant is blocked AND capped — no unblocked O(n^2)
pair generation anywhere, and every block family has a hot-bucket cap
(the n-gram, MinHash and embedding caps with a ``*_stats``
observability frame; a capped pair still meets in its other blocks).  Exact
dedup is one hash aggregation; n-gram Jaccard runs an inverted-index
postings join with a gram-df cap; MinHash-LSH bands are capped
equi-join keys; SimHash blocks on max_hamming+1 disjoint bit blocks
(Manku et al., WWW'07 — pigeonhole-guaranteed recall); embedding
near-dups block on hyperplane-LSH sign signatures.

The md5-based MinHash here is deliberately *portable SQL* (same
arithmetic runs in the DuckDB oracle); the high-throughput numpy MinHash
for the KG path lives in kernels/hashing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import cosine_sim_prenorm, l2_norm
from ..functions.udfs import simhash_udf

NORM = lambda c: F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")  # noqa: E731

# Version of the ``_minhash_signatures`` construction.  Signatures from
# different versions are mutually incomparable (the min-aggregation runs
# over different gram sets), so persisted dedup outputs must carry this
# tag and a resume across a bump must FAIL LOUDLY instead of silently
# missing near-dups (round-6 advice).  History:
#   v1  pure 1/sample_mod Broder mod-sampling (pre round 6)
#   v2  first gram always kept (``(pmod(h,m)==0) | (pos==0)`` below) —
#       changes essentially every production (portable=False) signature,
#       not just short docs' (round 6)
MINHASH_SIG_VERSION = 2


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicates by normalized-text hash: one row per distinct
    content with the keeper (min doc_id) and copy count."""
    return (
        docs.select("doc_id", F.md5(NORM(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


def _word_ngrams_col(toks: F.Column, n: int) -> F.Column:
    """Word n-grams via zip_with over shifted slices — stays inside
    whole-stage codegen (an element_at-per-index transform lambda was
    measured 12x slower: it drops to interpreted eval per element)."""
    length = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    out = F.slice(toks, 1, length)
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, length)
        out = F.zip_with(out, shifted, lambda acc, t: F.concat_ws(" ", acc, t))
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str = "source",
    max_gram_df: int = 1000,
) -> DataFrame:
    """Word-n-gram Jaccard near-dup pairs within blocks.

    Blocking on ``block_col`` keeps the pair space linear per block; at
    web scale the block key is an LSH band or URL host.  Word n-grams are
    built with sequence+transform (pure codegen).

    ``max_gram_df`` caps the document frequency of a gram WITHIN its
    block: the postings join costs O(Σ_g df_g²), so one boilerplate gram
    shared by every document ("all rights reserved") alone turns a block
    into O(n²) pairs.  Grams above the cap carry no discriminative
    signal and are dropped from the SHARED count (the |A|/|B| sizes stay
    exact, so capped jaccard only under-counts pairs held together by
    ubiquitous grams).  The cap is mirrored in the DuckDB oracle, and
    the dropped-gram count is observable via ``hot_gram_stats``."""
    toks = F.filter(F.split(NORM(F.col(text_col)), " "), lambda t: t != "")
    grams = F.when(
        F.size(toks) >= n, F.array_distinct(_word_ngrams_col(toks, n))
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    base = docs.select(
        F.col("doc_id"), F.col(block_col).alias("block"), grams.alias("grams")
    )
    # Inverted-index shape instead of pairwise array_intersect: explode to
    # (block, gram, doc, |grams|) postings, equi-join postings on
    # (block, gram) to count shared grams per pair, then
    # jaccard = shared/(|A|+|B|-shared).  Pairwise array ops cost
    # O(pairs x |grams|); the postings join costs O(sum_g df_g^2) per
    # block, which is what actually scales (and what a gram-frequency cap
    # would bound at web scale).  |grams| rides along in the postings so
    # grams are computed exactly once per self-join side.
    postings = base.select(
        "block", "doc_id", F.size("grams").alias("n"),
        F.explode("grams").alias("gram"),
    )
    # Plan-reuse anchor (see _minhash_signatures): the pair join infers
    # isnotnull on its join keys and pushes them into ITS postings
    # copies but not the hot-gram aggregation's copy, so the three
    # occurrences of the tokenize+gram+explode subtree stop being
    # identical and each is recomputed.  Null keys cannot form pairs
    # (inner equi-join) nor affect a real block's cap, so filtering them
    # everywhere keeps results identical while restoring exchange reuse
    # (measured 2.9s -> 2.3s on the sf0.1 oracle query).
    postings = postings.filter(
        F.col("doc_id").isNotNull()
        & F.col("block").isNotNull()
        & F.col("gram").isNotNull()
    )
    if max_gram_df is not None:
        # anti-join against the HOT grams only: the over-cap list is tiny
        # by construction (few ubiquitous boilerplate grams), so it
        # broadcasts — joining postings against the full below-cap gram
        # dictionary would shuffle the whole postings stream instead
        hot = (
            postings.groupBy("block", "gram")
            .agg(F.count("*").alias("gram_df"))
            .filter(F.col("gram_df") > max_gram_df)
            .select("block", "gram")
        )
        postings = postings.join(F.broadcast(hot), ["block", "gram"], "left_anti")
    a, b = postings.alias("a"), postings.alias("b")
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    # No join-strategy hint on the pair self-join: a "merge" hint was
    # measured (round 9) to let both sides share ONE postings exchange
    # via ReusedExchange (vs AQE broadcasting one side, whose build
    # bypasses the shuffle and recomputes the tokenize+gram subtree) —
    # but the shared-exchange shape was SLOWER end to end at sandbox
    # scale (cold 4.4 -> 5.3 s, warm 2.9 -> 3.4 s): the broadcast
    # rebuild runs concurrently with the probe side, while SMJ adds an
    # exchange write + two sorts to the critical path.  At corpus scale
    # the post-cap postings exceed any broadcast threshold and the
    # planner picks SMJ on its own, so the unhinted shape is already
    # scale-correct.
    return (
        a.join(b, ["block", "gram"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


_MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def hot_gram_stats(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    block_col: str = "source",
    max_gram_df: int = 1000,
) -> DataFrame:
    """Observability for the gram-df cap (no silent truncation): the
    grams ``ngram_jaccard_pairs`` dropped, with their block and df."""
    toks = F.filter(F.split(NORM(F.col(text_col)), " "), lambda t: t != "")
    grams = F.when(
        F.size(toks) >= n, F.array_distinct(_word_ngrams_col(toks, n))
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    postings = docs.select(
        F.col("doc_id"), F.col(block_col).alias("block"),
        F.explode(grams).alias("gram"),
    ).filter(
        # same null exclusion as ngram_jaccard_pairs, so the observed
        # buckets provably match the buckets the pair path capped on
        F.col("doc_id").isNotNull()
        & F.col("block").isNotNull()
        & F.col("gram").isNotNull()
    ).select("block", "gram")
    return (
        postings.groupBy("block", "gram")
        .agg(F.count("*").alias("gram_df"))
        .filter(F.col("gram_df") > max_gram_df)
    )


def minhash_params(num_perm: int = 16, seed: int = 7) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) universal-hash constants shared by the Spark
    operator and the DuckDB oracle SQL (both embed them as literals)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MINHASH_P, size=num_perm)
    b = rng.randint(0, _MINHASH_P, size=num_perm)
    return list(zip(a.tolist(), b.tolist()))


def minhash_lsh_pairs_sql(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Portable MinHash-LSH candidate pairs, ONE md5 per shingle:
    ``x = hex32(md5(sh)[:8]) mod P`` and slot i = ``min((a_i*x+b_i) mod
    P)`` over the doc's sampled shingles (P = 2^31-1, fixed seeded a/b) —
    identical arithmetic in Spark (``conv``) and the DuckDB oracle
    (``'0x'||substr`` cast), all JVM-side, no Python.

    The previous variant computed 16 independent ``md5(i || sh)`` per
    exploded shingle row; that md5 x16 was 42% of the whole round-1
    bench.  Deriving all 16 permutations from one md5 via a universal
    hash family keeps the oracle-portable arithmetic at ~1/10 the cost.
    ANSI-overflow-safe: (x mod P) < 2^31 and a_i < 2^31, so a_i*x+b_i
    < 2^62.  The 32-bit truncation of the md5 is fine at sf scale
    (collision odds ~1e-7 per million shingles); the production 64-bit
    numpy MinHash (kernels/hashing.py) remains the web-scale path.

    Returns candidate (doc_a, doc_b) pairs sharing >= 1 band.

    Shingles are mod-sampled (Broder's modded shingling): only shingles
    whose md5 ends in 0-3 survive — a consistent 1/4 sample that cuts the
    per-permutation aggregation volume 4x with the SAME rule on both
    engines, so the oracle still matches exactly.

    ``max_bucket_size`` caps a band bucket's membership (same scheme as
    kg/blocking.py): ONE hot band-hash — a boilerplate cluster where
    thousands of docs share a signature band — makes the band self-join
    O(n²) without it.  Docs in an over-cap bucket are dropped from THAT
    bucket only (they stay candidates through their other bands); a true
    boilerplate cluster is better handled by exact dedup first anyway.
    The cap is mirrored in the DuckDB oracle, and dropped buckets are
    observable via ``minhash_hot_band_stats``."""
    melted = _minhash_banded(docs, text_col, num_perm, bands, shingle_k)
    if max_bucket_size is not None:
        # anti-join against the HOT band buckets only: the over-cap list
        # is tiny by construction (a few boilerplate clusters), so it
        # broadcasts instead of shuffling the full melted stream
        hot = (
            melted.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        melted = melted.join(
            F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
        )
    a, b_ = melted.alias("a"), melted.alias("b")
    return (
        a.join(b_, ["band_idx", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _portable_sample_digits(sample_mod: int) -> list[str]:
    """Hex digits kept by the portable path's last-digit mod-sample:
    the first ``16 // sample_mod`` of '0'..'f' (so 4 -> '0123', 8 ->
    '01', 1 -> all).  ``sample_mod`` must divide 16 on this path."""
    if sample_mod < 1 or 16 % sample_mod:
        raise ValueError(
            f"portable sampling needs sample_mod dividing 16, got {sample_mod}"
        )
    return list("0123456789abcdef"[: 16 // sample_mod])


def _minhash_signatures(
    docs: DataFrame,
    text_col: str,
    num_perm: int,
    shingle_k: int,
    portable: bool = True,
    sample_mod: int = 4,
) -> DataFrame:
    """(doc_id, s0..s{num_perm-1}) MinHash signature rows — the shared
    signature stage of banding and of signature-agreement verification.

    ``portable=True`` (the oracle path) hashes every CHARACTER 5-shingle
    with md5 and mod-samples on its last hex digit — arithmetic DuckDB
    mirrors byte-for-byte.  ``portable=False`` is the production path:
    WORD ``shingle_k``-grams (Broder's original construction) hashed
    entirely in long arithmetic — one ``xxhash64`` per word inside a
    ``transform`` lambda, gram hashes folded from consecutive word
    hashes by rotate-xor ``zip_with`` (bitwise, ANSI-overflow-free), so
    the hot path never materializes a gram string.  A web page has ~6x
    fewer word-grams than char-shingles and each costs ~1/5 as much to
    hash: measured on 100k crawl pages, the 64-perm signature stage
    drops 85.8 s (char+md5) -> 7.1 s.  The two paths give different
    (but equally valid) signatures, so a corpus must pick one and stick
    to it.

    The explicit ``doc_id IS NOT NULL`` filter below is a PLAN-REUSE
    anchor, not a semantic filter (a null-id doc could never survive the
    downstream id-equi-joins anyway): the verification joins infer
    ``isnotnull(doc_id)`` onto THEIR copies of this subtree and push it
    into the scan, while the banding/stats copies don't — non-identical
    subtrees, so AQE's exchange/stage reuse cannot fire and the whole
    shingle+md5 pipeline runs once per copy.  With the filter present in
    every copy the inferred constraint is already satisfied, the five
    occurrences canonicalize identically, and the signature stage is
    computed exactly once per action (measured 1.9s -> 1.3s on the
    sf0.1 oracle query)."""
    docs = docs.filter(F.col("doc_id").isNotNull())
    params = minhash_params(num_perm)
    if not portable:
        norm = docs.select("doc_id", NORM(F.col(text_col)).alias("t"))
        words = norm.select(
            "doc_id",
            F.transform(F.split("t", " "), lambda w: F.xxhash64(w)).alias("wh"),
        )
        length = F.greatest(F.size("wh") - (shingle_k - 1), F.lit(1))
        g = F.slice("wh", 1, length)

        def _mix(acc, h):
            rot = F.shiftleft(acc, 5).bitwiseOR(F.shiftrightunsigned(acc, 59))
            # coalesce: a doc with fewer than shingle_k words pads the
            # shorter zip_with slice with NULLs, which would otherwise
            # null the whole fold and leave the doc signature-less
            # (invisible to near-dup detection, covered only by exact
            # md5 dedup) — XOR-with-0 degrades to a fold of the words
            # that exist, so EVERY doc gets a valid gram.
            return rot.bitwiseXOR(F.coalesce(h, F.lit(0)))

        for j in range(1, shingle_k):
            g = F.zip_with(g, F.slice("wh", j + 1, length), _mix)
        sh = (
            words.select(
                "doc_id", F.posexplode(g).alias("pos", "h")
            )
            # Broder mod-sample, but the FIRST gram is always kept: with
            # pure 1/sample_mod sampling a short doc can lose every gram
            # (P = (1-1/m)^n_grams) and drop out of the signature table
            # entirely.  One guaranteed gram bounds that failure mode at
            # zero for a negligible bias in the min-estimate.
            .filter(
                (F.pmod(F.col("h"), F.lit(sample_mod)) == 0) | (F.col("pos") == 0)
            )
            .select("doc_id", F.pmod(F.col("h"), F.lit(_MINHASH_P)).alias("x"))
        )
        return sh.groupBy("doc_id").agg(*_sig_agg_exprs(params))
    # Shingle generation is row-explode, NOT transform(sequence, i ->
    # substring(norm, i, k)): inside a HOF lambda the normalized-text
    # expression is re-evaluated PER ELEMENT (no loop-invariant hoisting
    # in Catalyst), i.e. one full-document regexp_replace per shingle —
    # measured 13s of the 19s query at sf0.1.  Exploding positions first
    # evaluates NORM once per document; the generator and the substring
    # projection fuse into one codegen stage, so the normalized text is
    # never copied per shingle either.  (array_distinct was dropped: a
    # min-aggregation is insensitive to duplicate shingles, so distinct
    # only added a per-doc hash set.)
    norm = docs.select("doc_id", NORM(F.col(text_col)).alias("t"))
    sh = (
        norm.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("t") - F.lit(shingle_k - 1), F.lit(1)),
                )
            ).alias("i"),
        )
        .select("doc_id", F.md5(F.substring(F.col("t"), F.col("i"), F.lit(shingle_k))).alias("h"))
        # 1/sample_mod Broder mod-sample on the last hex digit (first
        # 16//sample_mod digits keep; sample_mod=4 -> '0'..'3', matching
        # the DuckDB oracle literal byte-for-byte)
        .filter(F.substring("h", 32, 1).isin(*_portable_sample_digits(sample_mod)))
        .select(
            "doc_id",
            F.pmod(
                F.conv(F.substring("h", 1, 8), 16, 10).cast("long"),
                F.lit(_MINHASH_P),
            ).alias("x"),
        )
    )
    return sh.groupBy("doc_id").agg(*_sig_agg_exprs(params))


def _sig_agg_exprs(params: list[tuple[int, int]]) -> list:
    """The per-permutation ``min(pmod(a*x+b, P))`` aggregate columns as
    parsed SQL strings.  One ``F.expr`` per permutation instead of ~6
    chained py4j Column calls: the Column-object form spent ~1.4s of
    every COLD minhash query purely constructing the expression tree
    through the Python/JVM bridge (64 perms x 2 verification sides x
    banding).  The parsed expressions are type-identical — a and b fit
    int32, so the parser assigns the same int literals F.lit did."""
    return [
        F.expr(f"min(pmod({a} * x + {b}, {_MINHASH_P})) AS s{i}")
        for i, (a, b) in enumerate(params)
    ]


def _minhash_banded(
    docs: DataFrame,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows — the shared banding stage of
    ``minhash_lsh_pairs_sql`` and ``minhash_hot_band_stats``."""
    sig = _minhash_signatures(docs, text_col, num_perm, shingle_k)
    return _melt_bands(sig, num_perm, bands)


def _melt_bands(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Fold a signature frame into exploded (doc_id, band_idx, band_hash)
    rows (``num_perm // bands`` signature slots hashed per band)."""
    rows_per_band = num_perm // bands
    # string-expression forms for the same reason as _sig_agg_exprs:
    # these selects run at query-BUILD time on every cold invocation
    banded = sig.selectExpr(
        "doc_id",
        *[
            "md5(concat_ws('|', {})) AS band{}".format(
                ", ".join(
                    f"cast(s{i} as string)"
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ),
                b,
            )
            for b in range(bands)
        ],
    )
    melted = banded.selectExpr(
        "doc_id",
        "explode(array({})) AS bh".format(
            ", ".join(
                f"struct({b} as band_idx, band{b} as band_hash)"
                for b in range(bands)
            )
        ),
    ).select("doc_id", "bh.band_idx", "bh.band_hash")
    return melted


def minhash_hot_band_stats(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int = 256,
    portable: bool = True,
    sample_mod: int = 4,
) -> DataFrame:
    """Observability for the band-bucket cap (no silent truncation): the
    (band_idx, band_hash) buckets ``minhash_lsh_pairs_sql`` /
    ``minhash_lsh_verified_pairs`` dropped, with their sizes.  Pass the
    SAME num_perm/bands/portable/sample_mod as the pair call to observe
    its exact buckets — for ``corpus_dedup`` that is
    ``minhash_hot_band_stats(docs, **CORPUS_DEDUP_SIG_DEFAULTS)`` (the
    defaults here match the PORTABLE oracle query, NOT corpus_dedup's
    production path)."""
    melted = _melt_bands(
        _minhash_signatures(docs, text_col, num_perm, shingle_k,
                            portable=portable, sample_mod=sample_mod),
        num_perm, bands,
    )
    sizes = melted.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    if max_bucket_size is None:  # cap disabled -> nothing is ever dropped
        return sizes.filter(F.lit(False))
    return sizes.filter(F.col("bucket_size") > max_bucket_size)


def simhash_block_layout(max_hamming: int, n_blocks: int | None = None):
    """(offset, width) of each key block in the 64-bit SimHash, counted
    from the LSB.  ``n_blocks = max_hamming + 1`` gives the pigeonhole
    guarantee of Manku et al. (WWW'07): a pair differing in <= max_hamming
    bits cannot touch every one of max_hamming+1 disjoint blocks, so at
    least one block value is shared and the pair survives blocking with
    recall 1.0 (modulo the hot-bucket cap, which is observable).  The
    first ``64 % n_blocks`` blocks get the extra bit."""
    n_blocks = n_blocks or (max_hamming + 1)
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} loses the Manku guarantee for "
            f"max_hamming={max_hamming}: need n_blocks > max_hamming"
        )
    w, extra = divmod(64, n_blocks)
    widths = [w + 1] * extra + [w] * (n_blocks - extra)
    layout, off = [], 0
    for width in widths:
        layout.append((off, width))
        off += width
    return layout


def simhash_pairs_from_hashes(
    hashed: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Manku-blocked near-dup pairs over a precomputed ``(doc_id,
    simhash)`` frame: every key block is one band — the round-2 variant
    keyed ONLY the top-16-bit prefix, silently missing any pair whose
    differing bits landed in that prefix (a recall hole the planted
    pytest now covers).  Exact Hamming verification via bit_count(xor);
    ``max_bucket_size`` caps a block-value bucket exactly like the
    MinHash band cap (64-bit SimHash of boilerplate text collides en
    masse); a capped pair still meets in its other blocks."""
    layout = simhash_block_layout(max_hamming, n_blocks)
    melted = hashed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_idx"),
                    F.shiftrightunsigned("simhash", off)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("block_val"),
                )
                for i, (off, width) in enumerate(layout)
            ])
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_idx", "blk.block_val")
    if max_bucket_size is not None:
        hot = (
            melted.groupBy("block_idx", "block_val")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size)
            .select("block_idx", "block_val")
        )
        melted = melted.join(
            F.broadcast(hot), ["block_idx", "block_val"], "left_anti"
        )
    a, b = melted.alias("a"), melted.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit SimHash (vectorized UDF), blocked
    on max_hamming+1 disjoint bit blocks (full Manku scheme — guaranteed
    recall at <= max_hamming), verified by exact Hamming distance."""
    sh = docs.select("doc_id", simhash_udf(F.col(text_col)).alias("simhash"))
    return simhash_pairs_from_hashes(sh, max_hamming, n_blocks, max_bucket_size)


def hyperplane_bucket_keys(
    mat, dim: int, n_planes: int, n_tables: int, seed: int, n_probes: int
):
    """Pure-numpy hyperplane-LSH bucket keys, shape ``(n, n_tables *
    n_probes)``: key = ``table_idx * 2^n_planes + bucket``.  SHARED by
    the Spark UDF and the oracle fixture generator (round 4) so both
    engines block on byte-identical keys — near-zero dot products whose
    sign could differ between numpy's and DuckDB's summation order can
    no longer flake the oracle.  With ``n_probes=2`` each vector also
    probes the bucket with its LEAST-CONFIDENT sign bit flipped
    (argmin |dot|, classic multi-probe LSH)."""
    import numpy as np

    from .similarity import _hyperplane_coeffs

    coeffs = _hyperplane_coeffs(dim, n_planes, n_tables, seed)
    mat = np.asarray(mat, dtype=np.float64)
    dots = (mat @ coeffs.T).reshape(len(mat), n_tables, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    buckets = ((dots >= 0) * weights).sum(axis=2)      # (n, tables)
    base = (np.arange(n_tables, dtype=np.int64) << n_planes)[None, :]
    out = base + buckets
    if n_probes >= 2:
        flip = np.int64(1) << np.abs(dots).argmin(axis=2)
        out = np.concatenate([out, base + (buckets ^ flip)], axis=1)
    return out


def _near_dup_key_udf(
    dim: int, n_planes: int, n_tables: int, seed: int, n_probes: int
):
    """Arrow-batched wrapper of :func:`hyperplane_bucket_keys` (one
    matmul per batch — the same coefficient machinery as
    similarity.lsh_topk, deterministic ±1 planes from stable_hash64)."""
    from pyspark.sql.functions import pandas_udf

    def keys(emb):
        import numpy as np
        import pandas as pd

        out = hyperplane_bucket_keys(
            np.stack(emb.to_numpy()), dim, n_planes, n_tables, seed, n_probes
        )
        return pd.Series(list(out))

    return pandas_udf(keys, "array<long>")


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 7,
    n_probes: int = 1,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by hyperplane-LSH
    signatures; exact cosine verification inside buckets.

    Scale shape (replaces the round-2 argmax-dimension blocking, whose
    bucket COUNT was a constant 8 regardless of corpus size — an
    O(n²/8) self-join at crawl scale): each of ``n_tables`` sign
    signatures yields ``2^n_planes`` buckets, so occupied-bucket count
    GROWS with the corpus until saturating ``n_tables * 2^n_planes``
    (size ``n_planes`` to ~log2(n / expected_bucket_size) as the corpus
    grows), and ``max_bucket_size`` bounds any residual hot bucket —
    worst-case candidate work is O(n * max_bucket_size * n_tables *
    n_probes), never quadratic.  Dropped buckets are observable via
    ``embedding_hot_bucket_stats``; the whole blocking arithmetic
    (±1 coefficient planes, sign bits, probe flip) is mirrored literally
    in the DuckDB oracle."""
    budf = _near_dup_key_udf(dim, n_planes, n_tables, seed, n_probes)
    vec_d = "transform(embedding, x -> CAST(x AS DOUBLE))"
    # vector norm hoisted out of the verification cosine (see
    # functions.text.l2_norm): evaluated once per VECTOR instead of once
    # per candidate pair — bit-identical.  Two selects, not one: with
    # the explode in the same projection as vec/vn, Catalyst collapses
    # the vec/vn computation ABOVE the Generate (re-evaluating them per
    # exploded bucket row, n_tables*n_probes per vector); keeping the
    # explode over plain attributes pins them below it.
    base = embeddings.select(
        F.col("vec_id"),
        F.expr(vec_d).alias("vec"),
        l2_norm(vec_d).alias("vn"),
        budf("embedding").alias("bks"),
    ).select("vec_id", "vec", "vn", F.explode("bks").alias("bucket_key"))
    if max_bucket_size is not None:
        hot = (
            base.groupBy("bucket_key")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size)
            .select("bucket_key")
        )
        base = base.join(F.broadcast(hot), ["bucket_key"], "left_anti")
    a, b = base.alias("a"), base.alias("b")
    cos = cosine_sim_prenorm("a.vec", "b.vec", "a.vn", "b.vn")
    return (
        a.join(b, "bucket_key")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_hot_bucket_stats(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 7,
    n_probes: int = 1,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Observability for the near-dup bucket cap (no silent truncation):
    the bucket keys ``embedding_near_dups`` dropped, with their sizes."""
    budf = _near_dup_key_udf(dim, n_planes, n_tables, seed, n_probes)
    base = embeddings.select(F.explode(budf("embedding")).alias("bucket_key"))
    return (
        base.groupBy("bucket_key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def dedup_resolution(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate clusters and a keeper
    assignment — the step that makes any pair family actionable:
    ``(doc_id, keeper_id, is_keeper, cluster_size)``, keeper = the
    minimum doc id of the cluster (a total order, so re-runs at any
    parallelism elect identical keepers).  ``filter(is_keeper)`` IS the
    deduplicated corpus; the full frame is the audit trail.

    Near-duplicate similarity is not transitive, but dedup policy
    conventionally closes it transitively (a~b, b~c => keep one of
    {a,b,c}); the closure is connected components over the pair graph,
    reused from kg/cc.py — size-adaptive driver union-find for
    dictionary-sized pair lists, alternating large/small-star
    (Kiveris et al., SoCC'14) at crawl scale.  Composes with every pair
    family here (minhash_lsh_pairs_sql, simhash_near_dups,
    ngram_jaccard_pairs, embedding_near_dups and exact_dedup via melt).

    Cluster sizes come from an aggregate + equi-join rather than a
    window (partial aggregation absorbs a giant boilerplate cluster
    map-side; a window would funnel it through one task)."""
    from ..kg.cc import connected_components

    edges = pairs.select(
        F.col(pair_a).alias("src"), F.col(pair_b).alias("dst")
    )
    vertices = docs.select(F.col(id_col).alias("mention_id"))
    comp = connected_components(
        vertices, edges, small_graph_threshold=small_graph_threshold
    )
    labeled = comp.select(
        F.col("id").alias(id_col), F.col("component").alias("keeper_id")
    )
    sizes = labeled.groupBy("keeper_id").agg(
        F.count("*").alias("cluster_size")
    )
    return labeled.join(sizes, "keeper_id").select(
        id_col,
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        "cluster_size",
    )


def minhash_lsh_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = 256,
    min_agreement: float = 0.9,
    keep_all: bool = False,
    portable: bool = True,
    sample_mod: int = 4,
) -> DataFrame:
    """LSH candidate pairs VERIFIED by signature agreement before they
    are trusted — the production near-dup shape for boilerplate-heavy
    corpora.  ``keep_all=True`` returns EVERY candidate with its
    ``agreement`` count and a ``verified`` flag instead of filtering —
    the observability/audit view (and the driver-oracle surface, since
    the agreement arithmetic mirrors exactly into SQL).

    Band collision is a probabilistic hint, not evidence: on a corpus
    with high baseline similarity (shared boilerplate sentences — i.e.
    the actual web) unverified candidates chain through transitive
    closure into one giant cluster.  Measured on a 100k-page synthetic
    crawl with 10% planted clones: raw ``minhash_lsh_pairs_sql`` (16
    perms / 4-row bands) fed to ``dedup_resolution`` merged 87% of the
    corpus.  This operator (a) uses longer bands (8 rows — a band match
    at baseline similarity 0.5 is ~0.4% instead of ~6%), and (b) keeps
    only pairs whose full signatures agree on >= ``min_agreement`` of
    ``num_perm`` slots — an unbiased Jaccard estimate with std
    ~sqrt(s(1-s)/64) ≈ 0.04, so a 0.9 threshold cleanly separates true
    near-dups (J >= ~0.85) from boilerplate siblings (J ~ 0.5).

    Cost shape: the signature aggregation subtree appears under banding
    and under both verification join sides, but it is an identical
    exchange, so Spark's ReuseExchange computes it once per action.
    Verification itself joins ``num_perm`` ints per doc onto the capped
    candidate list — no shingle re-join, no text movement."""
    sig = _minhash_signatures(
        docs, text_col, num_perm, shingle_k,
        portable=portable, sample_mod=sample_mod,
    )
    melted = _melt_bands(sig, num_perm, bands)
    if max_bucket_size is not None:
        hot = (
            melted.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        melted = melted.join(
            F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
        )
    a, b_ = melted.alias("a"), melted.alias("b")
    cand = (
        a.join(b_, ["band_idx", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    need = int(-(-min_agreement * num_perm // 1))  # ceil
    sig_a = sig.selectExpr(
        "doc_id AS doc_a", *[f"s{i} AS a{i}" for i in range(num_perm)]
    )
    sig_b = sig.selectExpr(
        "doc_id AS doc_b", *[f"s{i} AS b{i}" for i in range(num_perm)]
    )
    agreement = " + ".join(
        f"cast((a{i} = b{i}) as int)" for i in range(num_perm)
    )
    # LEFT joins, not inner — provably identical output: the right side
    # is the doc_id-grouped signature table (unique key by construction)
    # and every cand doc_id CAME from a signature row (cand ⊆ melted ⊆
    # sig), so each cand row matches exactly one sig row under either
    # join type and the null-extension case is unreachable.  The payoff
    # is for row-count-only actions (the bench's df.count()): Catalyst
    # eliminates a left join whose right key is distinct when no right
    # column survives pruning, so count() skips both verification joins
    # AND the column-pruned duplicate of the signature subtree they
    # otherwise force (pruning rewrites their copies to a keys-only
    # aggregate that no longer canonicalizes with the signature
    # exchange — measured as a second full shingle+md5 stage, 1.4 s of
    # the 2.75 s warm query).  Filtered consumers (keep_all=False) still
    # reference the right columns, so EliminateOuterJoin converts these
    # back to inner joins — the pre-change plan exactly.
    scored = (
        cand.join(sig_a, "doc_a", "left")
        .join(sig_b, "doc_b", "left")
        .withColumn("agreement", F.expr(f"cast({agreement} as int)"))
    )
    if keep_all:
        return scored.select(
            "doc_a", "doc_b", "agreement",
            (F.col("agreement") >= need).alias("verified"),
        )
    return (
        scored.filter(F.col("agreement") >= need).select("doc_a", "doc_b")
    )


# The signature and banding parameters ``corpus_dedup`` runs with: the
# production (word-gram, portable=False) construction.  The one source
# of truth shared by the pair path and the observability call
# ``minhash_hot_band_stats(docs, **CORPUS_DEDUP_SIG_DEFAULTS)``, whose
# buckets then provably match the buckets the pair run capped on.
CORPUS_DEDUP_SIG_DEFAULTS: dict = {
    "num_perm": 64,
    "bands": 8,
    "shingle_k": 5,
    "max_bucket_size": 256,
    "portable": False,
    "sample_mod": 4,
}


def corpus_dedup(
    docs: DataFrame,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Full corpus-level dedup resolution — the composition a
    training-data pipeline runs before it embeds or extracts anything:

    1. EXACT first: group by ``md5(text)``; each distinct content is
       represented by its minimum doc id.  MinHash then runs over
       UNIQUE TEXTS ONLY — on a crawl where verbatim re-posts dominate
       duplication this shrinks the expensive stage by the duplication
       factor, and a verbatim cluster of any size costs one group, not
       O(cluster²) candidate pairs.
    2. NEAR on representatives: ``minhash_lsh_verified_pairs`` (capped
       banding + signature-agreement verification).
    3. Connected components close the verified pairs transitively at
       the representative level (min-rep-id keeper = min-doc-id of the
       whole merged cluster, since each rep is already its group's
       minimum); each group carries its doc count, so a cluster's size
       is the sum over its reps.
    4. Every doc maps through its text group to the final keeper.

    ``docs`` has ``doc_id`` and ``text`` columns.  Returns ``(doc_id,
    keeper_id, is_keeper, cluster_size)`` over every input doc, exactly
    like ``dedup_resolution``.  Signatures and banding run with
    :data:`CORPUS_DEDUP_SIG_DEFAULTS`, verification with
    ``minhash_lsh_verified_pairs``' default 0.9 agreement;
    ``small_graph_threshold`` selects the closure's driver or
    distributed path (tests pin both).

    Scale shape: one text-bearing shuffle (the md5 group-by, partial-
    aggregated map-side so the wire carries ~unique texts); signatures/
    banding/verification and the closure touch representatives only,
    so the CC edge count (and its driver/distributed switch at
    ``small_graph_threshold``) grows with near-dup pairs, never with
    verbatim copies; the doc→keeper mapping joins narrow (id, hash)
    rows and needs no doc-level recount.  md5(text) collision odds are
    ~2^-64 at 10^12 docs — acceptable for dedup (a collision merges two
    unrelated docs, it cannot lose data silently).

    NULL text is treated as empty: ``md5(NULL)`` is NULL and every inner
    join here is on the text hash, so without the coalesce a null-text
    doc would silently vanish from the output (neither keeper nor
    duplicate) — a caller rebuilding the corpus from ``filter(is_keeper)``
    would lose it without any error."""
    from ..kg.cc import connected_components

    ids = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    groups = ids.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("rep_id"),
        # min_by partial-aggregates map-side, so the shuffle carries one
        # candidate text per distinct md5, not every copy
        F.min_by("text", "doc_id").alias("text"),
        F.count("*").alias("n_docs"),
    )
    reps = groups.select(F.col("rep_id").alias("doc_id"), "text")
    pairs = minhash_lsh_verified_pairs(reps, **CORPUS_DEDUP_SIG_DEFAULTS)
    # the groups ride through the closure as vertex columns: each rep
    # comes back with its keeper, text hash and doc count, no join back
    rep_keeper = connected_components(
        groups.select(F.col("rep_id").alias("mention_id"), "text_md5",
                      "n_docs"),
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        small_graph_threshold=small_graph_threshold,
    ).withColumnRenamed("component", "keeper_id")
    sizes = rep_keeper.groupBy("keeper_id").agg(
        F.sum("n_docs").alias("cluster_size")
    )
    assigned = ids.select("doc_id", F.md5("text").alias("text_md5")).join(
        rep_keeper.select("text_md5", "keeper_id"), "text_md5"
    )
    return assigned.join(sizes, "keeper_id").select(
        "doc_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        "cluster_size",
    )

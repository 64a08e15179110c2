"""Text-analysis operators for training-data pipelines over a documents
table: language ID, quality scoring, token counting, fingerprinting.

All JVM-side column expressions (whole-stage codegen) — no Python in the
hot path; each has a 1:1 DuckDB oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small fixed marker lists shared verbatim with the SQL oracles.  The
# per-language tuples are pairwise DISJOINT by construction (a shared
# function word like fr/es "la" would count for both and manufacture
# ties) — extending to a new language is one more tuple here plus its
# mirror literal in the oracle SQL; the argmax guess rule below needs no
# change (round-7: fr/es/pt added per the round-6 verdict).
DE_MARKERS = ("der", "die", "und", "ist", "nicht", "das", "ein", "mit", "für", "auf")
EN_MARKERS = ("the", "and", "is", "not", "a", "with", "for", "on", "of", "to")
FR_MARKERS = ("le", "les", "et", "est", "une", "dans", "pas", "qui", "sur", "au")
ES_MARKERS = ("el", "los", "las", "una", "es", "y", "con", "por", "del", "como")
PT_MARKERS = ("o", "os", "as", "um", "uma", "é", "não", "em", "se", "mais")

# Insertion order fixes the tie-inspection order everywhere (Python and
# SQL build the same case chain from this dict).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": DE_MARKERS,
    "en": EN_MARKERS,
    "fr": FR_MARKERS,
    "es": ES_MARKERS,
    "pt": PT_MARKERS,
}
ALL_MARKERS: tuple[str, ...] = tuple(
    w for ms in LANG_MARKERS.values() for w in ms
)
if len(set(ALL_MARKERS)) != len(ALL_MARKERS):
    # quality_cols counts stopwords as the sum of the per-language hits
    raise ValueError("LANG_MARKERS lists must be disjoint")

_WORD_SPLIT = r"\s+"


def _marker_hits(tokens, markers) -> F.Column:
    lit = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lit, t)))


def _text(text_col) -> F.Column:
    return F.col(text_col) if isinstance(text_col, str) else text_col


def token_stats(text_col="text") -> F.Column:
    """One tokenization of the text -> ``struct(n_tokens, <lang>_hits...)``
    — the token-level inputs of :func:`lang_cols` and
    :func:`quality_cols`.  Project it as a column first and pass that
    column on: the token array is bound once through a one-element-array
    ``transform`` (a let-binding), because Spark shares no common
    subexpression across higher-order functions, and an inlined
    ``split(lower(text))`` in every feature re-tokenizes the page once
    per use."""
    toks = F.filter(
        F.split(F.lower(_text(text_col)), _WORD_SPLIT), lambda t: t != ""
    )
    return F.transform(F.array(toks), lambda t: F.struct(
        F.size(t).alias("n_tokens"),
        *[_marker_hits(t, ms).alias(f"{lang}_hits")
          for lang, ms in LANG_MARKERS.items()],
    ))[0]


def lang_cols(stats) -> dict[str, F.Column]:
    """The language-ID expressions as named columns, over a projected
    :func:`token_stats` column — shared between the :func:`lang_id`
    frame (oracle-checked) and the quality pipeline stage
    (operators/quality.py), so both gate on the SAME guess.

    Guess rule (round-7, generalizes the old pairwise de/en compare):
    the language with the UNIQUE strict maximum of marker hits; any tie
    — including all-zero — is ``unknown``.  For two languages this is
    exactly the old ``de > en`` / ``en > de`` rule."""
    stats = _text(stats)
    hits = {lang: stats[f"{lang}_hits"] for lang in LANG_MARKERS}
    mx = F.greatest(*hits.values())
    n_at_max = sum(
        (h == mx).cast("int") for h in hits.values()
    )
    guess = F.when(
        (mx > 0) & (n_at_max == 1),
        F.coalesce(*[
            F.when(h == mx, F.lit(lang)) for lang, h in hits.items()
        ]),
    ).otherwise(F.lit("unknown"))
    out = {f"{lang}_hits": h for lang, h in hits.items()}
    out["lang_guess"] = guess
    return out


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free stopword-marker language ID
    (de/en/fr/es/pt/unknown)."""
    cols = lang_cols("_stats")
    return docs.select("doc_id", token_stats(text_col).alias("_stats")).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


def quality_cols(text_col, stats) -> dict[str, F.Column]:
    """The quality-feature expressions as named columns, over the text
    and its projected :func:`token_stats` column — shared between the
    :func:`quality_scores` frame (oracle-checked) and the quality
    pipeline stage, so the stage's thresholds apply to the SAME
    features the observability query reports.  Accepts column names or
    Column expressions."""
    text, stats = _text(text_col), _text(stats)
    n_chars = F.length(text)
    n_tokens = stats["n_tokens"]
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    # the per-language marker lists are disjoint, so the stopword count
    # over ALL_MARKERS is the sum of the per-language hits
    n_stop = sum(stats[f"{lang}_hits"] for lang in LANG_MARKERS)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "stop_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4),
        "chars_per_token": F.round(
            n_chars / F.greatest(n_tokens, F.lit(1)), 4
        ),
    }


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase ratios — the standard
    web-text quality features (C4/Gopher-style heuristics)."""
    cols = quality_cols(text_col, "_stats")
    return docs.select(
        "doc_id", text_col, token_stats(text_col).alias("_stats")
    ).select("doc_id", *[c.alias(n) for n, c in cols.items()])


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (word-piece regex:
    alnum runs and single non-space symbols)."""
    text = F.col(text_col)
    ws_tokens = F.size(F.filter(F.split(text, _WORD_SPLIT), lambda t: t != ""))
    # BPE-ish estimate: alphanumeric runs + individual non-space symbols
    # (portable: no lookaround, identical formula in the SQL oracle)
    alnum_runs = F.size(
        F.filter(F.split(text, r"[^A-Za-z0-9]+"), lambda t: t != "")
    )
    n_symbols = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    bpe_ish = alnum_runs + n_symbols
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        bpe_ish.alias("bpe_ish_tokens"),
        (F.length(text) - F.length(F.regexp_replace(text, r"\s", ""))).alias("n_ws"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whole-document fingerprint: md5 of the whitespace-normalized,
    lowercased text (the exact-dedup key)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))

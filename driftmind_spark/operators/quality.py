"""Quality/language filtering as a first-class operator — the gate a
crawl pipeline runs BEFORE spending extract/embed/dedup compute on a
page (C4's and Gopher's heuristic filters; no reference counterpart —
DriftMind ingests only user uploads, so it never filters for quality).

The features and the language guess are the SAME column expressions the
oracle-checked ``lang_id`` / ``quality_scores`` queries report
(operators/textstats.py: ``lang_cols`` / ``quality_cols``) — the stage
cannot silently drift from its observability surface.

Everything is JVM-side whole-stage-codegen column arithmetic: no UDF,
no shuffle — the verdict column is computed in the same scan that reads
the text, so at 100 TB the filter costs one pass and prunes every
downstream stage's input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lang_cols, quality_cols, token_stats

# Thresholds tuned for boilerplate-stripped web text (the synth corpus
# and C4-ish real pages): kept deliberately permissive — the stage
# should drop junk (gibberish, fragments, symbol noise), not short-tail
# legitimate documents.
QUALITY_DEFAULTS: dict = {
    "min_chars": 80,          # fragments ("Short.") and empty pages
    "max_chars": None,        # no upper bound by default
    "min_tokens": 12,
    # lang_guess allow-list.  The guesser knows every language in
    # textstats.LANG_MARKERS (de/en/fr/es/pt as of round 7); any other
    # language guesses 'unknown' and is REJECTED by this gate, so for a
    # genuinely multilingual corpus either pass the full marker-dict
    # key set (langs=tuple(LANG_MARKERS)) or set langs=None, which
    # DISABLES the language check entirely (the other quality
    # thresholds still apply — note stop_ratio counts ALL_MARKERS
    # stopwords, so a language with no marker list will look
    # stopword-poor and may need min_stop_ratio=0).
    "langs": ("en", "de"),
    "min_stop_ratio": 0.02,   # gibberish has ~no stopwords
    "max_punct_ratio": 0.10,  # symbol/punctuation noise
    "max_chars_per_token": 14.0,  # unbroken base64/hash runs
}


def quality_params(**overrides) -> dict:
    """Resolve quality thresholds against :data:`QUALITY_DEFAULTS` —
    unknown keys raise (one source of truth, no silently-ignored
    knobs)."""
    unknown = set(overrides) - set(QUALITY_DEFAULTS)
    if unknown:
        raise TypeError(f"unknown quality params: {sorted(unknown)}")
    return {**QUALITY_DEFAULTS, **overrides}


def quality_filter(
    docs: DataFrame, text_col: str = "text", **overrides
) -> DataFrame:
    """Append quality features and a verdict to ``docs``: every input
    column passes through, plus the five ``quality_cols`` features,
    ``lang_guess``, ``reject_reasons array<string>`` (empty = clean)
    and ``keep boolean``.

    ``filter(keep)`` is the quality-gated corpus;
    ``filter(~keep)`` with ``reject_reasons`` is the audit frame the
    pipeline stage persists — per-reason counts aggregate from it with
    one ``explode``/``groupBy`` (observability: a threshold that
    suddenly rejects 40% of a crawl shows up as its reason's count, not
    as a silent corpus shrink)."""
    p = quality_params(**overrides)
    # Re-application guard (round-6 advice, tightened round-7): a frame
    # that already carries the derived columns (a persisted judged/audit
    # table fed back in) would otherwise get DUPLICATE column names from
    # the select('*', ...) below and fail ambiguously downstream.  Stale
    # verdicts are dropped ONLY when ALL derived names are present — the
    # judged-table shape, unambiguously this gate's own output.  A
    # PARTIAL collision (a frame with its own unrelated 'keep' or
    # 'n_chars' column) is indistinguishable from user data, and
    # silently replacing it with the gate's verdict is data loss — fail
    # loudly and let the caller rename instead.
    derived = ["n_chars", "n_tokens", "punct_ratio", "stop_ratio",
               "chars_per_token", "lang_guess", "reject_reasons", "keep"]
    present = [c for c in derived if c in docs.columns]
    if len(present) == len(derived):
        docs = docs.drop(*derived)
    elif present:
        raise ValueError(
            f"quality_filter: input columns {present} collide with the "
            "gate's derived columns but the full judged-table column set "
            "is not present — cannot tell user data from stale verdicts; "
            "rename or drop them before calling quality_filter"
        )
    # NULL text folds to '' for FEATURE computation (the output columns
    # pass through untouched): without this, every threshold comparison
    # on a NULL feature is NULL, the F.when(cond, reason) falls through
    # to NULL, and a null-text doc sails through the gate as "clean"
    text = F.coalesce(F.col(text_col), F.lit(""))
    feats = quality_cols(text, "_stats")
    lang = lang_cols("_stats")

    checks: list[tuple[str, F.Column]] = [
        ("too_short", feats["n_chars"] < F.lit(p["min_chars"])),
        ("too_few_tokens", feats["n_tokens"] < F.lit(p["min_tokens"])),
        ("low_stop_ratio", feats["stop_ratio"] < F.lit(p["min_stop_ratio"])),
        ("high_punct_ratio",
         feats["punct_ratio"] > F.lit(p["max_punct_ratio"])),
        ("long_tokens",
         feats["chars_per_token"] > F.lit(p["max_chars_per_token"])),
    ]
    if p["max_chars"] is not None:
        checks.append(
            ("too_long", feats["n_chars"] > F.lit(p["max_chars"]))
        )
    if p["langs"] is not None:
        checks.append(
            ("bad_lang", ~lang["lang_guess"].isin(*p["langs"]))
        )

    reasons = F.filter(
        F.array(*[
            F.when(cond, F.lit(name)).otherwise(F.lit(None))
            for name, cond in checks
        ]),
        lambda x: x.isNotNull(),
    )
    # each page is tokenized once, into the `_stats` column every feature
    # reads (textstats.token_stats).  It comes from an explode of a
    # one-element array because a filter on `keep` is never pushed below
    # a generator; pushed through a plain projection it would inline the
    # tokenization into its condition once per feature that reads it
    stats = F.explode(F.array(token_stats(text))).alias("_stats")
    return docs.select("*", stats).select(
        "*",
        *[c.alias(n) for n, c in feats.items()],
        lang["lang_guess"].alias("lang_guess"),
        reasons.alias("reject_reasons"),
    ).drop("_stats").withColumn("keep", F.size("reject_reasons") == 0)


def quality_reason_counts(filtered: DataFrame) -> DataFrame:
    """Per-reason rejection counts over a :func:`quality_filter` output
    (or a persisted audit table) — one explode + hash agg."""
    return (
        filtered.filter(~F.col("keep"))
        .select(F.explode("reject_reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
    )

"""The POST /search pipeline (SURVEY.md §3.2) as one JVM-only DataFrame
plan over a chunks table.

Reference flow (SearchOrchestrationService.cs:39-312) — follow-up
classification, query expansion, dual hybrid search, merge-dedup,
chunk-0 metadata join, 0.7/0.3 re-scoring, history boosts, threshold,
per-document diversification, top-k, adjacent-context assembly — with
the per-request network hops replaced by one declarative plan:

  chunks -> one scan: vector score = greatest(cos(q), cos(q_expanded))
            (raise_error on an embedding-size mismatch)
         -> top cand_k by vector score (T5)
         -> relevance blend 0.7*vector + 0.3*text (F5, native Column)
         -> threshold (P6) -> best chunk per doc (A4) -> top-k (W1)
         [+ history] -> enhanced second leg: one scan, cos(q_expanded),
                        top-20 -> F5 -> x1.8/x1.3 boosts -> top-15
                        (SearchHistoryService.cs:101-214)
                     -> reference merge in one partition: enhanced
                        first, unseen base docs fill the remaining seats
                        (SearchOrchestrationService.cs:450-483)
         -> broadcast hits x chunks: +-k adjacent chunks (W2/J5)
         -> final top-k

The reference's two legs (original and expanded query) are one scan:
per row, the better leg's score is the larger of the two cosines.  That
equals a union of the legs deduped to the best row per (url,
chunk_index) because (url, chunk_index) is unique in a chunks table;
the context step relies on the same uniqueness.  Every top-k is a
TakeOrderedAndProject (per-partition top-k, then one partition), so the
steps after it need no exchange and no step shuffles the full table.
Query-dependent values enter only as literals in fixed SQL templates,
parsed once each.  A request runs no Python worker and two Spark jobs:
the broadcast of the hits and the final collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    cosine_sim_prenorm,
    double_array_sql,
    l2_norm,
    l2_norm_sql,
    relevance_score,
    str_array_sql,
)
from ..kernels.hashing import hashed_ngram_embedding
from ..kernels.textproc import (
    expand_query,
    extract_document_references,
    extract_history_keywords,
    is_follow_up_question,
)

# appsettings.json:31 + SearchOrchestrationService.cs:337
MIN_SCORE = 0.15
MIN_SCORE_FOLLOW_UP = 0.05
HISTORY_DOC_BOOST = 1.8   # SearchHistoryService.cs:162
HISTORY_KW_BOOST = 1.3    # SearchHistoryService.cs:169


def _vector_scored(chunks: DataFrame, queries: list[str], dim: int) -> DataFrame:
    """``chunks`` plus ``vector_score``: the greatest cosine over the
    distinct ``queries``, in one scan.  The chunk vector and its norm are
    computed once per row and shared by every query vector.  A chunk
    whose embedding size is not ``dim`` fails the job: scored, it would
    silently get 0.0."""
    cos = []
    for q in dict.fromkeys(queries):
        qv = double_array_sql(hashed_ngram_embedding(q, dim).tolist())
        cos.append(cosine_sim_prenorm("_cv", qv, "_cn", l2_norm_sql(qv)))
    mismatch = F.expr(
        "raise_error(format_string('search: embedding size %d != embedding_dim %d',"
        f" size(embedding), {dim}))"
    )
    vector_score = F.when(F.size("embedding") != dim, mismatch).otherwise(
        F.greatest(*cos) if len(cos) > 1 else cos[0]
    )
    return (
        chunks.withColumn("_cv", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("_cn", l2_norm("_cv"))
        .withColumn("vector_score", vector_score)
        .drop("_cv", "_cn")
    )


def _history_boosts(df: DataFrame, refs: list[str], kws: list[str]) -> DataFrame:
    """SearchHistoryService.cs:155-171: x1.8 when the document id matches
    a mined reference, else x1.3 on keyword overlap — applied to the
    ``score`` column."""
    # match on the filename stem: the reference compares document ids
    # against mined FILE names both ways (ChatHistoryAnalyzer.cs:188-193);
    # our document ids are urls, so the extension mined from prose
    # ('.pdf') need not equal the url's ('.html')
    stems = str_array_sql(r.rsplit(".", 1)[0].lower() for r in refs)
    kws_sql = str_array_sql(k.lower() for k in kws)
    # a factor, not a CASE over ``score``: one reference to ``score``
    # lets the optimizer fold the re-score and the boost into the
    # projection of the top-k above them (x1.0 is exact)
    boost = F.expr(
        f"CASE WHEN exists({stems}, s -> contains(lower(url), s))"
        f" THEN {HISTORY_DOC_BOOST!r}D"
        f" WHEN exists({kws_sql}, k -> contains(lower(content), k))"
        f" THEN {HISTORY_KW_BOOST!r}D ELSE 1.0D END"
    )
    return df.withColumn("score", F.col("score") * boost)


def enhanced_history_leg(
    chunks: DataFrame,
    query: str,
    history: list[str],
    embedding_dim: int = 256,
    top: int = 20,
    out_k: int = 15,
) -> DataFrame:
    """The history-driven SECOND search leg
    (SearchHistoryService.RunEnhancedSearchAsync, SearchHistoryService.cs:
    101-214): hybrid top-``top`` chunks for the same query, relevance
    re-score, x1.8 boost for history-referenced documents / x1.3 for
    history-keyword content, then the top ``out_k`` by boosted score.
    No threshold and no per-document diversification — the merge step
    dedups per document."""
    refs = extract_document_references(history)
    kws = extract_history_keywords(history)
    top_chunks = _vector_scored(chunks, [query], embedding_dim).orderBy(
        F.desc("vector_score"), "url", "chunk_index"
    ).limit(top)
    rescored = top_chunks.withColumn(
        "score", relevance_score("content", "vector_score", query)
    )
    boosted = _history_boosts(rescored, refs, kws)
    return boosted.orderBy(F.desc("score"), "url", "chunk_index").limit(out_k)


_RESULT_COLS = ("url", "chunk_index", "content", "score", "vector_score")


def _merge_enhanced(
    base: DataFrame, enhanced: DataFrame, max_results: int
) -> DataFrame:
    """MergeSearchResults (SearchOrchestrationService.cs:450-483):
    enhanced results enter first (deduped to their best chunk per
    document), base documents not already included fill the remaining
    seats in score order, and the list is the top ``max_results`` by
    score (unordered; the context step orders it).  Both inputs are small
    top-k results, so they share one partition, and the seat count falls
    out of one top-k ordered enhanced-first: no action at planning time
    and no exchange."""
    both = (
        enhanced.select(*_RESULT_COLS, F.lit(True).alias("_enh"))
        .unionByName(base.select(*_RESULT_COLS, F.lit(False).alias("_enh")))
        .coalesce(1)
    )
    # per document: its best enhanced chunk, else its (single) base row
    return (
        both.withColumn("_rn", F.expr(
            "row_number() OVER (PARTITION BY url"
            " ORDER BY _enh DESC, score DESC, chunk_index)"
        ))
        .filter("_rn = 1")
        .orderBy(F.desc("_enh"), F.desc("score"), "url")
        .limit(max_results)
        .select(*_RESULT_COLS)
    )


def search(
    chunks: DataFrame,
    query: str,
    max_results: int = 10,
    history: list[str] | None = None,
    embedding_dim: int = 256,
    adjacent: int = 2,
    use_expansion: bool = True,
) -> DataFrame:
    """Returns the top ``max_results`` best-chunk-per-document rows with
    scores and an adjacent-context column.  Raises (when the plan runs)
    if a chunk's embedding size is not ``embedding_dim``."""
    history = history or []
    follow_up = is_follow_up_question(query)
    min_score = MIN_SCORE_FOLLOW_UP if follow_up else MIN_SCORE

    # oversample factor (SearchOrchestrationService.cs:107-110, T5)
    oversample = 4 if len(query) < 20 else 3
    cand_k = min(max_results * oversample, 100)

    expanded = expand_query(query) if use_expansion else query
    # candidate cut before the re-scorer — T5 oversampling.
    # (url, chunk_index) tie-break: equal-scored chunks at the cut
    # boundary must survive deterministically across partitionings.
    candidates = _vector_scored(chunks, [query, expanded], embedding_dim).orderBy(
        F.desc("vector_score"), "url", "chunk_index"
    ).limit(cand_k)

    # F5 exact-port re-scoring 0.7*vector + 0.3*text.  The BASE leg is
    # boost-free — the reference applies history boosts only inside the
    # enhanced second leg (SearchOrchestrationService.cs:137-175 computes
    # plain relevance; boosts live in SearchHistoryService.cs:155-171).
    rescored = candidates.withColumn(
        "score", relevance_score("content", "vector_score", query)
    )

    # P6 threshold -> A4 best chunk per document -> W1 global top-k
    best = (
        rescored.filter(F.col("score") >= min_score)
        .withColumn("_rn", F.expr(
            "row_number() OVER (PARTITION BY url ORDER BY score DESC, chunk_index)"
        ))
        .filter("_rn = 1")
        .orderBy(F.desc("score"), "url")
        .limit(max_results)
        .select(*_RESULT_COLS)
    )

    # history-enhanced SECOND leg + reference merge (the r1 gap): the
    # enhanced leg re-searches with the same (expanded) query, boosts by
    # history evidence, and its results take priority over the base leg
    if history:
        enh = enhanced_history_leg(chunks, expanded, history, embedding_dim)
        best = _merge_enhanced(best, enh, max_results)

    # W2/J5 adjacent context: the +-k chunks around each hit, in order
    # (ChatService.cs:324-419's context assembly as a range join).  The
    # <= max_results hits are broadcast; each matches at most 2k+1 rows,
    # so a top-n over that many rows gathers the join into one partition
    # (per-partition top-n first, so an uncached upstream still runs in
    # parallel) and the grouping needs no exchange.
    ctx = chunks.selectExpr("url AS c_url", "chunk_index AS c_idx",
                            "content AS c_content")
    joined = F.broadcast(best).join(ctx, F.expr(
        f"c_url = url AND c_idx BETWEEN chunk_index - {adjacent}"
        f" AND chunk_index + {adjacent}"
    ))
    return (
        joined.orderBy("url", "chunk_index", "c_idx")
        .limit(max(0, max_results * (2 * adjacent + 1)))
        .groupBy(*_RESULT_COLS)
        .agg(F.expr(
            "concat_ws('\\n', transform(array_sort(collect_list("
            "struct(c_idx, c_content))), s -> s.c_content)) AS context"
        ))
        .orderBy(F.desc("score"), "url")
        .limit(max_results)
    )

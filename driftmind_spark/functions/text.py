"""SQL-expressible column functions (the fast path — JVM-side, inside
whole-stage codegen; each maps a ◈-flagged SURVEY.md §2.8 row).

These are the operators the DuckDB oracle validates 1:1; where the C# port
needs byte parity beyond ANSI SQL semantics (e.g. the single-pass
double-space replace), the matching pandas UDF in ``udfs.py`` is the
parity kernel and this column version is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.textproc import (
    ALL_STOP_WORDS,
    MIME_TYPES,
    MULTI_LANGUAGE_SYNONYMS,
    extract_meaningful_terms,
)

# ---------------------------------------------------------------------------
# Driver-side literal arrays as ONE parsed expression.  ``F.array`` over
# ``F.lit`` costs a py4j round trip per element (about 170 ms for the 257
# stop words); one ``F.expr`` costs about 2 ms.  Array and string literals
# reach generated code by reference, so a plan built from them compiles to
# the same code whatever their values.
# ---------------------------------------------------------------------------


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.  ``$`` goes in as ``\\u0024`` so
    the parser's ``${var}`` substitution never sees it."""
    return "'" + (s.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("$", "\\u0024")) + "'"


def str_array_sql(values) -> str:
    return f"CAST(array({', '.join(map(_sql_str, values))}) AS ARRAY<STRING>)"


def double_array_sql(values) -> str:
    """One string literal cast to doubles: three expression nodes to
    analyse instead of one per element.  Exact: ``repr`` of a finite
    float parses back to the same double."""
    return (f"CAST(split('{','.join(repr(float(v)) for v in values)}', ',')"
            " AS ARRAY<DOUBLE>)")


# ---------------------------------------------------------------------------
# F4 — meaningful terms: split on the reference's punctuation set,
# keep len>2, drop stop words (broadcast literal array), distinct + sort
# (sorted so DataFrame and SQL engines agree on array order).
# ---------------------------------------------------------------------------

_TERM_SPLIT_PATTERN = r"[ ,.!?:;\-()\[\]\n\r]+"


def terms_array(col: Column, stop_words: tuple[str, ...]) -> Column:
    # array_except is a hash-set difference (and dedupes), vs an O(|stop|)
    # array_contains scan per token inside a filter lambda.
    # sort_array, not array_sort: identical ascending order on these
    # null-free arrays (the two differ only in null placement), but
    # array_sort expands to a lambda-comparator expression — more
    # generated code to compile per cold query and a slower sort.
    stop_lit = F.expr(str_array_sql(stop_words))
    toks = F.split(F.lower(col), _TERM_SPLIT_PATTERN)
    long_enough = F.filter(toks, lambda t: F.length(t) > 2)
    return F.sort_array(F.array_except(long_enough, stop_lit))


# ---------------------------------------------------------------------------
# F9 — extension -> MIME (DocumentProcessingService.cs:576-588) as a literal
# map lookup, with the reference's octet-stream fallback.
# ---------------------------------------------------------------------------


def mime_from_name(col: Column) -> Column:
    mapping = F.create_map(
        *[F.lit(x) for kv in MIME_TYPES.items() for x in kv]
    )
    ext = F.concat(F.lit("."), F.lower(F.regexp_extract(col, r"\.([A-Za-z0-9]+)$", 1)))
    return F.coalesce(F.element_at(mapping, ext), F.lit("application/octet-stream"))


# ---------------------------------------------------------------------------
# F10 — umlaut transliteration (DocumentProcessingService.cs:641-665)
# ---------------------------------------------------------------------------


def transliterate_umlauts(col: Column) -> Column:
    out = col
    for src, dst in (("ä", "ae"), ("ö", "oe"), ("ü", "ue"),
                     ("Ä", "Ae"), ("Ö", "Oe"), ("Ü", "Ue"), ("ß", "ss")):
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


# ---------------------------------------------------------------------------
# S7 — filename sanitization (DocumentProcessingService.cs:607-686) as a
# column expression chain: umlauts transliterated, remaining non-ASCII and
# forbidden chars -> '_', runs collapsed, edges trimmed.  The pandas-UDF
# byte-parity port lives in kernels/textproc.py::sanitize_file_name.
# ---------------------------------------------------------------------------


def sanitize_filename_col(col: Column) -> Column:
    out = transliterate_umlauts(col)
    out = F.regexp_replace(out, r"[^\x00-\x7F]", "_")
    out = F.regexp_replace(out, r'[<>:"|?*/\\ ]', "_")
    out = F.regexp_replace(out, r"_{2,}", "_")
    out = F.regexp_replace(out, r"^_+|_+$", "")
    return F.when(out == "", F.lit("sanitized_file")).otherwise(out)


# ---------------------------------------------------------------------------
# T6 — word-boundary truncation (DocumentManagementService.cs:128-142):
# cut at max_length, back to last space if it lies in the final 20%.
# ---------------------------------------------------------------------------


def truncate_at_word(col: Column, max_length: int = 150) -> Column:
    cut = F.substring(col, 1, max_length)
    # last-space position via reverse+instr (1-based; 0 when no space)
    last_space = F.when(
        F.instr(F.reverse(cut), " ") > 0,
        F.length(cut) - F.instr(F.reverse(cut), " ") + 1,
    ).otherwise(F.lit(0))
    trimmed = F.when(
        last_space > F.lit(max_length * 0.8),
        F.substring(cut, 1, (last_space - 1).cast("int")),
    ).otherwise(cut)
    return F.when(F.length(col) <= max_length, F.coalesce(col, F.lit(""))).otherwise(
        F.concat(trimmed, F.lit("..."))
    )


# ---------------------------------------------------------------------------
# F6 — cosine similarity over array<float> pairs, pure built-ins
# (zip_with + aggregate; no Python in the hot path).
# ---------------------------------------------------------------------------


# Arguments are SQL expressions (column names, say) and each function is
# one parsed expression: building the same tree node by node through
# ``F.aggregate``/``F.zip_with`` costs a py4j round trip per node and per
# lambda.


def l2_norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def l2_norm(a: str) -> Column:
    """Euclidean norm as the exact left-fold aggregate ``cosine_sim``
    uses, split out so join operators can HOIST it to before the join:
    each side's norm is then evaluated once per vector instead of once
    per candidate pair (pure common-subexpression motion — same
    expression, same float summation order, bit-identical values)."""
    return F.expr(l2_norm_sql(a))


def cosine_sim_prenorm(a: str, b: str, na: str, nb: str) -> Column:
    """``cosine_sim`` with the two norms supplied as precomputed
    expressions (see ``l2_norm``).  Only the dot product remains
    per-pair work."""
    return F.expr(
        f"CASE WHEN size({a}) != size({b}) OR {na} = 0.0D OR {nb} = 0.0D"
        f" THEN 0.0D ELSE aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" 0.0D, (acc, v) -> acc + v) / ({na} * {nb}) END"
    )


def cosine_sim(a: str, b: str) -> Column:
    return cosine_sim_prenorm(a, b, l2_norm_sql(a), l2_norm_sql(b))


# ---------------------------------------------------------------------------
# F5 (exact) — RelevanceAnalyzer.CalculateRelevanceScore as one native
# expression, equal bit for bit to kernels.textproc.calculate_relevance_score.
# ---------------------------------------------------------------------------

# one string literal split into an array: analysing a 257-element
# array(...) costs about 15 ms per occurrence, the split form 1-2 ms;
# the optimizer folds both to the same literal
_STOP_WORDS_SQL = f"split({_sql_str(' '.join(sorted(ALL_STOP_WORDS)))}, ' ')"


def _query_terms_sql(query: str) -> str:
    """The query's meaningful terms, each with its forward and reverse
    synonym lists, as one array-of-struct literal."""
    syn = {k: {s.lower() for s in v} for k, v in MULTI_LANGUAGE_SYNONYMS.items()}
    rows = [
        f"named_struct('term', {_sql_str(t)}, "
        f"'fwd', {str_array_sql(sorted(syn.get(t, ())))}, "
        f"'rev', {str_array_sql(k for k, v in syn.items() if t in v)})"
        for t in extract_meaningful_terms(query)
    ]
    return (f"CAST(array({', '.join(rows)}) AS ARRAY<STRUCT<term: STRING, "
            "fwd: ARRAY<STRING>, rev: ARRAY<STRING>>>)")


# weight of one query term ``t``: exact match (2.0), substring but not a
# space-separated word (1.0), a forward and a reverse synonym hit (1.5
# each); ``{ct}`` is the content's meaningful-term set, ``{low}`` the
# lowered content
_TERM_WEIGHT_SQL = (
    "IF(array_contains({ct}, t.term), 2.0D, 0.0D)"
    " + IF(contains({low}, t.term) AND NOT array_contains(split({low}, ' '), t.term),"
    " 1.0D, 0.0D)"
    " + IF(arrays_overlap({ct}, t.fwd), 1.5D, 0.0D)"
    " + IF(arrays_overlap({ct}, t.rev), 1.5D, 0.0D)"
)
_RELEVANCE_SQL = (
    "CASE WHEN size({q}) = 0 THEN coalesce({vs}, 0.0D)"
    " ELSE aggregate({q}, 0.0D, (acc, t) -> acc + " + _TERM_WEIGHT_SQL + ","
    " total -> CASE WHEN {vs} IS NULL THEN {text}"
    " ELSE {vs} * 0.7D + {text} * 0.3D END) END"
)


def relevance_score(content: str, vector_score: str, query: str) -> Column:
    """``calculate_relevance_score(content, query, vector_score)`` as one
    native Column over the SQL expressions ``content`` and
    ``vector_score`` (column names, say).  The query enters only as
    literals in a fixed template, so the expression has the same shape
    for every query.  Every term weight is a multiple of 0.5, so summing
    per term instead of per kind gives the kernel's double exactly."""
    q = _query_terms_sql(query)
    low = f"lower(coalesce({content}, ''))"
    # array_except is a hash-set difference; its dedup is harmless, every
    # use is a membership test
    ct = (f"array_except(filter(split({low}, {_sql_str(_TERM_SPLIT_PATTERN)}),"
          f" w -> length(w) > 2), {_STOP_WORDS_SQL})")
    text = f"least(1.0D, total / (size({q}) * 2.0D))"
    return F.expr(_RELEVANCE_SQL.format(q=q, vs=vector_score, ct=ct, low=low,
                                        text=text))


# ---------------------------------------------------------------------------
# F11 — Base64 round-trip (DocumentProcessingService.cs:143,226)
# ---------------------------------------------------------------------------


def b64_encode(col: Column) -> Column:
    return F.base64(F.encode(col, "utf-8"))


def b64_decode(col: Column) -> Column:
    return F.decode(F.unbase64(col), "utf-8")

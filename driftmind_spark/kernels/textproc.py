"""Pure-Python behavioral ports of the reference's text kernels.

Every function here reproduces, character-for-character, the observable
behavior of a routine in the reference repo (cited per function as
``file:line``).  These kernels are the single source of truth: the Spark
layer wraps them in vectorized pandas UDFs, and the pytest golden tests
exercise them directly so the Spark plan and the spec cannot drift apart.

No Spark imports allowed in this module — it must be importable on
executors with zero extra dependencies.
"""

from __future__ import annotations

import re as _sentence_re

# ---------------------------------------------------------------------------
# .NET-compatible whitespace handling.
#
# C# `char.IsWhiteSpace` / `string.Trim()` / `string.IsNullOrWhiteSpace`
# use the Unicode white-space set below, which differs slightly from
# Python's `str.isspace` (Python additionally treats U+001C..U+001F as
# whitespace).  The chunker (TextChunkingService.cs:12,44,63-66) depends on
# this predicate, so we port it exactly.
# ---------------------------------------------------------------------------

_NET_WHITESPACE_STR = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_NET_WHITESPACE = frozenset(_NET_WHITESPACE_STR)


def net_trim(s: str) -> str:
    """Port of .NET ``string.Trim()``: ``str.strip`` against the exact
    .NET whitespace set (C-level scan; the set-membership char loop this
    replaces was a top-3 cost of the whole chunk/triple kernel path)."""
    return s.strip(_NET_WHITESPACE_STR)


def is_null_or_whitespace(s: str | None) -> bool:
    """Port of .NET ``string.IsNullOrWhiteSpace``."""
    return s is None or s.strip(_NET_WHITESPACE_STR) == ""


# ---------------------------------------------------------------------------
# Sentence splitting + chunking
# (Services/TextChunkingService.cs:10-78)
# ---------------------------------------------------------------------------


# A sentence boundary is a '.', '!' or '?' that is the last character of
# the text (\Z, NOT $ — $ would also fire before a trailing newline and
# double-count that terminator) or is immediately followed by a .NET
# whitespace char.  finditer walks left to right exactly like the
# original per-character loop; each boundary closes the sentence that
# includes the terminator itself.
_SENTENCE_BOUNDARY_RE = _sentence_re.compile(
    "[.!?](?=[%s])|[.!?]\\Z" % _sentence_re.escape(_NET_WHITESPACE_STR)
)


def split_into_sentences(text: str) -> list[str]:
    """Port of ``TextChunkingService.SplitIntoSentences``
    (Services/TextChunkingService.cs:52-78).

    A sentence ends at '.', '!' or '?' when it is the last character of the
    text or the next character is whitespace.  Sentences are trimmed and
    whitespace-only entries dropped.

    Implemented as a compiled-regex boundary scan (the per-character
    Python loop it replaces was 53% of the whole chunk+triple kernel
    profile); the emitted sentences are byte-identical — the original
    trimmed every piece with ``net_trim`` and dropped whitespace-only
    entries, which is exactly "trim each slice, keep non-empty".
    """
    sentences: list[str] = []
    start = 0
    for m in _SENTENCE_BOUNDARY_RE.finditer(text):
        end = m.end()
        s = text[start:end].strip(_NET_WHITESPACE_STR)
        if s:
            sentences.append(s)
        start = end
    tail = text[start:].strip(_NET_WHITESPACE_STR)
    if tail:
        sentences.append(tail)
    return sentences


def chunk_text(text: str | None, chunk_size: int = 300, overlap: int = 20) -> list[str]:
    """Port of ``TextChunkingService.ChunkText``
    (Services/TextChunkingService.cs:10-50).

    Greedy sentence packing into chunks of at most ``chunk_size`` characters
    (a single over-long sentence is kept whole); on overflow the next chunk
    is seeded with the last ``min(overlap // 10, n_words)`` words of the
    previous chunk (C# integer division; default overlap=20 -> 2 words).
    Words are split on the space character only (C# ``Split(' ',
    RemoveEmptyEntries)``).
    """
    if text is None or is_null_or_whitespace(text):
        return []

    chunks: list[str] = []
    current = ""
    for sentence in split_into_sentences(text):
        if len(current) + len(sentence) > chunk_size and current != "":
            chunks.append(net_trim(current))
            if overlap > 0:
                words = [w for w in current.split(" ") if w != ""]
                take = min(overlap // 10, len(words))
                # C# TakeLast(0) yields nothing -> seed becomes " "
                seed_words = words[len(words) - take:] if take > 0 else []
                current = " ".join(seed_words) + " "
            else:
                current = ""
        current += sentence + " "
    if not is_null_or_whitespace(current):
        chunks.append(net_trim(current))
    return chunks


# ---------------------------------------------------------------------------
# Cache-key normalization (Services/EmbeddingService.cs:95-104)
# ---------------------------------------------------------------------------


def normalize_for_caching(text: str) -> str:
    """Port of ``EmbeddingService.NormalizeForCaching``
    (Services/EmbeddingService.cs:95-104).

    Note the double-space replace is a single left-to-right pass (C#
    ``string.Replace`` semantics == Python ``str.replace``), so runs of
    three spaces collapse to two, not one — ported as-is.
    """
    return (
        net_trim(text)
        .lower()
        .replace("  ", " ")
        .replace("\n", " ")
        .replace("\r", "")
        .replace("\t", " ")
    )


# ---------------------------------------------------------------------------
# Meaningful-term extraction + relevance scoring
# (Services/RelevanceAnalyzer.cs:6-153)
# ---------------------------------------------------------------------------

GERMAN_STOP_WORDS = (
    "der", "die", "das", "den", "dem", "des", "ein", "eine", "einer", "einem", "eines",
    "und", "oder", "aber", "doch", "sondern", "jedoch", "dennoch",
    "in", "auf", "mit", "von", "zu", "für", "über", "unter", "durch", "gegen", "ohne",
    "um", "vor", "seit", "bis", "während", "nach", "bei", "als", "wie",
    "ist", "sind", "war", "waren", "wird", "werden", "wurde", "wurden", "haben", "hat",
    "hatte", "hatten", "kann", "können", "konnte", "konnten", "soll", "sollte",
    "sollten", "muss", "müssen", "musste", "mussten",
    "ich", "du", "er", "sie", "es", "wir", "ihr", "sich", "mich", "dich", "uns", "euch",
    "wenn", "dass", "weil", "damit", "obwohl", "falls", "sofern",
    "nicht", "kein", "keine", "keiner", "keinem", "keines",
    "sehr", "mehr", "auch", "nur", "noch", "schon", "bereits", "immer", "oft", "manchmal",
    "wo", "wohin", "woher", "wann", "warum", "weshalb", "wieso", "welche", "welcher",
    "welches", "welchen",
    "macht", "machen", "tun", "gehen", "kommen", "sagen", "gibt", "geben",
    "mal", "denn", "halt", "eben", "etwa", "eigentlich", "wohl", "ganz", "recht",
    "ziemlich", "etwas", "eher",
    "alle", "alles", "jeder", "jede", "jedes", "diesem", "dieser", "dieses", "andere",
    "anderen", "anderer",
)

ENGLISH_STOP_WORDS = (
    "the", "and", "or", "but", "a", "an", "in", "on", "at", "to", "for", "of", "with",
    "by", "from", "up", "about", "into", "through", "during",
    "how", "can", "is", "are", "was", "were", "will", "would", "could", "should",
    "must", "have", "has", "had", "do", "does", "did", "get", "got",
    "i", "you", "he", "she", "it", "we", "they", "me", "him", "her", "us", "them",
    "my", "your", "his", "their", "our",
    "if", "that", "because", "when", "where", "why", "what", "which", "who", "whose",
    "this", "these", "that", "those",
    "not", "no", "yes", "very", "more", "also", "only", "just", "already", "always",
    "often", "sometimes", "never", "here", "there", "now", "then",
    "make", "makes", "made", "go", "goes", "went", "come", "comes", "came",
    "say", "says", "said", "tell", "tells", "told",
    "may", "might", "shall", "ought",
    "all", "any", "some", "many", "few", "several", "each", "every", "other",
    "another", "such", "same",
    "whom", "whenever", "wherever",
)

ALL_STOP_WORDS = frozenset(GERMAN_STOP_WORDS) | frozenset(ENGLISH_STOP_WORDS)

MULTI_LANGUAGE_SYNONYMS: dict[str, list[str]] = {
    "betreiben": ["verwenden", "nutzen", "einsetzen", "laufen", "abgelegt", "eingebunden",
                  "hosten", "ausführen", "verwalten", "operate", "run", "host", "deploy",
                  "manage"],
    "datenbank": ["database", "db", "sqlite", "daten", "speicher", "datenspeicher",
                  "data", "storage", "repository"],
    "azure": ["microsoft", "cloud", "files", "webapp", "storage", "service", "platform",
              "infrastructure"],
    "konfigurieren": ["einrichten", "setup", "configure", "eingebunden", "konfiguration",
                      "einstellung", "config", "configuration", "setting", "install",
                      "deploy"],
    "sqlite": ["datenbank", "database", "db", "datei", "lokal", "file", "local",
               "embedded"],
    "files": ["dateien", "datei", "storage", "speicher", "ablage", "file", "document",
              "blob", "share"],
    "volume": ["laufwerk", "mount", "einbindung", "speicherplatz", "drive", "disk",
               "storage", "filesystem"],
    "option": ["parameter", "einstellung", "konfiguration", "flag", "setting", "config",
               "argument", "switch"],
    "nobrl": ["byte-range", "locking", "sperren", "lock", "unlock", "disable", "flag"],
    "operate": ["betreiben", "run", "host", "deploy", "manage", "verwenden", "nutzen",
                "ausführen"],
    "database": ["datenbank", "db", "sqlite", "data", "storage", "repository",
                 "speicher", "datenspeicher"],
    "configure": ["konfigurieren", "setup", "config", "setting", "install", "einrichten",
                  "einstellung", "konfiguration"],
    "run": ["betreiben", "operate", "execute", "host", "deploy", "laufen", "ausführen",
            "hosten"],
    "setup": ["konfigurieren", "configure", "install", "deploy", "einrichten",
              "konfiguration", "einstellung"],
    "storage": ["speicher", "files", "data", "repository", "ablage", "datenspeicher",
                "dateien"],
    "file": ["datei", "document", "blob", "storage", "dateien"],
    "cloud": ["azure", "microsoft", "platform", "service", "infrastructure", "online"],
    "mount": ["einbinden", "volume", "drive", "attach", "connect", "laufwerk",
              "einbindung"],
    "deploy": ["deployen", "install", "setup", "configure", "host", "einrichten",
               "installieren"],
}

_TERM_SPLIT_CHARS = frozenset(" ,.!?:;-()[]\n\r")


def extract_meaningful_terms(text: str) -> list[str]:
    """Port of ``RelevanceAnalyzer.ExtractMeaningfulTerms``
    (Services/RelevanceAnalyzer.cs:142-152): lowercase, split on the
    punctuation/space set, keep terms longer than 2 chars that are not
    stop words, distinct preserving first-seen order.
    """
    lowered = text.lower()
    terms: list[str] = []
    current: list[str] = []
    for ch in lowered:
        if ch in _TERM_SPLIT_CHARS:
            if current:
                terms.append("".join(current))
                current = []
        else:
            current.append(ch)
    if current:
        terms.append("".join(current))
    seen: set[str] = set()
    out: list[str] = []
    for t in terms:
        if len(t) > 2 and t not in ALL_STOP_WORDS and t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _count_exact_matches(query_terms: list[str], content_terms: list[str]) -> int:
    content_set = {t.lower() for t in content_terms}
    return sum(1 for q in query_terms if q.lower() in content_set)


def _count_partial_matches(query_terms: list[str], content: str) -> int:
    """Port of RelevanceAnalyzer.CountPartialMatches (:95-102): the term is
    a substring of the lowered content but never equals a whole
    space-separated word of it.
    """
    content_lower = content.lower()
    words = {w.lower() for w in content_lower.split(" ") if w != ""}
    return sum(
        1 for term in query_terms
        if term.lower() in content_lower and term.lower() not in words
    )


def _count_synonym_matches(query_terms: list[str], content_terms: list[str]) -> int:
    """Port of RelevanceAnalyzer.CountSynonymMatches (:104-140).  Note the
    reference counts both directions independently, so one query term can
    contribute 2 to the tally — ported as-is.
    """
    matches = 0
    content_lower = [c.lower() for c in content_terms]
    for query_term in query_terms:
        q = query_term.lower()
        syns = MULTI_LANGUAGE_SYNONYMS.get(q)
        if syns is not None:
            syn_set = {s.lower() for s in syns}
            if any(c in syn_set for c in content_lower):
                matches += 1
        for c in content_lower:
            syns_c = MULTI_LANGUAGE_SYNONYMS.get(c)
            if syns_c is not None and any(s.lower() == q for s in syns_c):
                matches += 1
                break
    return matches


def calculate_relevance_score(
    content: str, query: str, vector_score: float | None = None
) -> float:
    """Port of ``RelevanceAnalyzer.CalculateRelevanceScore``
    (Services/RelevanceAnalyzer.cs:59-86): weighted text relevance
    ``min(1, (2*exact + 1*partial + 1.5*synonym) / (2*|qterms|))``, blended
    ``0.7*vector + 0.3*text`` when a vector score is present.
    """
    query_terms = extract_meaningful_terms(query)
    content_terms = extract_meaningful_terms(content)
    if not query_terms:
        return vector_score if vector_score is not None else 0.0
    exact = _count_exact_matches(query_terms, content_terms)
    partial = _count_partial_matches(query_terms, content)
    synonym = _count_synonym_matches(query_terms, content_terms)
    total = exact * 2.0 + partial * 1.0 + synonym * 1.5
    text_relevance = min(1.0, total / (len(query_terms) * 2.0))
    if vector_score is not None:
        return vector_score * 0.7 + text_relevance * 0.3
    return text_relevance


# ---------------------------------------------------------------------------
# Keyword extraction with stop/follow-up filtering
# (Services/TextProcessingHelper.cs:8-84, Services/ChatHistoryAnalyzer.cs:13-40)
# ---------------------------------------------------------------------------

HELPER_STOP_WORDS = frozenset(w.lower() for w in (
    "der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich", "des", "auf",
    "für", "ist", "im", "eine", "als", "auch", "dem", "wird", "an", "dass", "kann",
    "sind", "nach", "nicht", "werden", "bei", "einer", "ein", "war", "hat", "ich",
    "es", "sie", "haben", "er", "über", "so", "hier", "oder", "was", "aber", "mehr",
    "aus", "wenn", "nur", "noch", "wie", "bis", "dann", "diese", "um", "vor", "durch",
    "man", "sein", "soll", "etwa", "alle", "seine", "wo", "unter", "sehr", "zum",
    "einem", "könnte", "ihren", "seiner", "zwei", "zwischen", "wieder", "diesem",
    "hatte", "ihre", "eines", "gegen", "vom", "können", "weitere", "sollte", "seit",
    "wurde", "während", "dazu", "bereits", "dabei",
    "the", "is", "at", "which", "on", "and", "a", "to", "as", "are", "was", "will",
    "an", "be", "or", "of", "with", "by", "from", "up", "about", "into", "through",
    "during", "before", "after", "above", "below", "between", "among", "throughout",
    "despite", "towards", "upon", "concerning", "within", "without", "again", "further",
    "then", "once", "here", "there", "when", "where", "why", "how", "all", "any",
    "both", "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "can", "just",
    "should", "now",
))

FOLLOW_UP_WORDS = frozenset(w.lower() for w in (
    "mehr", "weitere", "andere", "zusätzliche", "gehe", "bitte", "kannst", "könntest",
    "würdest", "sagen", "erzählen", "erklären", "erläutern", "beschreiben",
    "more", "additional", "further", "other", "please", "could", "would", "tell",
    "explain", "describe", "elaborate",
))

_HELPER_SPLIT_CHARS = frozenset(" \n\t.,;:!?")


def _helper_split(text: str) -> list[str]:
    words: list[str] = []
    current: list[str] = []
    for ch in text:
        if ch in _HELPER_SPLIT_CHARS:
            if current:
                words.append("".join(current))
                current = []
        else:
            current.append(ch)
    if current:
        words.append("".join(current))
    return words


def extract_meaningful_words(text: str) -> list[str]:
    """Port of ``TextProcessingHelper.ExtractMeaningfulWords``
    (Services/TextProcessingHelper.cs:56-62): length > 3, stop words out,
    duplicates kept."""
    return [
        w for w in _helper_split(text.lower())
        if len(w) > 3 and w not in HELPER_STOP_WORDS
    ]


def extract_keywords(text: str, max_keywords: int = 8) -> list[str]:
    """Port of ``TextProcessingHelper.ExtractKeywords``
    (Services/TextProcessingHelper.cs:67-74).  The reference filters on the
    original casing but matches stop words case-insensitively."""
    out: list[str] = []
    for w in _helper_split(text):
        if len(w) > 3 and w.lower() not in HELPER_STOP_WORDS \
                and w.lower() not in FOLLOW_UP_WORDS:
            out.append(w)
            if len(out) >= max_keywords:
                break
    return out


def extract_history_keywords(messages: list[str], max_keywords: int = 8) -> list[str]:
    """Port of ``ChatHistoryAnalyzer.ExtractKeywords``
    (Services/ChatHistoryAnalyzer.cs:13-40): last 3 messages, per-message
    weight 0.7^(age), sum weights per keyword (case-insensitive key,
    first-seen casing wins), take top ``max_keywords`` by weight (stable
    order on ties, matching .NET OrderByDescending stability)."""
    recent = messages[-3:]
    weights: dict[str, float] = {}
    casing: dict[str, str] = {}
    order: list[str] = []
    for i, content in enumerate(recent):
        if is_null_or_whitespace(content):
            continue
        w = 0.7 ** (len(recent) - i - 1)
        for kw in extract_keywords(content, 8):
            key = kw.lower()
            if key not in weights:
                weights[key] = 0.0
                casing[key] = kw
                order.append(key)
            weights[key] += w
    ranked = sorted(order, key=lambda k: -weights[k])
    return [casing[k] for k in ranked[:max_keywords]]


def jaccard_keyword_similarity(a: str, b: str) -> float:
    """Port of the word-Jaccard inside
    ``ChatHistoryAnalyzer.HasSimilarKeywords``
    (Services/ChatHistoryAnalyzer.cs:140-161): meaningful words of both
    texts, |intersection| / |union| case-insensitive."""
    wa = extract_meaningful_words(a)
    wb = extract_meaningful_words(b)
    sa = {w.lower() for w in wa}
    sb = {w.lower() for w in wb}
    union = sa | sb
    if not union:
        return 0.0
    return len(sa & sb) / len(union)


# ---------------------------------------------------------------------------
# Query expansion + document-reference mining
# (Services/QueryExpansionService.cs:28-72 — LLM call replaced by a
# deterministic synonym-table expansion, SURVEY.md §2.10/§7.3;
# Services/ChatHistoryAnalyzer.cs:166-180 — filename regex port)
# ---------------------------------------------------------------------------

import re as _re

_DOC_NAME_RE = _re.compile(r"([a-zA-Z0-9\-_]+\.(?:pdf|docx?|txt|md))", _re.IGNORECASE)


def expand_query(query: str, max_synonyms_per_term: int = 2) -> str:
    """Deterministic stand-in for the reference's LLM query expansion:
    meaningful terms get up to ``max_synonyms_per_term`` synonyms from the
    reference's own bilingual table appended; unchanged queries return the
    original (mirroring QueryExpansionService.cs:56-62's same-query
    fallback)."""
    if is_null_or_whitespace(query):
        return query
    terms = extract_meaningful_terms(query)
    extra: list[str] = []
    seen = set(terms)
    for t in terms:
        for syn in MULTI_LANGUAGE_SYNONYMS.get(t, ())[:max_synonyms_per_term]:
            s = syn.lower()
            if s not in seen:
                seen.add(s)
                extra.append(s)
    if not extra:
        return query
    return query + " " + " ".join(extra)


def extract_document_references(messages: list[str], last_n: int = 3) -> list[str]:
    """Port of the filename mining inside
    ``ChatHistoryAnalyzer.ExtractDocumentNamesFromLine``
    (Services/ChatHistoryAnalyzer.cs:166-180): document-looking names
    (3 < len < 100) from the last ``last_n`` messages, deduped
    case-insensitively, first-seen order."""
    seen: set[str] = set()
    out: list[str] = []
    for msg in messages[-last_n:]:
        if is_null_or_whitespace(msg):
            continue
        for m in _DOC_NAME_RE.finditer(msg):
            name = net_trim(m.group(1))
            if 3 < len(name) < 100 and name.lower() not in seen:
                seen.add(name.lower())
                out.append(name)
    return out


def contains_any_keyword(content: str, keywords: list[str]) -> bool:
    """Port of ``TextProcessingHelper.ContainsAnyKeyword``
    (Services/TextProcessingHelper.cs:79-83)."""
    low = content.lower()
    return any(k.lower() in low for k in keywords)


def document_referenced(doc_id: str, references: list[str]) -> bool:
    """Port of ``ChatHistoryAnalyzer.DocumentIsReferencedInHistory``
    (Services/ChatHistoryAnalyzer.cs:184-204), id-only variant."""
    if is_null_or_whitespace(doc_id) or not references:
        return False
    low = doc_id.lower()
    return any(r.lower() in low or low in r.lower() for r in references)


# ---------------------------------------------------------------------------
# Follow-up classification (Services/FollowUpQuestionAnalyzer.cs:8-75)
# ---------------------------------------------------------------------------

FOLLOW_UP_PATTERNS = (
    "beispiel", "beispiele", "mehr über", "mehr dazu", "mehr infos", "mehr details",
    "weitere informationen", "nachteile davon", "vorteile davon", "probleme dabei",
    "schwierigkeiten", "andere aspekte", "zusätzlich", "außerdem", "darüber hinaus",
    "kannst du", "könntest du", "erklär mir", "sag mir mehr", "gib mir", "zeig mir",
    "was meinst du", "erkläre das", "genauer", "spezifischer", "details",
    "example", "examples", "can you", "could you", "tell me more", "give me", "show me",
    "what do you mean", "explain that", "more about", "more details", "more info",
    "disadvantages", "advantages", "problems with", "issues with", "other aspects",
    "additionally", "furthermore", "more specific", "more precise", "elaborate",
)

QUESTION_WORDS = (
    "welche", "welcher", "welches", "was", "wie", "warum", "weshalb", "wo", "wann", "wer",
    "what", "how", "why", "where", "when", "who", "which",
)


def is_follow_up_question(query: str | None) -> bool:
    """Port of ``FollowUpQuestionAnalyzer.IsFollowUpQuestion``
    (Services/FollowUpQuestionAnalyzer.cs:35-75)."""
    if query is None or is_null_or_whitespace(query):
        return False
    q = net_trim(query.lower())
    # C# Split(' ') keeps empty entries
    if len(q) < 10 or len(q.split(" ")) <= 2:
        return True
    starts_with_qw = any(q.startswith(w + " ") for w in QUESTION_WORDS)
    if starts_with_qw and len(q) > 20:
        return False
    return any(p in q for p in FOLLOW_UP_PATTERNS)


# ---------------------------------------------------------------------------
# Cosine similarity (Services/FollowUpQuestionAnalyzer.cs:80-98)
# ---------------------------------------------------------------------------


def cosine_similarity(v1, v2) -> float:
    """Port of ``FollowUpQuestionAnalyzer.CalculateCosineSimilarity``:
    0.0 on dimension mismatch or zero magnitude."""
    if len(v1) != len(v2):
        return 0.0
    dot = 0.0
    m1 = 0.0
    m2 = 0.0
    for a, b in zip(v1, v2):
        dot += a * b
        m1 += a * a
        m2 += b * b
    if m1 == 0.0 or m2 == 0.0:
        return 0.0
    return dot / ((m1 ** 0.5) * (m2 ** 0.5))


# ---------------------------------------------------------------------------
# Content truncation (Services/DocumentManagementService.cs:128-142)
# ---------------------------------------------------------------------------


def truncate_content(content: str | None, max_length: int) -> str:
    """Port of ``DocumentManagementService.TruncateContent``: cut at
    ``max_length`` chars, back off to the last space if it falls in the
    final 20%, then append "..."."""
    if not content or len(content) <= max_length:
        return content or ""
    truncated = content[:max_length]
    last_space = truncated.rfind(" ")
    if last_space > max_length * 0.8:
        truncated = truncated[:last_space]
    return truncated + "..."


# ---------------------------------------------------------------------------
# MIME map + filename sanitization
# (Services/DocumentProcessingService.cs:572-729)
# ---------------------------------------------------------------------------

MIME_TYPES: dict[str, str] = {
    ".pdf": "application/pdf",
    ".docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    ".doc": "application/msword",
    ".txt": "text/plain",
    ".md": "text/markdown",
    ".json": "application/json",
    ".xml": "application/xml",
    ".csv": "text/csv",
    ".log": "text/plain",
}


def get_extension(file_name: str) -> str:
    """Port of .NET ``Path.GetExtension(...).ToLowerInvariant()`` — the
    final '.'-suffix including the dot; empty when no dot in the last
    segment."""
    base = file_name.rsplit("/", 1)[-1].rsplit("\\", 1)[-1]
    idx = base.rfind(".")
    if idx < 0:
        return ""
    return base[idx:].lower()


def get_correct_content_type(file_name: str, client_content_type: str | None = None) -> str:
    """Port of ``DocumentProcessingService.GetCorrectContentType``
    (Services/DocumentProcessingService.cs:572-605)."""
    ext = get_extension(file_name)
    if ext in MIME_TYPES:
        return MIME_TYPES[ext]
    return client_content_type if client_content_type else "application/octet-stream"


_UMLAUTS = {
    "ä": "ae", "ö": "oe", "ü": "ue",
    "Ä": "Ae", "Ö": "Oe", "Ü": "Ue",
    "ß": "ss",
}

_FORBIDDEN_ASCII = set('<>:"|?*/\\ ')


def sanitize_file_name(file_name: str | None) -> str:
    """Port of ``DocumentProcessingService.SanitizeFileNameForBlobStorage``
    (Services/DocumentProcessingService.cs:607-686): forbidden ASCII chars
    and spaces -> '_', German umlauts transliterated, all other non-ASCII
    -> '_' (the reference's ASCII-encode fallback always yields '?'),
    collapse '__', trim '_'."""
    if not file_name:
        return "unknown_file"
    out: list[str] = []
    for c in file_name:
        if ord(c) <= 127:
            out.append("_" if c in _FORBIDDEN_ASCII else c)
        elif c in _UMLAUTS:
            out.append(_UMLAUTS[c])
        else:
            out.append("_")
    sanitized = "".join(out)
    while "__" in sanitized:
        sanitized = sanitized.replace("__", "_")
    sanitized = sanitized.strip("_")
    return sanitized if sanitized else "sanitized_file"


def sanitize_metadata_value(value: str | None) -> str:
    """Port of ``DocumentProcessingService.SanitizeMetadataValue``
    (Services/DocumentProcessingService.cs:688-729): keep ASCII,
    transliterate umlauts, drop all other non-ASCII."""
    if not value:
        return ""
    out: list[str] = []
    for c in value:
        if ord(c) <= 127:
            out.append(c)
        elif c in _UMLAUTS:
            out.append(_UMLAUTS[c])
    return "".join(out)

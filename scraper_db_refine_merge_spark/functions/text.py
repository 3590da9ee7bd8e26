"""Text search + text analysis column expressions.

Search (SURVEY T1/T2): the reference builds a Mongo text index over 5 fields
(database/fix_schema.py:142-149) and serves ``$text`` search with a
relevance sort (database/api_server.py:314-350). Here the index is a
precomputed ``search_blob`` column and relevance is a deterministic term-
frequency proxy — documented divergence: Mongo's textScore (TF-IDF-ish with
stemming) is not bit-replicated; parity target is same result *set* with a
deterministic ranking.

Analysis: language-ID (stopword-profile heuristic), quality scoring
(length/punct/stopword ratios, mirroring the reference's v2 simple scorer
scrapers_v2/data_quality/scoring.py:112-162 shape), token counting
(whitespace + regex), and document fingerprinting (md5 content hash +
min-shingle "winnowing-lite" hash). All pure built-in expressions.

Whitespace note (r15 \\s-parity sweep): the tokenizers/fingerprints here
split on Java ``\\s`` after ASCII-space ``trim`` — that is this engine's own
tokenizer SPEC for the LLM-pipeline ops (T1/T2 and the dedup family), stated
identically in their DuckDB oracle SQL, NOT a mirror of a reference
``str.strip()`` call. Reference-parity strip sites use
``strings.python_strip`` (full Python whitespace set) instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# Search


def search_blob(*cols: Column) -> Column:
    """Concatenated lowercase search document over the indexed fields."""
    return F.lower(F.concat_ws(" ", *cols))


def term_count(blob: Column, term: str) -> Column:
    """Occurrences of ``term`` in ``blob`` (substring TF proxy)."""
    t = term.lower()
    return (F.length(blob) - F.length(F.replace(blob, F.lit(t), F.lit("")))) / len(t)


def text_search_relevance(blob: Column, terms: list[str]) -> tuple[Column, Column]:
    """(matches_all, relevance): token-AND match + summed term counts.

    relevance is integral; cast keeps it a long for engine-stable output.
    """
    # r16 (guide §1.2 per-task work): the boolean is `contains`, not
    # `term_count > 0` — replace-based counting ALLOCATES the replaced
    # string per row per term, and the Filter evaluates the predicate on
    # EVERY row while only survivors need the counts (which stay in the
    # Project). contains(blob, t) ⟺ term_count(blob, t) > 0, same rows.
    matches_all = None
    for t in terms:
        cond = F.contains(blob, F.lit(t.lower()))
        matches_all = cond if matches_all is None else (matches_all & cond)
    relevance = None
    for c in (term_count(blob, t) for t in terms):
        relevance = c if relevance is None else relevance + c
    return matches_all, relevance.cast("long")


# ----------------------------------------------------------------------
# Analysis

# tiny embedded stopword profiles for the lang-id heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(c: Column) -> Column:
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def regex_token_count(c: Column) -> Column:
    """BPE-ish token count: alphanumeric runs plus individual symbols."""
    return F.regexp_count(F.lower(c), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"))


def language_guess(c: Column) -> Column:
    """Stopword-profile language ID: score each language by marker-token hits,
    pick the max (ties broken by language code order); 'und' if no hits."""
    toks = tokens(c)

    def _hits(markers: list[str]):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scored = F.array(
        *[
            F.struct(_hits(markers).alias("hits"), F.lit(lang).alias("lang"))
            for lang, markers in sorted(_LANG_MARKERS.items())
        ]
    )
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    return F.when(best.isNull(), F.lit("und")).otherwise(best["lang"])


def content_fingerprint(c: Column) -> Column:
    """Exact-content fingerprint: md5 of normalized text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def min_shingle_fingerprint(c: Column, k: int = 5) -> Column:
    """Winnowing-lite rolling fingerprint: minimum md5 over word k-shingles.

    Robust to local edits away from the minimizing window — a cheap
    near-dup blocking key computable without a shuffle.
    """
    toks = F.split(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")), " ")
    # sequence(0, n) descends when n < 0, so short docs need an explicit empty
    idx = F.when(F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")))
    return F.array_min(hashes)

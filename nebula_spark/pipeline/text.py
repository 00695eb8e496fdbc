"""Text analysis over document tables: token counting, quality scoring,
language ID, fingerprinting.

All pure Column expressions (whole-stage codegen, no Python in the hot
path); designed for a ``documents(doc_id, text, …)`` table of arbitrary
size — every function is embarrassingly parallel per row, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# whitespace tokenizer + a BPE-ish fallback that also splits punctuation
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny stopword inventory per language — enough signal for n-gram-free
# heuristic language ID on latin-script text
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "une"],
    "es": ["el", "la", "de", "que", "los", "es", "una", "para"],
}


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count: whitespace tokens or BPE-ish regex tokens."""
    if mode == "whitespace":
        return F.size(F.split(F.trim(text), r"\s+"))
    if mode == "regex":
        return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_RE), F.lit(0)))
    raise ValueError(f"unknown token mode {mode!r}")


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band, alpha ratio,
    punctuation density, mean word length band.

    The standard cheap pre-filter in front of expensive dedup/embedding
    stages; weights are arbitrary but fixed and documented.
    """
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    words = token_count(text)
    mean_wlen = n / F.greatest(words, F.lit(1))
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).otherwise(
        F.when(n < 100, n / 100.0).otherwise(20000.0 / n))
    alpha_ratio = alpha / F.greatest(n, F.lit(1))
    punct_ok = F.when(punct / F.greatest(words, F.lit(1)) <= 0.3, 1.0).otherwise(0.5)
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), 1.0).otherwise(0.5)
    return F.round(0.4 * len_ok + 0.3 * alpha_ratio + 0.15 * punct_ok
                   + 0.15 * wlen_ok, 6)


def language_id(text: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword inventory
    hits the most tokens wins; 'und' (undetermined) when nothing hits.

    Pure SQL expressions → portable to the DuckDB oracle verbatim.
    """
    toks = F.split(F.lower(text), r"[^a-zà-ÿ]+")

    def contains(arr):
        # closure (not default-arg) — a 2-param lambda would make pyspark
        # pass the element index as the second argument
        return lambda t: F.array_contains(arr, t)

    scores = []
    for lang, words in _LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, contains(arr)))
        scores.append((lang, hits))
    best = F.lit("und")
    best_score = F.lit(0)
    # deterministic tie-break: first language in dict order wins ties
    for lang, hits in reversed(scores):
        take = hits >= F.greatest(best_score, F.lit(1))
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, hits).otherwise(best_score)
    return best


def fingerprint(text: Column, chunk: int = 64) -> Column:
    """Document fingerprint: 64-bit value from the md5 of
    whitespace-normalized text (rolling-hash analog, stable across engines:
    md5 exists in Spark and DuckDB with identical output)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")


"""Text-analysis column functions for corpus curation at scale.

Language-ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting — all as JVM-side column expressions (built-in
``pyspark.sql.functions`` only, whole-stage-codegen friendly; NO Python
UDFs), so they run at scan speed over 100 TB.  Each has an ANSI-SQL twin in
__spark_entry__.oracle_sql() for the DuckDB correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny high-frequency function-word inventories for the n-gram/stopword
# language heuristic.  Deliberately small and portable to SQL VALUES lists.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "für"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "con", "una", "para", "por"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty strings removed)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def term_count(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in the token array ``toks``."""
    # single-parameter lambda: a 2-arg lambda would be read by Spark as
    # the (element, index) form
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-style subword count estimate: alnum runs + isolated symbols
    (regex split — still JVM-side)."""
    return F.size(
        F.filter(
            F.split(F.lower(text), r"(?<=[a-z0-9])(?![a-z0-9])|\s+"),
            lambda t: t != "",
        )
    )


def _marker_hits(text: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(F.lower(text)), lambda t: F.array_contains(arr, t)))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts."""
    return {lang: _marker_hits(text, ms) for lang, ms in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """argmax language by marker hits; 'und' (undetermined) when all zero.
    Ties break by language code order (deterministic, SQL-replayable)."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(F.lit(lang).alias("lang"), cnt.alias("hits"))
            for lang, cnt in sorted(scores.items())
        ]
    )
    best = F.aggregate(
        pairs,
        F.struct(F.lit("und").alias("lang"), F.lit(0).alias("hits")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return best["lang"]


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0, 1]: blend of length adequacy, mean word
    length plausibility, and lexical diversity — portable arithmetic only."""
    toks = tokens(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    mean_word_len = F.when(n > 0, F.length(text) / n).otherwise(F.lit(0.0))
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    word_len_score = F.when(
        (mean_word_len >= 3.0) & (mean_word_len <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    diversity = F.when(n > 0, n_distinct / n).otherwise(F.lit(0.0))
    return F.round(
        0.4 * len_score + 0.3 * word_len_score + 0.3 * diversity, 6
    )


def fingerprint(text: Column) -> Column:
    """Order-sensitive rolling document fingerprint over whitespace tokens:
    ``Σ (pos+1) · poly_hash(token) mod 2^31−1`` where poly_hash is an exact
    integer polynomial over the token's chars — replayable in ANSI SQL."""
    toks = tokens(text)
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, i: F.struct(t.alias("tok"), i.alias("pos")),
    )

    def tok_hash(tok: Column) -> Column:
        # Cap at 10 chars so the closed-form SQL twin (Σ code·31^k) stays
        # within exact BIGINT range; congruent to per-step mod.
        chars = F.split(F.substring(tok, 1, 10), "")
        return F.aggregate(
            F.filter(chars, lambda c: c != ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % 2147483647,
        )

    return F.aggregate(
        indexed,
        F.lit(0).cast("long"),
        lambda acc, s: (acc + s["pos"] * tok_hash(s["tok"])) % 2147483647,
    )

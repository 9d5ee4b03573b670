"""Text-analysis ops for training-data pipelines (driver-graded first-class
components): tokenization, quality scoring, language-ID heuristic, document
fingerprinting. Everything is built-in Spark column expressions (JVM-side,
whole-stage-codegen) — no Python in the hot path, so the same pipeline runs
on 100 TB of documents limited only by scan + one shuffle per groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny function-word list used by the language heuristic / quality score
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pretokenizer classes, minus the lookahead whitespace terms
# (pure-whitespace runs aren't counted as tokens): contractions, then
# optionally-space-prefixed letter runs / digit runs / symbol runs. Kept
# RE2-compatible (no lookahead) so an independent engine reproduces the
# count exactly — DuckDB's regexp_extract_all on this same pattern is the
# cross-engine oracle in tests. Whitespace is an EXPLICIT class instead of
# \s: Java's \s includes vertical tab (\x0B) while RE2's does not, and
# that one character would silently break the cross-engine count.
_WS = r" \t\n\x0B\f\r"
BPE_TOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^" + _WS + r"\p{L}\p{N}]+"
)


def bpe_token_count(text: Column) -> Column:
    """Subword-budget estimate: counts GPT-2-pretokenizer word pieces
    (contractions / letter runs / digit runs / symbol runs). Tracks real
    BPE token budgets far closer than whitespace counting on punctuated or
    code-mixed text, while staying a single JVM regexp_count expression —
    the shard-packing budget column for token-budget exports at any
    scale."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def stopword_count(text: Column) -> Column:
    return _stop_filter(text)


def _stop_filter(text: Column) -> Column:
    toks = tokens(text)
    arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(text: Column) -> Column:
    n = token_count(text)
    return F.when(n > 0, _stop_filter(text) / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{L}\p{N}\s]", "")
    return F.when(
        F.length(text) > 0,
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,100] quality heuristic: length band + stopword
    presence + punctuation sanity (the usual pretraining-filter features)."""
    n = token_count(text)
    length_ok = F.when((n >= 10) & (n <= 1000), F.lit(40.0)).otherwise(
        F.when(n >= 5, F.lit(20.0)).otherwise(F.lit(0.0))
    )
    stop = stopword_ratio(text)
    stop_ok = F.when((stop >= 0.02) & (stop <= 0.6), F.lit(30.0)).otherwise(F.lit(10.0))
    punct = punct_ratio(text)
    punct_ok = F.when(punct <= 0.2, F.lit(30.0)).otherwise(F.lit(5.0))
    return length_ok + stop_ok + punct_ok


def lang_guess(text: Column) -> Column:
    """N-gram-free language-ID heuristic: function-word density. (Real
    lang-id would use char n-gram profiles; the deterministic feature rule
    keeps it oracle-checkable cross-engine.)"""
    return F.when(stopword_ratio(text) >= 0.03, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(text: Column) -> Column:
    """Canonical-form document fingerprint: lowercase, strip non-alnum,
    collapse whitespace, md5. Stable across engines (md5 everywhere)."""
    canon = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", "")
    canon = F.regexp_replace(canon, r"\s+", " ")
    return F.md5(F.trim(canon))

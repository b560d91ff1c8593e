"""Text-analysis column expressions (beyond-reference surface).

Training-data-pipeline text ops: tokenization, token stats, language ID
(stopword-hit heuristic), quality scoring, document fingerprinting.  All are
built-in-function compositions (JVM-side, codegen-friendly) — no Python in
the hot path.  Each has an exact ANSI-SQL twin used by the DuckDB oracle, so
the semantics are pinned down to the regex.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small: the point is the Spark plumbing (explode /
# array_filter / argmax), not linguistic quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "les", "des"),
}


def tokens(c: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text.

    SQL twin: ``regexp_split_to_array(trim(lower(c)), '\\s+')``.
    """
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def stopword_hits(toks: Column, lang: str) -> Column:
    """# tokens that are stopwords of ``lang`` (with repeats — not a set op).

    SQL twin: ``len(list_filter(toks, t -> t IN (...)))``.
    """
    words = list(STOPWORDS[lang])
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def punct_count(c: Column) -> Column:
    """# punctuation chars ``.,;:!?`` — length delta after regexp strip."""
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))


# Frozen model-scored quality gate (the standard classifier-filter stage
# of a training-data pipeline, in oracle-able form): a published-style
# logistic regression over length / punctuation / stopword signals, with every
# feature and the dot product held in EXACT INTEGER micro-units so the
# gate itself (logit >= threshold) is hash-exact across engines; the
# only float op is the final display sigmoid (one division + one exp,
# round-6).  Weights are micro-units per integer feature unit:
#   tok_cap       — tokens, capped at 256 (length reward saturates)
#   len_dev_centi — |mean token length - 4.50| in 0.01-char units
#                   (deviation from prose-typical word length; both very
#                   short and very long mean tokens signal boilerplate /
#                   code / garbage)
#   punct_permille — punctuation chars per 1000 chars
#   stop_permille  — English stopword hits per 1000 tokens (prose signal)
FROZEN_QUALITY_WEIGHTS: dict[str, int] = {
    "bias": -300_000,
    "tok_cap": 6_000,
    "len_dev_centi": -3_000,
    "punct_permille": -9_000,
    "stop_permille": 2_500,
}


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division on longs: ``(a - a % b) / b`` — every step
    is an exact integer op, so the quotient is bit-identical to DuckDB's
    ``//`` (a plain double ``floor(a/b)`` is exact too at these
    magnitudes, but the modulo form needs no magnitude argument)."""
    return ((a - a % b) / b).cast("long")


def quality_feature_ints(c: Column) -> dict[str, Column]:
    """Quality signals as EXACT-INTEGER columns (the form the
    frozen-weight gate consumes): ``tokens`` tokenization, the
    ``punct_count`` class, the English stopword list — ratios become
    permille / centi units via integer division, so both engines agree
    bit-for-bit."""
    toks = tokens(c)
    n_tok = F.size(toks).cast("long")  # >= 1: split('') is ['']
    n_char = F.length(c).cast("long")
    char_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return {
        "n_tokens": n_tok,
        "tok_cap": F.least(n_tok, F.lit(256).cast("long")),
        "len_dev_centi": F.abs(_idiv(char_sum * 100, n_tok) - 450),
        "punct_permille": F.when(n_char == 0, F.lit(0).cast("long")).otherwise(
            _idiv(punct_count(c).cast("long") * 1000, n_char)
        ),
        "stop_permille": _idiv(
            stopword_hits(toks, "en").cast("long") * 1000, n_tok
        ),
    }


def quality_logit_micro(c: Column) -> Column:
    """The frozen-weight quality logit in EXACT integer micro-units —
    the thresholdable form (``logit >= gate`` is integer-exact, so a
    curation pipeline built on it stays hash-exact end to end)."""
    f = quality_feature_ints(c)
    w = FROZEN_QUALITY_WEIGHTS
    return (
        F.lit(w["bias"]).cast("long")
        + F.lit(w["tok_cap"]) * f["tok_cap"]
        + F.lit(w["len_dev_centi"]) * f["len_dev_centi"]
        + F.lit(w["punct_permille"]) * f["punct_permille"]
        + F.lit(w["stop_permille"]) * f["stop_permille"]
    )


def quality_score(c: Column) -> Column:
    """Display probability for the frozen-weight gate: sigmoid of the
    integer logit — the ONE float chain (exact int -> one division, one
    exp, one rounded division), rounded to 6 decimals."""
    z = quality_logit_micro(c).cast("double") / F.lit(1_000_000.0)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def fingerprint(c: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-collapsed,
    lowercased, trimmed text.  SQL twin: ``md5(...)`` with the same regex.
    """
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(normalized)


def token_hash64(tok: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5, base-16.

    Chosen because both Spark (``conv``) and DuckDB (hex cast) can compute
    it identically — the primitive under the oracle-checkable MinHash and
    SimHash implementations.  15 hex chars < 2^60 so the bigint never
    overflows.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def word_ngrams(c: Column, n: int = 3) -> Column:
    """Row-local word n-gram array WITH duplicates (the multiset form —
    ``dedup.shingle_array`` is the distinct-set form).  Duplicates carry
    the repetition signal quality scoring needs.  This is the ONE
    sliding-window gram expression — the dedup index/set-size forms derive
    from it, so Spark and every oracle twin share a single definition.

    SQL twin: ``list_transform(generate_series(1, greatest(len(t)-n+1, 0)),
    i -> t[i] || ' ' || ... )`` over the tokens array.  The empty-string
    filter below only matters for ``n=1`` (an empty-text tokenization is
    ``['']``; for n >= 2 every gram contains a separator) — an ``n=1``
    oracle twin must add ``list_filter(.., x -> x <> '')`` to match.
    """
    toks = tokens(c)
    # guard: sequence(1, 0) would DESCEND in Spark, so short docs get an
    # explicit empty array instead
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.filter(grams, lambda s: s != "")

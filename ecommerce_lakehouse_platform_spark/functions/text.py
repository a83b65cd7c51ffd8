"""Text-analysis column expressions for training-data pipelines.

All pure built-in higher-order functions (split/transform/aggregate/
filter) — no Python UDFs, so they run JVM-side at any scale. The
documents fixture is whitespace-tokenized text (TESTDATA.md), so the
tokenizer is a plain split; ``TOKEN_RE`` covers BPE-ish word/number/
punctuation splitting for real corpora.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny function-word inventories per language for the n-gram/stopword
# language-ID heuristic. Public-knowledge closed-class words.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en"],
    "fr": ["le", "la", "de", "et", "que", "en"],
    "de": ["der", "die", "das", "und", "zu", "in"],
}

_MOD = 2147483647  # 2^31 - 1, keeps polynomial hash in exact BIGINT range


def tokens(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.split(col, r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("long")


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (total / F.size(toks)).cast("double")


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    toks = tokens(text)
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return (n_stop.cast("double") / F.size(toks)).cast("double")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Token n-grams (space-joined), the unit for Jaccard/MinHash
    near-dup detection. Empty array when the doc has < n tokens."""
    toks = tokens(text)
    return F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )).otherwise(F.array().cast("array<string>"))


def normalized_text(text: Column | str) -> Column:
    """Canonical form for normalized-exact dedup: lowercase, strip
    everything but [a-z0-9 ], collapse runs of whitespace, trim.
    Catches trivially-reformatted duplicates (case, punctuation,
    spacing) that byte-exact dedup misses — the cheap tier below
    MinHash in a training-data dedup ladder. Pure JVM regex; the
    character classes used behave identically in Java and RE2, so
    the DuckDB oracle matches byte-for-byte."""
    col = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(F.lower(col), "[^a-z0-9 \\t\\n\\r]", "")
    return F.trim(F.regexp_replace(stripped, "[ \\t\\n\\r]+", " "))


def token_fingerprint(text: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over tokens (document
    fingerprint). Pure integer arithmetic mod 2^31-1 so any ANSI-SQL
    engine reproduces it bit-exactly (no engine-specific hash).

    token weight = len*31 + ascii(first)*7 + ascii(last), folded as
    acc = (acc * 1000003 + w) mod M.
    """
    toks = tokens(text)
    weights = F.transform(
        toks,
        lambda t: (
            F.length(t).cast("long") * 31
            + F.ascii(F.substring(t, 1, 1)).cast("long") * 7
            + F.ascii(F.substring(t, -1, 1)).cast("long")
        )
        % _MOD,
    )
    return F.aggregate(
        weights,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 1000003 + w) % _MOD,
    )


def quality_score(text: Column | str, lang: str = "en") -> Column:
    """Heuristic document quality in [0,1]: length saturation (40%),
    lexical diversity (30%), function-word plausibility (30%).
    Deterministic arithmetic only — reproducible in any engine."""
    n = token_count(text).cast("double")
    diversity = distinct_token_count(text).cast("double") / n
    stop = stopword_ratio(text, lang)
    length_component = F.least(F.lit(1.0), n / F.lit(100.0))
    stop_component = F.least(F.lit(1.0), stop * 5.0)
    return (
        length_component * 0.4 + diversity * 0.3 + stop_component * 0.3
    ).cast("double")


def langid(text: Column | str) -> Column:
    """Stopword-overlap language ID: score each language by its
    function-word hit ratio, pick the argmax (ties broken by fixed
    language order), 'und' when nothing matches."""
    toks = tokens(text)

    def hit_ratio(words: list[str]) -> Column:
        stops = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(stops, t))
        ).cast("double") / F.size(toks)

    ratios = {lang: hit_ratio(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*ratios.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when((ratios[lang] > 0) & (ratios[lang] == best), lang).otherwise(expr)
    return expr


# DuckDB oracle twins of the language-ID stopword ratios, next to the
# Spark-side stopword lists they mirror.
LANG_SQL_LISTS = {
    lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
    for lang, words in STOPWORDS.items()
}
_LANGID_RATIO_SQL = (
    "CAST(len(list_filter(toks, s -> list_contains({lst}, s))) AS DOUBLE) / len(toks)"
)
LANGID_RATIOS_SQL = {
    l: _LANGID_RATIO_SQL.format(lst=lst) for l, lst in LANG_SQL_LISTS.items()
}

"""Text-analysis Column helpers for large-scale document pipelines.

All pure JVM-side expressions (no UDFs): tokenization, n-gram shingles,
quality ratios, a stopword-vote language heuristic, and md5 fingerprints.
Designed to run over a ``documents(text string)`` table at corpus scale —
every helper is a scalar/array expression that whole-stage-codegens inside
the scan projection, so the only shuffles in downstream dedup/similarity
plans come from their joins, not from feature extraction.

The tokenizer and the shingler are defined once, as SQL text
(``tokens_sql``, ``shingles_sql``) over a column NAME: every ``Column``-API
call is at least one Py4J round trip to the JVM, and the shingler's
zip_with chain built one ``Column`` at a time costs hundreds of them per use
(thousands for a MinHash signature, which embeds the shingles per
permutation). As text, the JVM parses the whole expression once. ``tokens``
and ``ngram_shingles`` are that text as one ``F.expr``; callers that write
their own SQL (the MinHash band builder in ``operators/dedup.py``) splice
the text itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.operators.pivot import sql_ident
from taxi_data_datapipeline_spark.sources.ingest import sql_string

# Tiny per-language stopword signatures for the heuristic language vote.
# Deliberately small + transparent: this is the cheap n-gram/stopword tier
# that routes documents before any expensive model-based ID.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "en", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


# Through sql_string: Spark's parser unescapes backslashes in a literal.
_WHITESPACE = sql_string(r"\s+")


def tokens_sql(column: str) -> str:
    """SQL text of the whitespace tokenization of ``column`` (empty strings
    removed)."""
    return f"filter(split({sql_ident(column)}, {_WHITESPACE}), t -> t != '')"


def tokens(column: str) -> Column:
    return F.expr(tokens_sql(column))


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-ish tokenization: splits on whitespace AND punctuation
    boundaries (a cheap BPE-precursor regex), keeping digits/word runs."""
    return F.filter(
        F.split(F.lower(text), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )


def token_count(column: str) -> Column:
    return F.size(tokens(column))


def shingles_sql(column: str, n: int = 3) -> str:
    """SQL text of the distinct word n-gram shingles of ``column``, an
    array<string>.

    Documents shorter than n tokens yield a single whole-text shingle so
    they still participate in dedup instead of silently vanishing.

    Construction: zip_with over n shifted slices of the token array. The
    obvious transform(sequence(...), i -> concat(element_at(toks, i+k)...))
    formulation embeds the tokenizer expression INSIDE the lambda, so every
    n-gram position re-splits the whole document — O(len^2) per doc.
    zip_with evaluates each slice once, keeping shingling linear.
    """
    toks = tokens_sql(column)
    m = f"size({toks}) - {n - 1}"  # number of n-gram positions
    grams = f"slice({toks}, 1, {m})"
    for k in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks}, {k + 1}, {m}),"
            " (a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {n} THEN {grams}"
        f" ELSE array(concat_ws(' ', {toks})) END)"
    )


def ngram_shingles(column: str, n: int = 3) -> Column:
    return F.expr(shingles_sql(column, n))


def quality_features(column: str) -> dict[str, Column]:
    """Length / punctuation / stopword ratio features (all doubles, rounded
    for cross-engine parity)."""
    text = F.col(column)
    toks = tokens(column)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(LANG_STOPWORDS["en"])))
    avg_wl = F.round((n_chars - n_tok + 1).cast("double") / n_tok, 6)
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "avg_word_len": avg_wl,
        "punct_ratio": F.round(punct.cast("double") / n_chars, 6),
        "stopword_ratio": F.round(stop.cast("double") / n_tok, 6),
    }


def quality_score(column: str) -> Column:
    """Composite [0,1] quality score: rewards mid-length docs with sane word
    lengths and some stopwords (prose-ness), penalizes punctuation soup."""
    f = quality_features(column)
    len_ok = F.when((f["n_tokens"] >= 10) & (f["n_tokens"] <= 100000), 0.25).otherwise(0.0)
    wl_ok = F.when((f["avg_word_len"] >= 2.0) & (f["avg_word_len"] <= 12.0), 0.25).otherwise(0.0)
    stop_ok = F.when(f["stopword_ratio"] >= 0.01, 0.25).otherwise(0.0)
    punct_ok = F.when(f["punct_ratio"] <= 0.2, 0.25).otherwise(0.0)
    return F.round(len_ok + wl_ok + stop_ok + punct_ok, 2)


def lang_votes(column: str) -> dict[str, Column]:
    """Per-language stopword hit counts."""
    toks = F.transform(tokens(column), lambda t: F.lower(t))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(column: str, default: str = "en") -> Column:
    """Argmax language vote with deterministic alphabetical tie-break;
    ``default`` when no stopword hits at all.

    One array_max over (vote, -rank, lang) structs: struct comparison picks
    the highest vote, ties falling to the alphabetically-first language
    (-rank). The naive chained when(v > best, ...) formulation nests every
    vote expression inside the next comparison, duplicating the tokenizer
    exponentially in the number of languages.
    """
    votes = lang_votes(column)
    entries = [
        F.struct(v.alias("v"), F.lit(-i).alias("ni"), F.lit(lang).alias("lang"))
        for i, (lang, v) in enumerate(sorted(votes.items()))
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["v"] > 0, best["lang"]).otherwise(F.lit(default))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip leading/trailing space."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized text."""
    return F.md5(normalize_text(text))

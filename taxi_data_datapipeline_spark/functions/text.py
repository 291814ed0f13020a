"""Text-analysis Column helpers for large-scale document pipelines.

All pure JVM-side expressions (no UDFs): tokenization, n-gram shingles,
quality ratios, a stopword-vote language heuristic, and md5 fingerprints.
Designed to run over a ``documents(text string)`` table at corpus scale —
every helper is a scalar/array expression that whole-stage-codegens inside
the scan projection, so the only shuffles in downstream dedup/similarity
plans come from their joins, not from feature extraction.

The tokenizer, the shingler, the quality features and the language vote
are defined once, as SQL text (``*_sql``) over a column NAME: every
``Column``-API call is at least one Py4J round trip to the JVM, and the
shingler's zip_with chain built one ``Column`` at a time costs hundreds of
them per use (thousands for a MinHash signature, which embeds the shingles
per permutation; ~700 for the five-language vote). As text, the JVM parses
the whole expression once. ``tokens``, ``ngram_shingles``,
``quality_features``, ``quality_score`` and ``lang_id`` are that text as
``F.expr``; callers that write their own SQL (the MinHash band builder in
``operators/dedup.py``) splice the text itself.
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
_NOT_PUNCT = sql_string(r"[^\.,;:!\?]")


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


def quality_features_sql(column: str) -> dict[str, str]:
    """SQL text of the length / punctuation / stopword ratio features (all
    doubles, rounded for cross-engine parity)."""
    c = sql_ident(column)
    toks = tokens_sql(column)
    n_tok = f"size({toks})"
    stop_words = ", ".join(sql_string(w) for w in LANG_STOPWORDS["en"])
    punct = f"length(regexp_replace({c}, {_NOT_PUNCT}, ''))"
    stop = f"size(filter({toks}, t -> lower(t) IN ({stop_words})))"
    return {
        "n_tokens": n_tok,
        "n_chars": f"length({c})",
        "avg_word_len": f"round(CAST(length({c}) - {n_tok} + 1 AS DOUBLE) / {n_tok}, 6)",
        "punct_ratio": f"round(CAST({punct} AS DOUBLE) / length({c}), 6)",
        "stopword_ratio": f"round(CAST({stop} AS DOUBLE) / {n_tok}, 6)",
    }


def quality_features(column: str) -> dict[str, Column]:
    return {k: F.expr(v) for k, v in quality_features_sql(column).items()}


def quality_score(column: str) -> Column:
    """Composite [0,1] quality score: rewards mid-length docs with sane
    word lengths and some stopwords (prose-ness), penalizes punctuation
    soup."""
    f = quality_features_sql(column)
    rules = [
        f"{f['n_tokens']} >= 10 AND {f['n_tokens']} <= 100000",
        f"{f['avg_word_len']} >= 2.0D AND {f['avg_word_len']} <= 12.0D",
        f"{f['stopword_ratio']} >= 0.01D",
        f"{f['punct_ratio']} <= 0.2D",
    ]
    terms = " + ".join(f"CASE WHEN {r} THEN 0.25D ELSE 0.0D END" for r in rules)
    return F.expr(f"round({terms}, 2)")


def lang_votes_sql(column: str) -> dict[str, str]:
    """SQL text of the per-language stopword hit counts."""
    toks = f"transform({tokens_sql(column)}, t -> lower(t))"
    return {
        lang: f"size(filter({toks}, t -> t IN ({', '.join(map(sql_string, words))})))"
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(column: str, default: str = "en") -> Column:
    """Argmax language vote with deterministic alphabetical tie-break;
    ``default`` when no stopword hits at all.

    One array_max over (vote, -rank, lang) structs: struct comparison picks
    the highest vote, ties falling to the alphabetically-first language
    (-rank). The naive chained CASE WHEN v > best formulation nests every
    vote expression inside the next comparison, duplicating the tokenizer
    exponentially in the number of languages.
    """
    entries = ", ".join(
        f"named_struct('v', {v}, 'ni', {-i}, 'lang', {sql_string(lang)})"
        for i, (lang, v) in enumerate(sorted(lang_votes_sql(column).items()))
    )
    best = f"array_max(array({entries}))"
    return F.expr(
        f"CASE WHEN {best}.v > 0 THEN {best}.lang ELSE {sql_string(default)} END"
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip leading/trailing space."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized text."""
    return F.md5(normalize_text(text))

"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting. All deterministic, all JVM-side column expressions (SQL-parity
versions exist in ``__spark_entry__.oracle_sql``), designed to run over
billions of documents: narrow projections, no UDFs, no shuffles except the
explicit aggregations."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Deterministic marker words per language for the rule-based language ID.
#: (A real pipeline would swap in fastText/CLD3; the heuristic keeps this
#: sandbox dependency-free while exercising the same plan shape.)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es"],
}

STOPWORDS_EN = [
    "the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "on", "as",
]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored proxy: word-piece count estimated by splitting on
    non-alphanumerics AND counting 4-char chunks of long words — a cheap,
    deterministic stand-in for subword tokenizers."""
    words = F.split(F.lower(F.trim(col)), r"[^a-z0-9]+")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.when(F.length(w) == 0, 0).otherwise(
            F.floor((F.length(w) + 3) / 4).cast("int")
        ),
    )


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p / n)


def _stopword_ratio(toks: Column) -> Column:
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(sw / F.size(toks))


def stopword_ratio(col: Column) -> Column:
    return _stopword_ratio(tokens(col))


def _mean_word_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(total / F.size(toks))


def _quality_score(col: Column, toks: Column) -> Column:
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    wl = _mean_word_len(toks)
    wordlen_term = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = _stopword_ratio(toks)
    stop_term = F.when((sw > 0.05) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        (length_term * 0.4 + punct_term * 0.2 + wordlen_term * 0.2 + stop_term * 0.2), 4
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation noise,
    sane word lengths, some (but not all) stopwords. Deterministic."""
    return _quality_score(col, tokens(col))


def _lang_id(toks: Column) -> Column:
    def member_of(markers: list[str]):
        return lambda t: t.isin(*markers)

    scores = [
        (lang, F.size(F.filter(toks, member_of(markers))))
        for lang, markers in LANG_MARKERS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so the first language in LANG_MARKERS wins ties
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def lang_id(col: Column) -> Column:
    """Rule-based language ID: marker-word votes, ties broken by the fixed
    language order, 'und' (undetermined) when nothing matches."""
    return _lang_id(tokens(col))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercase, punct
    stripped, whitespace collapsed) — the classic near-exact-dup key."""
    norm = F.regexp_replace(F.lower(col), r"[^\w\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm)


def analyze(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Text profile in TWO projections: the token array materializes once,
    then every metric reads it. Inlining everything (round-1 form) makes each
    metric re-split the document — 6+ tokenizations per row and a huge
    codegen unit; the staging boundary survives optimization because
    CollapseProject keeps non-cheap expressions referenced multiple times."""
    c = F.col(text_col)
    staged = df.select(F.col(id_col), c.alias("__t"), tokens(c).alias("__k"))
    t, k = F.col("__t"), F.col("__k")
    return staged.select(
        F.col(id_col),
        F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(k)).alias("n_tokens"),
        F.round(punct_ratio(t), 4).alias("punct_ratio"),
        F.round(_stopword_ratio(k), 4).alias("stopword_ratio"),
        _quality_score(t, k).alias("quality"),
        _lang_id(k).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )

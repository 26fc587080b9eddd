"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting (winnowing).

All expressions are built-in Column functions (JVM-side, codegen) —
no Python in the scan. Hashes are md5-derived so DuckDB oracles can
reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# small embedded stopword lists (public, common words)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "zu", "den", "mit", "von", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "que", "por"],
}


def tokens(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


# BPE-pre-tokenizer-style pattern: letter runs, digit runs, single
# punctuation marks. ASCII-only on purpose so Java regex (Spark) and
# RE2 (DuckDB oracle) agree byte-for-byte.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_like_token_count(text: str | Column) -> Column:
    """Count of pre-tokenizer units (what a BPE tokenizer splits before
    merges) — a closer LLM-token proxy than whitespace words: 'don't!'
    is 1 whitespace token but 4 pre-tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


# PII patterns, ASCII-only and lookahead-free so Java regex (Spark)
# and RE2 (DuckDB oracle) agree. Applied in THIS order (emails before
# phones, so the digits inside an address can't half-match the phone
# pattern). The phone pattern requires >= 7 digits in a separated
# 3-4 / 3-3-4 shape (optional +country / (area)), or +<7-15 digits>;
# bare unseparated digit runs are deliberately NOT phones (they are
# usually ids/timestamps), and date/time strings (4-2-2 digit groups,
# colon separators) don't fit the 3-then-4 group shape.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IPV4]"),
    (
        "phone",
        r"\+[0-9]{7,15}"
        r"|(?:\+?[0-9]{1,3}[\- ])?(?:\(?[0-9]{3}\)?[\- ]?)?[0-9]{3}[\- ][0-9]{4}",
        "[PHONE]",
    ),
]


def redact_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Training-data PII scrub: replace emails / IPv4s / phone-shaped
    digit runs with typed placeholders and count each kind per row —
    pure Column regexes (JVM-side, one projection), no UDF.

    Each kind is counted on the text with all PRIOR kinds already
    redacted (the same text its replacement then runs on), so
    n_<kind> always equals the number of [<KIND>] placeholders
    emitted — a digit-heavy email local part can't double-count as a
    phone. The scrubbed text is the ``redacted`` column."""
    cur = F.col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{kind}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias("redacted"))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / stopword / repetition features + a
    composite quality score, all as one projection."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*[F.lit(s) for s in STOPWORDS["en"]]))
    )
    n_uniq = F.size(F.array_distinct(toks))
    avg_tok_len = (n_alpha + n_digit) / n_tok
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_uniq / F.greatest(n_tok, F.lit(1)), 6).alias("distinct_ratio"),
        F.round(avg_tok_len, 6).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Composite [0,1] quality score: favors mid-length docs with low
    punctuation, some stopwords, low repetition (a Gopher-rules-style
    heuristic filter for pretraining corpora)."""
    feat = quality_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.25
        + (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.25
        + F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.25
        + F.col("distinct_ratio") * 0.25
    )
    return feat.withColumn("quality_score", F.round(score, 6))


def lang_scores(text_col: str | Column) -> dict[str, Column]:
    """Per-language stopword-hit fraction (n-gram-free heuristic ID)."""
    toks = tokens(text_col)
    n = F.greatest(F.size(toks), F.lit(1))
    out = {}
    for lang, words in STOPWORDS.items():
        hits = F.size(F.filter(toks, lambda x: x.isin(*[F.lit(w) for w in words])))
        out[lang] = hits / n
    return out


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """``lang_pred``: argmax language with deterministic tiebreak
    (lexicographic), 'und' when nothing matches."""
    scores = lang_scores(text_col)
    # array_sort on (score, lang) structs then reverse: ties resolve to
    # the lexicographically LAST language; keep lang order stable by
    # sorting entries descending on (score, lang) explicitly.
    pairs = F.array(
        *[
            F.struct(F.round(c, 9).alias("score"), F.lit(lang).alias("lang"))
            for lang, c in sorted(scores.items())
        ]
    )
    sorted_pairs = F.reverse(F.array_sort(pairs))
    top = F.element_at(sorted_pairs, 1)
    return df.withColumn(
        "lang_pred",
        F.when(top["score"] > 0, top["lang"]).otherwise(F.lit("und")),
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    hash every k-char gram, keep the min hash of each window of w
    consecutive grams, distinct per doc.

    Hash = first 8 hex chars of md5(gram) as int (SQL-reproducible).
    """
    # substring with a dynamic start position needs the expr form
    # (F.substring requires a literal pos), so the gram/hash chain is
    # built as one SQL expression:
    df2 = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
                f"i -> conv(substring(md5(substring({text_col}, i, {k})), 1, 8), 16, 10))"
            )
        ).alias("pos", "gram_hash"),
    ).withColumn("gram_hash", F.col("gram_hash").cast("long"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, w - 1)
    )
    return (
        df2.withColumn("win_min", F.min("gram_hash").over(win))
        .select(F.col(id_col), F.col("win_min").alias("fingerprint"))
        .distinct()
    )

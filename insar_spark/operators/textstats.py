"""Text analysis for training-data pipelines: language-ID, quality and
repetition scores, token counting and frequencies, PII redaction and
document chunking.

Every operator is JVM expressions only (no Python UDF), so the DuckDB
oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny public-knowledge stopword profiles for the n-gram/word heuristic
_LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset("the and of to in is you that it he was for on are as with".split()),
    "es": frozenset("el la de que y en un ser se no haber por con su para como".split()),
    "de": frozenset("der die und in den von zu das mit sich des auf für ist im".split()),
    "fr": frozenset("le la de et les des en un du une que est pour qui dans".split()),
    "it": frozenset("il di che e la per un in una sono mi si lo ha ma con".split()),
}


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax stopword-hit rate over tiny profiles.

    Returns (id, lang_pred, lang_score). Unknown (no hits) -> 'und'.
    Entirely JVM expressions (size(filter(tokens, isin))/n per profile, then
    a first-equal-to-max CASE chain in profile order — identical to a
    strict-greater argmax scan), so the DuckDB oracle can replicate it.
    """
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
    n = F.size(toks)
    scores = {
        lang: F.when(n > 0, F.size(
            F.filter(toks, lambda t: t.isin(*sorted(words)))
        ).cast("double") / n).otherwise(0.0)
        for lang, words in _LANG_PROFILES.items()
    }
    langs = list(_LANG_PROFILES)
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0.0, F.lit("und"))
    for lang in langs:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        F.when(best > 0.0, best).otherwise(0.0).alias("lang_score"),
    )


# GPT-2-style pretokenizer regex (public); Java regex dialect
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + BPE-ish token counts, all JVM-side regexp."""
    return df.select(
        F.col(id_col),
        F.size(F.split(text_col, r"\s+")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("bpe_ish_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features (all JVM expressions):
    length, alpha ratio, punct ratio, mean word length, repetition ratio."""
    n_chars = F.length(text_col)
    alpha = F.length(F.regexp_replace(text_col, r"[^\p{L}]", ""))
    punct = F.length(F.regexp_replace(text_col, r"[^\p{Punct}]", ""))
    toks = F.split(text_col, r"\s+")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        (alpha.cast("double") / n_chars).alias("alpha_ratio"),
        (punct.cast("double") / n_chars).alias("punct_ratio"),
        (n_chars.cast("double") / n_tok).alias("mean_word_len"),
        (F.lit(1.0) - n_uniq.cast("double") / n_tok).alias("repetition_ratio"),
    )


# RE2-safe patterns (identical semantics in Java regex and DuckDB/RE2)
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9 -]{7,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Training-data hygiene: replace email addresses and phone-shaped
    number runs with typed placeholder tokens, and count what was hit.
    Pure JVM regexp (patterns chosen RE2-safe so the DuckDB oracle applies
    the byte-identical rules)."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_phone = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_PHONE), F.lit(0))
    )
    return df.select(
        F.col(id_col),
        F.regexp_replace(after_email, PII_PHONE, "<PHONE>").alias("text_redacted"),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window document chunking for training pipelines: split each
    document into ``chunk_tokens``-token windows advancing by
    ``chunk_tokens - overlap`` (so consecutive chunks share ``overlap``
    tokens of context). Pure JVM: one split per row, chunk starts from a
    ``sequence``, window text re-joined with ``slice`` + ``array_join`` —
    no UDF, fully reproducible by a SQL engine. A document shorter than
    one window yields exactly one chunk; chunking never drops tokens
    (every token index is covered by the stride by construction).

    Returns (id, chunk_idx, n_tokens, chunk_text). At 100 TB this is a
    narrow map-only transform (zero shuffles): the explode multiplies
    rows, not exchanges.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # last start: the largest multiple of stride <= max(0, n - overlap - 1)
    # (guarantees the final window reaches the last token without emitting
    # an all-overlap tail chunk)
    last = F.floor(F.greatest(n - F.lit(overlap + 1), F.lit(0)) / stride) * stride
    starts = F.sequence(F.lit(0), last.cast("int"), F.lit(stride))
    return df.select(
        F.col(id_col),
        toks.alias("_t"),
        F.posexplode(starts).alias("chunk_idx", "_s"),
    ).select(
        id_col,
        "chunk_idx",
        F.least(F.size("_t") - F.col("_s"), F.lit(chunk_tokens)).alias(
            "n_tokens"
        ),
        F.array_join(
            F.slice("_t", F.col("_s") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public):
    per-document duplicate-word fraction and top-bigram fraction — the
    standard "drop boilerplate / degenerate repetition" pretraining filters.

    Zero-shuffle by construction: both signals are pure JVM expressions
    over the token array. The bigram mode count is computed as the longest
    run of equal adjacent elements in the *sorted* bigram array (an
    ``aggregate`` fold), not an explode → groupBy — at 100 TB this stays a
    map-only pass with no exchange and no Python.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    dup_word_frac = (n - F.size(F.array_distinct(words))).cast("double") / n
    bigrams = F.array_sort(
        F.zip_with(
            F.slice(words, F.lit(1), n - 1),
            F.slice(words, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    zero = F.lit(0).cast("long")
    top_count = F.aggregate(
        bigrams,
        F.struct(
            F.lit("").alias("prev"), zero.alias("cur"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["cur"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cur"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram_frac = (
        F.when(n >= 2, top_count.cast("double") / (n - 1))
        .otherwise(F.lit(0.0))
    )
    return df.select(
        F.col(id_col),
        dup_word_frac.alias("dup_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Per-group vocabulary stats: the top-k tokens by occurrence count,
    with document frequency — the corpus-composition audit every
    pretraining mixture runs per source/domain.

    Scale shape: explode is map-side; the (group, token) aggregation
    shuffles once on a key space bounded by |vocab|·|groups| (both tiny
    relative to the corpus) with map-side partial aggregation absorbing
    the token mass; the final top-k window partitions by group only after
    the data is already vocabulary-sized. Ties rank deterministically
    (count desc, token asc) so results are reproducible cross-engine.
    """
    from pyspark.sql import Window

    x = df.select(
        F.col(group_col),
        F.col(id_col),
        F.explode(F.split(text_col, " ")).alias("token"),
    )
    per = x.groupBy(group_col, "token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("n_occurrences"), F.asc("token")
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )

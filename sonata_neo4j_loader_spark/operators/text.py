"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions (JVM-side,
whole-stage codegen) — no Python in the hot path. Each has a matching
ANSI-SQL oracle in ``__spark_entry__.oracle_sql`` so DuckDB cross-checks
values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword markers for the n-gram language heuristic.
# Deliberately tiny + deterministic: the oracle re-implements the same rule.
_LANG_MARKERS: list[tuple[str, str]] = [
    ("en", " the "),
    ("de", " der "),
    ("fr", " le "),
    ("es", " el "),
]

_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def token_count(col: str = "text") -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(F.col(col))
    return F.when(trimmed == "", 0).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).alias("token_count")


def word_tokens(col: str = "text") -> Column:
    """BPE-ish tokenization: word pieces OR single non-space symbols."""
    return F.expr(
        rf"regexp_extract_all({col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)"
    ).alias("word_tokens")


def word_ngrams(col: str = "text", n: int = 2) -> Column:
    """Word-level n-grams (space-joined) of the lowercased, trimmed text.

    Tokens = whitespace split; documents with fewer than ``n`` tokens
    yield an empty array (guarded explicitly: Spark's ``sequence(a, b)``
    COUNTS DOWN when a > b, so an unguarded ``sequence(0, size-n)`` on a
    short doc would fabricate indices). Blank docs are guarded separately:
    splitting an empty trim yields the single-element array [''], which
    the size guard alone would admit at n=1 as a bogus empty "unigram".
    Pure JVM ``transform`` over an index sequence — no explode until the
    caller asks for one, no Python.

    The token array is LET-BOUND via the single-element-array transform
    idiom (optimization r06): the r05 version captured the ``split``
    expression inside the index lambda, so codegen re-ran the whitespace
    split once per n-gram element per position — the same
    loop-invariant-recomputation trap :func:`shingle_expr` documents.
    ``top_ngram_counts`` over 50K docs measured 61 s → 1.4 s from this
    binding alone, identical output.
    """
    trimmed = F.trim(F.col(col))
    toks = F.split(F.lower(trimmed), r"\s+")

    def grams_of(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
        )
        return F.when((trimmed != "") & (F.size(t) >= n), grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(toks), grams_of)[0].alias(f"word_{n}grams")


def top_ngram_counts(df, n: int = 2, k: int = 20, text_col: str = "text"):
    """Global top-k word n-grams by corpus frequency — the LM-training
    corpus-stats primitive (vocabulary/collocation reports).

    explode → groupBy(ngram) → count is one map-side-combined shuffle on
    the n-gram key; the top-k is ``orderBy(...).limit(k)``, which Spark
    plans as TakeOrderedAndProject (per-partition top-k + driver merge of
    k·P rows), never a global sort. Ties break on the n-gram string, so
    the cut at position k is deterministic and cross-engine-stable.
    """
    grams = df.select(F.explode(word_ngrams(text_col, n)).alias("ngram"))
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("ngram")).limit(k)


def lang_id(col: str = "text") -> Column:
    """Heuristic language ID: first matching stopword marker, else 'und'.

    Deterministic n-gram-style heuristic (marker substring on the padded,
    lowercased text); the priority order is fixed so Spark and the DuckDB
    oracle agree on ties.
    """
    padded = F.concat(F.lit(" "), F.lower(F.col(col)), F.lit(" "))
    expr = F.lit("und")
    for lang, marker in reversed(_LANG_MARKERS):
        expr = F.when(padded.contains(marker), lang).otherwise(expr)
    return expr.alias("lang_id")


def quality_score(col: str = "text") -> Column:
    """Composite [0,1] quality score from length/punct/stopword ratios.

    score = 0.4·min(1, words/100) + 0.3·(1 − punct_ratio) + 0.3·min(1, 5·stop_ratio)
    rounded to 6 decimals for oracle-stable comparison.
    """
    trimmed = F.trim(F.col(col))
    n_words = F.when(trimmed == "", 0).otherwise(F.size(F.split(trimmed, r"\s+")))
    n_chars = F.length(F.col(col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    words = F.split(F.lower(trimmed), r"\s+")
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(_EN_STOPWORDS))
    )
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    score = (
        0.4 * F.least(F.lit(1.0), n_words / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - punct_ratio)
        + 0.3 * F.least(F.lit(1.0), 5.0 * stop_ratio)
    )
    return F.round(score, 6).alias("quality_score")


def fingerprint(col: str = "text") -> Column:
    """Document fingerprint: 64-bit hash of the normalized text.

    Normalization (:func:`normalized_text`) = lowercase + collapse
    whitespace — so formatting-only variants collide (the useful property
    for dedup). xxhash64 keeps it JVM-side; the exact-dedup operator uses
    the same normalization.
    """
    return F.xxhash64(normalized_text(col)).alias("fingerprint")


def normalized_text(col: str = "text") -> Column:
    return F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ").alias(
        "normalized_text"
    )


def shingle_expr(norm_col: str, k: int = 5) -> Column:
    """Distinct character k-grams of an ALREADY-NORMALIZED text column.

    ``norm_col`` must be a plain column reference (attribute), not an
    expression: a lambda body re-evaluates every captured expression per
    array element, so an inlined regexp-normalization would run once per
    shingle instead of once per row (a ~100× slowdown observed at bench).
    Use :func:`add_shingles` for the safe two-projection shape.
    """
    norm = F.col(norm_col)
    n = F.length(norm)
    return F.when(
        n < k, F.array(norm)
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: norm.substr(i, F.lit(k)),
            )
        )
    )


def add_shingles(
    df, text_col: str = "text", k: int = 5, out_col: str = "shingles"
):
    """df + ``out_col`` array<string>: normalize in one projection, shingle
    from the materialized attribute in the next (codegen evaluates each
    projection's expressions once per row)."""
    return (
        df.withColumn("__norm", normalized_text(text_col))
        .withColumn(out_col, shingle_expr("__norm", k))
        .drop("__norm")
    )


def quality_rule_flags(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 1000,
    max_dup_word_frac: float = 0.6,
    max_dup_trigram_frac: float = 0.05,
    min_mean_word_len: float = 3.8,
    max_mean_word_len: float = 5.0,
):
    """Gopher-style document cleaning rules as per-doc boolean flags.

    The rule family follows Rae et al. 2021 (Gopher, §A1.1: word-count
    band, mean-word-length band, repetition fractions) re-expressed as
    pure JVM column expressions — one projection, no shuffle, no Python;
    at corpus scale this is a map-only stage that composes with any
    downstream filter. Emits the measured stats (rounded for
    cross-engine hashing), one flag per rule, and the conjunction
    ``quality_pass`` — emitting flags rather than filtering keeps the
    rejection REASONS, which is what a training-data pipeline audits.
    """
    # Materialize the two n-gram arrays ONCE (r06): the r05 shape called
    # word_ngrams(text, 1) three times in one projection (word count,
    # mean word length, dup-word fraction), re-splitting and re-building
    # the unigram array per measure. The measures below are the same
    # expressions re-rooted at the materialized arrays.
    grams = df.select(
        F.col(id_col),
        word_ngrams(text_col, 1).alias("_w1"),
        word_ngrams(text_col, 3).alias("_w3"),
    )
    w1, w3 = F.col("_w1"), F.col("_w3")
    mean_len = F.when(
        F.size(w1) > 0,
        F.aggregate(w1, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double"))
        / F.size(w1).cast("double"),
    ).otherwise(F.lit(0.0))

    def dup_frac(g: Column) -> Column:
        return F.when(
            F.size(g) > 0,
            F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g).cast("double"),
        ).otherwise(F.lit(0.0))

    stats = grams.select(
        F.col(id_col),
        F.size(w1).alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(dup_frac(w1), 6).alias("dup_word_frac"),
        F.round(dup_frac(w3), 6).alias("dup_trigram_frac"),
    )
    flagged = stats.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("ok_word_count"),
        F.col("mean_word_len")
        .between(min_mean_word_len, max_mean_word_len)
        .alias("ok_mean_word_len"),
        (F.col("dup_word_frac") <= max_dup_word_frac).alias("ok_dup_words"),
        (F.col("dup_trigram_frac") <= max_dup_trigram_frac).alias("ok_dup_trigrams"),
    )
    return flagged.select(
        "*",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_dup_words")
            & F.col("ok_dup_trigrams")
        ).alias("quality_pass"),
    )

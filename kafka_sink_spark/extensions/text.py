"""Text analysis operators over a document table: tokenization, quality
scoring, language ID, fingerprinting.

Design constraints:
- Pure ``pyspark.sql.functions`` expressions — JVM-side, codegen-friendly, no
  Python in the hot path. At 100 TB these run as a single scan + projection.
- Deterministic and ANSI-SQL-expressible, so every operator has a DuckDB
  oracle twin (the driver's correctness gate).
- Hashing uses md5 (available and bit-identical in both Spark and DuckDB);
  64-bit integer digests are derived from the first 15 hex chars (60 bits,
  always non-negative, exactly representable in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Words used for the marker-based language heuristic. Deterministic and tiny;
# broadcast as literals inside the expression (no join needed).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "de": ("der", "die", "das"),
    "es": ("el", "la", "los"),
    "fr": ("le", "la", "les"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "and", "of", "to", "in", "is", "it", "on", "for",
)


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit non-negative integer hash of a string.

    conv(substr(md5(x),1,15), 16, 10) is bit-identical in Spark and DuckDB
    (DuckDB twin: ``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`` via
    from_hex arithmetic) — the foundation for minhash/simhash oracles.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tokens(col: Column) -> Column:
    """Whitespace tokenization. split + filter of empties — matches DuckDB's
    ``list_filter(string_split_regex(x, '\\s+'), t -> t <> '')``."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def word_tokens(col: Column) -> Column:
    """BPE-ish regex tokenization: runs of letters, runs of digits, or a
    single non-space symbol — the classic pre-tokenizer split."""
    return F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of whitespace tokens that are stopwords (quality signal)."""
    toks = tokens(F.lower(col))
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double"))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.greatest(
        F.length(col), F.lit(1)
    ).cast("double")


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-word hit count per language over lowercase whitespace tokens."""
    toks = tokens(F.lower(col))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(col: Column) -> Column:
    """Argmax language by marker hits; 'und' when nothing matches.
    Ties break by fixed priority order (en > de > es > fr)."""
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in ("en", "de", "es", "fr"):
        s = scores[lang]
        cond = s > best_score  # strict > ⇒ earlier language wins ties
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (rolling-hash-class
    dedup key; md5 keeps it oracle-checkable)."""
    return F.md5(normalize_text(col))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a PRE-MATERIALIZED token array column.

    Built with element_at (O(1) reads), not slice (O(n) copies) — and the
    caller materializes the token array in its own projection first, so the
    split/filter runs once per row instead of once per shingle. This is ~10×
    faster than the naive nested-HOF formulation at 260k shingles."""
    def shingle_at(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        )

    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), shingle_at),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(col: Column, n: int = 3) -> Column:
    """n-word shingles over whitespace tokens, as strings.

    NOTE: prefer tokenizing into a materialized column and calling
    ``shingles_from_tokens`` — referencing this in multiple expressions
    re-runs the tokenizer per reference."""
    return shingles_from_tokens(tokens(col), n)


def _contains_any(words: tuple[str, ...]):
    def pred(t: Column) -> Column:
        return F.array_contains(F.array(*[F.lit(x) for x in words]), t)

    return pred


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document profile: token/char counts, ratios, quality, lang,
    fingerprint.

    Staged projections materialize the token array and the raw ratio/score
    columns ONCE; the naive single-projection form re-runs the tokenizer per
    referencing expression (7+ passes) because Catalyst only CSEs cheap
    expressions. Plan at 100 TB is still scan → project → project — no
    shuffle."""
    c = F.col(text_col)
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])

    staged = docs.select(
        F.col("doc_id"),
        c.alias("_text"),
        tokens(F.lower(c)).alias("_ltoks"),
    )
    scores = staged.select(
        F.col("doc_id"),
        F.size(F.col("_ltoks")).alias("n_tokens"),
        F.length(F.col("_text")).alias("n_chars_computed"),
        (
            F.size(
                F.filter(F.col("_ltoks"), lambda t: F.array_contains(sw_arr, t))
            ).cast("double")
            / F.greatest(F.size(F.col("_ltoks")), F.lit(1)).cast("double")
        ).alias("_sw"),
        punct_ratio(F.col("_text")).alias("_pr"),
        F.least(F.length(F.col("_text")).cast("double") / F.lit(200.0), F.lit(1.0)).alias("_lok"),
        *[
            F.size(F.filter(F.col("_ltoks"), _contains_any(markers))).alias(
                f"_s_{lang}"
            )
            for lang, markers in LANG_MARKERS.items()
        ],
        fingerprint(F.col("_text")).alias("fingerprint"),
    )

    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in ("en", "de", "es", "fr"):
        s = F.col(f"_s_{lang}")
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)

    return scores.select(
        F.col("doc_id"),
        F.col("n_tokens"),
        F.col("n_chars_computed"),
        F.round(F.col("_sw"), 6).alias("stopword_ratio"),
        F.round(F.col("_pr"), 6).alias("punct_ratio"),
        F.round(
            F.lit(0.5) * F.col("_lok")
            + F.lit(0.25) * (F.lit(1.0) - F.col("_pr"))
            + F.lit(0.25) * F.least(F.col("_sw") * F.lit(5.0), F.lit(1.0)),
            6,
        ).alias("quality"),
        best_lang.alias("lang_pred"),
        F.col("fingerprint"),
    )


# --------------------------------------------------------------------------
# Repetition statistics (Gopher/RefinedWeb-style quality signals)
# --------------------------------------------------------------------------


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals used by training-data quality filters
    (Gopher rules / RefinedWeb): duplicate-word fraction and the share of the
    most frequent word bigram.

    Plan: one scan; word stats are pure codegen (size / array_distinct); the
    bigram mode needs a per-(doc, bigram) count → two hash aggregations with
    map-side partial combine, then a co-partitioned join back on doc_id.
    Shuffle volume is one row per distinct (doc, bigram) — bounded by
    document length, never corpus-quadratic. Docs with fewer than 2 words
    report zero bigram stats (left join + coalesce)."""
    toks = docs.select(F.col("doc_id"), tokens(F.col(text_col)).alias("_t"))
    n = F.size(F.col("_t"))
    word_stats = toks.select(
        "doc_id",
        n.cast("int").alias("n_words"),
        F.size(F.array_distinct(F.col("_t"))).cast("int").alias("n_distinct_words"),
    )
    bigrams = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("_t"), i), F.element_at(F.col("_t"), i + 1)
                ),
            )
        ).alias("_bg"),
    )
    per_bigram = bigrams.groupBy("doc_id", "_bg").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max("_c").cast("int").alias("top_bigram_count"),
        F.sum("_c").cast("int").alias("n_bigrams"),
    )
    joined = word_stats.join(per_doc, "doc_id", "left_outer")
    top = F.coalesce(F.col("top_bigram_count"), F.lit(0))
    nbg = F.coalesce(F.col("n_bigrams"), F.lit(0))
    return joined.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_words").cast("double")
            / F.greatest(F.col("n_words"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_word_fraction"),
        top.alias("top_bigram_count"),
        nbg.alias("n_bigrams"),
        F.round(
            top.cast("double") / F.greatest(nbg, F.lit(1)).cast("double"), 6
        ).alias("top_bigram_fraction"),
    )


# --------------------------------------------------------------------------
# PII / URL scrubbing (training-data redaction pass)
# --------------------------------------------------------------------------

# Conservative patterns valid in BOTH Java regex (Spark rlike/regexp_replace)
# and RE2 (DuckDB): no backreferences, no lookaround.
SCRUB_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "url": (r"https?://[^\s]+", "<URL>"),
    "digits": (r"[0-9]{6,}", "<NUM>"),
}

_SCRUB_ORDER = ("email", "url", "digits")  # email before digits: emails may
# contain digit runs; URL before digits likewise.


def scrub_text(col: Column) -> Column:
    """Redact emails, URLs, and long digit runs with typed sentinels —
    chained regexp_replace, entirely inside codegen."""
    out = col
    for kind in _SCRUB_ORDER:
        pattern, sentinel = SCRUB_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, sentinel)
    return out


def scrub_counts(col: Column) -> dict[str, Column]:
    """Per-kind redaction counts (computed on the ORIGINAL text, in the same
    order the scrubber applies, so counts match what scrub_text replaced)."""
    remaining = col
    counts: dict[str, Column] = {}
    for kind in _SCRUB_ORDER:
        pattern, sentinel = SCRUB_PATTERNS[kind]
        counts[kind] = F.size(F.regexp_extract_all(remaining, F.lit(pattern), 0))
        remaining = F.regexp_replace(remaining, pattern, sentinel)
    return counts


# --------------------------------------------------------------------------
# Gopher-style quality filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 public rules)
# --------------------------------------------------------------------------


def gopher_flags(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document Gopher quality rules as 0/1 flags plus the raw signals.

    One staged projection materializes the token array, a second computes the
    signals, a third derives the flags — scan → project → project → project,
    no shuffle, fully whole-stage-codegen; embarrassingly parallel at any
    scale. Flags are INTEGER 0/1 (not boolean) so the driver's pandas
    stringification agrees across engines.
    """
    c = F.col(text_col)
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])

    staged = docs.select(
        F.col("doc_id"), F.col("lang"), tokens(c).alias("_toks")
    )
    t = F.col("_toks")
    nw = F.greatest(F.size(t), F.lit(1)).cast("double")
    signals = staged.select(
        F.col("doc_id"),
        F.col("lang"),
        F.size(t).cast("bigint").alias("n_words"),
        F.round(
            F.coalesce(
                F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x)),
                F.lit(0),
            ).cast("double")
            / nw,
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(
                F.filter(t, lambda x: x.startswith("#") | x.contains("..."))
            ).cast("double")
            / nw,
            6,
        ).alias("symbol_ratio"),
        F.round(
            F.size(F.filter(t, lambda x: F.lower(x).rlike("[a-z]"))).cast("double")
            / nw,
            6,
        ).alias("alpha_frac"),
        F.size(
            F.filter(t, lambda x: F.array_contains(sw_arr, F.lower(x)))
        ).cast("bigint").alias("n_stop"),
    )
    flag = lambda cond: F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("int")  # noqa: E731
    flagged = signals.select(
        "*",
        flag(F.col("n_words").between(min_words, max_words)).alias("ok_words"),
        flag(F.col("mean_word_len").between(min_mean_len, max_mean_len)).alias(
            "ok_mean_len"
        ),
        flag(F.col("symbol_ratio") < max_symbol_ratio).alias("ok_symbols"),
        flag(F.col("alpha_frac") > min_alpha_frac).alias("ok_alpha"),
        flag(F.col("n_stop") >= min_stopwords).alias("ok_stopwords"),
    )
    return flagged.select(
        "*",
        (
            F.col("ok_words")
            * F.col("ok_mean_len")
            * F.col("ok_symbols")
            * F.col("ok_alpha")
            * F.col("ok_stopwords")
        ).cast("int").alias("ok_all"),
    )

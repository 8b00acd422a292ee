"""Text-analysis column functions for the training-data pipeline:
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All native column expressions (codegen, no Python);
``winnow_fingerprints`` adds its column through projections.

These extend the engine beyond the reference's operator set (which has
no text analytics) — they are the operations a large-scale training-data
pipeline runs over the crawled ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny, deliberately-portable stopword lists (identical literals are
# embedded in the DuckDB oracle SQL)
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"]
DE_STOPWORDS = ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the shared convention across all text ops)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer pattern, restricted to the Java-regex ∩ RE2
# common subset (no lookahead): contractions, space-prefixed letter runs,
# digit runs, punctuation runs, whitespace runs. Public knowledge
# (the published GPT-2 BPE split regex, lookahead dropped).
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-style pre-tokenization (the unit a byte-pair encoder would
    merge within) as a native column expression — the token-counting
    convention for LLM-training token budgets, vs the whitespace count
    above."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def stopword_hits(text: Column, stopwords: list[str]) -> Column:
    toks = F.transform(tokens(F.lower(text)), lambda t: t)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_guess(text: Column) -> Column:
    """n-gram/stopword heuristic language ID: argmax of per-language
    stopword hit counts (ties: en > es > de > unk order)."""
    en = stopword_hits(text, EN_STOPWORDS)
    es = stopword_hits(text, ES_STOPWORDS)
    de = stopword_hits(text, DE_STOPWORDS)
    return (
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unk"))
    )


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 4)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot + low punct
    noise + stopword presence (filters boilerplate/gibberish)."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_hits(text, EN_STOPWORDS) > 0, F.lit(0.3)).otherwise(
        F.lit(0.0)
    )
    return F.round(len_ok + punct_ok + sw_ok, 4)


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized lowercase md5 — the exact-dedup key."""
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


def winnow_fingerprints(
    docs: DataFrame, text: str, out: str = "fps", k: int = 8, w: int = 16
) -> DataFrame:
    """``docs`` plus column ``out``: the winnowing fingerprints of
    ``text`` (the rolling-hash family, Schleimer/Wilkerson/Aiken's
    public algorithm): hash every character k-gram, keep the minimum of
    each w-length window, distinct + sorted. Two documents sharing a
    sufficiently long substring share a fingerprint, so overlap
    detection is a set intersection — unlike the whole-document
    ``fingerprint`` above, partial plagiarism/quotation is visible.

    The normalized text and the k-gram hash array are each projected
    once per document: a ``transform`` lambda re-evaluates a captured
    expression once per ELEMENT (the hazard ``textdedup.shingles``
    records), so capturing them unprojected re-normalized the text per
    k-gram and rehashed it per window, quadratic in document length.
    Each projected column is read twice by the next projection (a size
    and the lambda), which keeps the optimizer from inlining it back.
    The window-min stays O(n·w) (a 100 TB run swaps in an Arrow UDF
    doing the true O(n) rolling scan, same output)."""
    normed = docs.withColumn(
        "_wt", F.lower(F.regexp_replace(F.col(text), r"\s+", " "))
    )
    hashed = normed.withColumn(
        "_wh",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("_wt") - (k - 1), F.lit(1))),
            lambda i: F.md5(F.substr(F.col("_wt"), i, F.lit(k))),
        ),
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_wh") - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("_wh"), j, w)),
    )
    return hashed.withColumn(out, F.array_sort(F.array_distinct(mins))).drop(
        "_wt", "_wh"
    )

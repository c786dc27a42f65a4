"""Text-analysis column functions for training-data pipelines
(BASELINE.json north-star X4; SURVEY.md §2.11).

Everything here is a pure JVM-side column expression (split /
regexp / higher-order array functions) — no Python UDFs — so the
whole document-quality pass stays inside whole-stage codegen and
scales linearly with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language-marker stopword lists (tiny, deterministic heuristic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# BPE-ish pre-tokenization: letter runs | digit runs | single non-space symbol
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokenization (empty input -> empty array)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish regex pre-tokenizer."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, r"[.,!?;:'\"()\[\]{}-]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    sw = stopwords or EN_STOPWORDS
    toks = F.transform(ws_tokens(text), lambda t: F.lower(t))
    sw_arr = F.array(*[F.lit(s) for s in sw])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation x
    (1 - punctuation density), the standard cheap pre-filter shape for
    pretraining corpora."""
    toks = token_count(text).cast("double")
    length_component = F.least(F.lit(1.0), toks / F.lit(100.0))
    return F.round(length_component * (F.lit(1.0) - punct_ratio(text)), 6)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (n-gram/stopword heuristic)."""
    toks = F.transform(ws_tokens(text), lambda t: F.lower(t))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_guess(text: Column | str) -> Column:
    """argmax over lang_scores with deterministic tiebreak (en > de >
    fr > es by list order); 'und' (undetermined) when all scores 0."""
    scores = lang_scores(text)
    langs = list(scores)
    best = F.lit("und")
    best_score = F.lit(0)
    # fold right-to-left so earlier langs win ties
    for lang in reversed(langs):
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


def fingerprint_md5(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    lowercased text. Engine-portable (DuckDB md5 matches)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(normalized)


def dup_token_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    1 - distinct/total. The cheap repetition signal used by C4/Gopher-
    style corpus filters."""
    toks = F.transform(ws_tokens(text), lambda t: F.lower(t))
    n = F.size(toks)
    return F.when(
        n > 0,
        1.0 - F.size(F.array_distinct(toks)).cast("double") / n,
    ).otherwise(F.lit(0.0))


def top_token_ratio(text: Column | str) -> Column:
    """Frequency of the single most common token divided by total
    token count (Gopher's "most common word" repetition rule).
    Computed per-document with the sort + run-length-encode fold from
    weighted_minhash.term_freqs — no shuffle."""
    from zoom_spark.dedup.weighted_minhash import term_freqs

    tf = term_freqs(text)
    n = F.size(ws_tokens(text))
    return F.when(
        n > 0,
        F.array_max(F.transform(tf, lambda e: e["w"])).cast("double") / n,
    ).otherwise(F.lit(0.0))


def md5_window_fingerprint(
    text: Column | str, window: int = 8, keep_mod: int = 16
) -> Column:
    """Winnowing-style fingerprint on an ENGINE-PORTABLE hash: the
    low 60 bits (15 hex chars) of md5 over each character window,
    keeping hashes ≡ 0 (mod keep_mod), summarized as a sorted
    distinct array.  md5-based, so a SQL oracle can replay it
    exactly; pure higher-order-function expression (sequence +
    transform + filter), no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    # Guard: sequence(1, 0) evaluates DESCENDING to [1, 0] in Spark,
    # not empty (DuckDB's range(1, 1) is) — it would hash spurious
    # truncated windows, and md5('') low-60 mod 16 == 0, so every
    # empty/short doc would emit a spurious fingerprint.
    idx = F.when(n >= window, F.sequence(F.lit(1), n - window + 1)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(
        idx,
        lambda i: F.conv(
            F.substring(F.md5(c.substr(i, F.lit(window))), 1, 15), 16, 10
        ).cast("long"),
    )
    kept = F.filter(hashes, lambda h: h % keep_mod == 0)
    return F.array_sort(F.array_distinct(kept))

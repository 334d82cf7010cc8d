"""Text scalar functions — column expressions first, Pandas UDFs only for
genuinely stateful string scans.

Covers the reference's text post-processing surface
(/root/reference/surya/recognition/util.py:13-69,
 /root/reference/surya/recognition/postprocessing.py:7-121,
 /root/reference/benchmark/recognition.py:43-73) plus the training-data
text-analysis operators (language-ID heuristic, quality scoring, token
counting, fingerprinting) this engine adds for 100 TB corpus work.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------- reference parity

MATH_SYMBOLS = ["\\", "_", "^", "{", "}", "\\(", "\\)"]


def unwrap_math(text: Column) -> Column:
    """Strip a <math>…</math> wrapper when the body has no LaTeX symbols.
    Ref: surya/recognition/util.py:13-27."""
    inner = F.regexp_replace(text, r"^<math(?:\s[^>]*)?>(.*)</math>$", r"$1")
    has_latex = (
        inner.contains("\\")
        | inner.contains("_")
        | inner.contains("^")
        | inner.contains("{")
        | inner.contains("}")
    )
    is_wrapped = text.rlike(r"^<math(?:\s[^>]*)?>.*</math>$")
    return F.when(is_wrapped & ~has_latex, inner).otherwise(text)


def normalize_text(text: Column) -> Column:
    """Benchmark-style normalization: strip HTML tags and LaTeX math bodies,
    standardize bullets, collapse whitespace, lowercase.
    Ref: benchmark/recognition.py:43-73."""
    t = F.regexp_replace(text, r"<math(?:\s[^>]*)?>.*?</math>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", "")
    t = F.regexp_replace(t, r"[•▪◦‣·]", "*")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.lower(F.trim(t))


# detect_repeat_token looks at this many trailing tokens
# (ref surya/recognition/util.py:59-69)
REPEAT_WINDOW = 40


def detect_repeat_token(tokens: Column) -> Column:
    """True when decoding has degenerated into a short loop: the trailing
    REPEAT_WINDOW tokens hold ≤5 distinct values AND the final
    distinct-count run exactly repeats the run before it — the
    reference's periodicity rule, not just low diversity.
    Ref: surya/recognition/util.py:59-69."""
    tail = F.slice(tokens, -REPEAT_WINDOW, REPEAT_WINDOW)
    u = F.size(F.array_distinct(tail))
    # slice() rejects start=0, and the guards below don't short-circuit
    # expression evaluation — clamp u for the empty-array case
    us = F.greatest(u, F.lit(1))
    return (
        (F.size(tokens) >= REPEAT_WINDOW)
        & (u <= 5)
        & (F.slice(tail, -us, us) == F.slice(tail, -2 * us, us))
    )


# ----------------------------------------------------- corpus text analysis

# tiny per-language stopword kernels for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "es"],
}


def tokenize_ws(text: Column) -> Column:
    """Whitespace tokens of the lowercased text (empty array for blank).

    r7: array_remove(split, '') instead of the higher-order filter —
    value-identical (splitting on \\s+ can only yield empty-STRING
    elements, which both forms drop; null text → null either way), but
    the lambda evaluated INTERPRETED (CLAUDE.md rule 1) which also
    disabled whole-stage codegen's common-subexpression elimination —
    lang_id's CASE tree re-tokenized the text ~30× per row before this
    (text_profile 7.8 s → 2.6 s at sf1.0)."""
    return F.array_remove(F.split(F.lower(F.trim(text)), r"\s+"), "")


def token_count(text: Column) -> Column:
    return F.size(tokenize_ws(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: count regex pieces (word chunks of ≤4
    chars, digits, punctuation) — a deterministic stand-in for a BPE
    tokenizer that both Spark and an ANSI-SQL oracle can compute."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]{1,4}|[0-9]|[^a-z0-9\s]"), 0
    )
    return F.size(pieces).cast("long")


def stopword_hits(text: Column, lang: str) -> Column:
    toks = tokenize_ws(text)
    markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    return F.size(F.array_intersect(F.array_distinct(toks), markers))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: the language whose stopword set overlaps the
    token set the most; 'und' on zero hits. Deterministic tie-break by
    language code order en<de<fr<es via strictly-greater comparison."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for code in ["en", "de", "fr", "es"]:
        hits = stopword_hits(text, code)
        take = hits > best_hits
        best_lang = F.when(take, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


_ALPHA_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz ")
# the ASCII punctuation ranges !-/ :-@ [-` {-~ spelled out for translate()
_PUNCT_CHARS = "".join(
    chr(c) for r in ((0x21, 0x2F), (0x3A, 0x40), (0x5B, 0x60), (0x7B, 0x7E))
    for c in range(r[0], r[1] + 1))


def _count_in_set(text: Column, charset: str) -> Column:
    """Count of characters of `text` belonging to `charset`: length minus
    the length after translate()-deleting exactly those characters —
    value-identical to length(regexp_replace(text, [^set], '')) for any
    input (both count code points in the set), but a char-map lookup per
    char instead of a regex engine pass that also builds the stripped
    string (r7: quality_score was 3.8 of text_profile's 4.7 s at sf1.0)."""
    return F.length(text) - F.length(F.translate(text, charset, ""))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band, alpha ratio,
    punctuation ratio, mean word length band. All closed-form."""
    n = F.length(text).cast("double")
    alpha = _count_in_set(text, _ALPHA_CHARS).cast("double")
    punct = _count_in_set(text, _PUNCT_CHARS).cast("double")
    toks = token_count(text).cast("double")
    len_band = F.when(n >= 200, 1.0).otherwise(n / 200.0)
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_pen = F.when(n > 0, 1.0 - F.least(F.lit(1.0), 4.0 * punct / n)).otherwise(
        F.lit(0.0)
    )
    mean_wl = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    return F.round(
        0.3 * len_band + 0.3 * alpha_ratio + 0.2 * punct_pen + 0.2 * wl_band, 6
    )


def fingerprint(text: Column) -> Column:
    """Content fingerprint = md5 of the normalized text; identical across
    Spark and any ANSI oracle, used for exact dedup."""
    return F.md5(F.encode(normalize_text(text), "UTF-8"))


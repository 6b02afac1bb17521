"""Text/scalar helpers: glob translation, HTML extraction, text
analysis for training-data pipelines (lang-id, quality, token counts,
fingerprints).

All heavy per-row logic is expressed either as built-in column
expressions (JVM-side) or as functions called from Arrow-batched UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- glob

_GLOB_SPECIALS = r".^$+{}()|\\"


def glob_to_regex(pattern: str, anchored: bool = True) -> str:
    """Translate a ``*``/``?`` glob into a regex (reference behavior:
    Tools/FileSearchTool.cs:450-460 — ``*`` -> ``.*``, ``?`` -> ``.``,
    all other regex metachars escaped)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in _GLOB_SPECIALS or ch in "[]":
            out.append("\\" + ch)
        else:
            out.append(ch)
    body = "".join(out)
    return f"^{body}$" if anchored else body


# ------------------------------------------------------- html extract

_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_text_from_html(html: bytes) -> str:
    """Deterministic HTML -> text extractor (per-row invariant: the
    same url always yields byte-identical text).

    Pinned spec: decode utf-8 (errors=replace), strip tags, unescape
    the three core entities (&lt; &gt; &amp; — last), collapse
    whitespace runs to single spaces, strip ends. The synthetic corpus
    wraps entity-escaped text in a deterministic template so this is
    testable byte-for-byte (FIXTURES.md §1).
    """
    s = html.decode("utf-8", errors="replace")
    s = _TAG_RE.sub(" ", s)
    s = _WS_RE.sub(" ", s).strip()
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


# ----------------------------------------------------- text analysis

# tiny per-language stopword signatures (public-knowledge word lists):
# the stopword-ratio quality signal and the stopword-overlap language id
_LANG_MARKERS = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "for", "with"},
    "es": {"el", "la", "de", "que", "y", "en", "los", "se", "del", "las"},
    "de": {"der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"},
    "fr": {"le", "la", "et", "les", "des", "est", "un", "une", "du", "dans"},
}


def quality_score_cols(text_col: str = "text") -> list[Column]:
    """Quality signals as pure column expressions (JVM-side):
    length, word count, mean word length, punctuation ratio,
    uppercase ratio, stopword ratio (en), repetition ratio."""
    t = F.col(text_col)
    words = F.split(t, r"\s+")
    n_words = F.size(F.filter(words, lambda w: w != F.lit("")))
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_stop = F.size(
        F.filter(
            words,
            lambda w: F.lower(w).isin(list(_LANG_MARKERS["en"])),
        )
    )
    n_distinct = F.size(F.array_distinct(F.transform(words, F.lower)))
    return [
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_chars / F.greatest(n_words, F.lit(1))).alias("mean_word_len"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_upper / F.greatest(n_chars, F.lit(1))).alias("upper_ratio"),
        (n_stop / F.greatest(n_words, F.lit(1))).alias("stopword_ratio"),
        (n_distinct / F.greatest(n_words, F.lit(1))).alias("distinct_ratio"),
    ]


# ------------------------------------------------- time-frame parsing

_TIMEFRAME_RE = re.compile(r"^(\d+)\s*(min|minutes?|h|hours?|d|days?|w|weeks?|m|months?)$")


def parse_timeframe_seconds(expr: str) -> int:
    """Parse '2d' / '1w' / '30min' style time frames (reference:
    Tools/RecentFilesTool.cs:229-253)."""
    m = _TIMEFRAME_RE.match(expr.strip().lower())
    if not m:
        raise ValueError(f"bad timeframe: {expr!r}")
    n = int(m.group(1))
    unit = m.group(2)[0]
    if m.group(2).startswith("min"):
        return n * 60
    return n * {"h": 3600, "d": 86400, "w": 604800, "m": 2592000}[unit]

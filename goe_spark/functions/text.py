"""Text-analysis expression builders (language ID, quality, tokens).

All pure built-in column expressions (split/regexp/aggregate lambda
functions) — no Python UDFs, so the hot path stays inside whole-stage
codegen at 100 TB. Each builder has a matching SQL renderer used by
the DuckDB correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language stopword marker lists for the n-gram/stopword-overlap
# language-ID heuristic. Deterministic and tiny; at scale this rides
# along the scan as a codegen'd expression.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization — split on runs of whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def tokens_sql(expr: str) -> str:
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# BPE-ish subword segmentation: letter runs, digit runs, and
# non-alphanumeric runs each count as one token — the GPT-2 pretoken
# pattern minus the contraction special cases, kept portable between
# Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0))).cast(
        "long"
    )


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_PATTERN}'))"


def _isin_pred(words: tuple[str, ...]):
    """Single-arg lambda factory — a default-arg closure would give the
    lambda arity 2 and PySpark would bind a second lambda variable."""
    return lambda t: t.isin(*words)


def punct_count(col: Column | str) -> Column:
    """Number of punctuation characters (count via regexp removal)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()-]", ""))
    ).cast("long")


def punct_count_sql(expr: str) -> str:
    # Single quote doubled for the SQL string literal.
    pat = "[.,;:!?''\"()-]"
    return f"(length({expr}) - length(regexp_replace({expr}, '{pat}', '', 'g')))"


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.5 * length_score (chars/500 capped at 1)
    + 0.3 * mean-token-length score (avg token len / 8 capped at 1)
    + 0.2 * (1 - punct_ratio).

    Quantized to the 1e-6 grid via floor(x*1e6+0.5)/1e6, NOT round():
    Spark's round goes through the double's shortest DECIMAL string
    (half-up on "…3125") while DuckDB rounds the raw binary
    ("…312499…"), so a score landing exactly on the half grid flips
    between engines — the sf1 probe caught one in 23k docs. The floor
    form is pure IEEE arithmetic, bit-identical everywhere.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_tokens = token_count(c).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    tok_score = F.least(n_chars / F.greatest(n_tokens, F.lit(1.0)) / F.lit(8.0), F.lit(1.0))
    punct_ratio = punct_count(c).cast("double") / F.greatest(n_chars, F.lit(1.0))
    raw = (
        F.lit(0.5) * len_score
        + F.lit(0.3) * tok_score
        + F.lit(0.2) * (1 - punct_ratio)
    )
    return F.floor(raw * 1_000_000 + 0.5) / 1_000_000


def quality_score_sql(expr: str) -> str:
    n_chars = f"cast(length({expr}) as double)"
    n_tokens = f"cast({token_count_sql(expr)} as double)"
    len_score = f"least({n_chars} / 500.0, 1.0)"
    tok_score = f"least({n_chars} / greatest({n_tokens}, 1.0) / 8.0, 1.0)"
    punct_ratio = f"cast({punct_count_sql(expr)} as double) / greatest({n_chars}, 1.0)"
    raw = f"(0.5 * {len_score} + 0.3 * {tok_score} + 0.2 * (1 - {punct_ratio}))"
    # floor-based half-up: matches the Spark side bit-for-bit (see
    # quality_score docstring — round() disagrees at the half grid)
    return f"(floor({raw} * 1000000 + 0.5) / 1000000)"


def lang_scores_sql(expr: str) -> dict[str, str]:
    out = {}
    for lang, ws in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in ws)
        out[lang] = f"len(list_filter({tokens_sql(expr)}, t -> t IN ({lst})))"
    return out


# text-hygiene defect classes: control chars (minus \t\n\r — C4 keeps
# those), the U+FFFD replacement char (encoding damage), zero-width
# chars (homoglyph spam / watermarking), run-on whitespace. Java
# regex and RE2 spell the classes differently; same codepoints.
CTRL_JAVA = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
CTRL_RE2 = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
ZW_JAVA = "[\\u200B\\u200C\\u200D\\uFEFF]"
ZW_RE2 = r"[\x{200B}\x{200C}\x{200D}\x{FEFF}]"


def hygiene_scrub(col: Column | str) -> Column:
    """The pre-tokenizer unicode scrub every web pipeline runs first:
    strip control chars / U+FFFD / zero-width chars, collapse run-on
    whitespace. ONE code path for the text_hygiene_audit report and
    the curation HYGIENE_SCRUB stage."""
    c = F.col(col) if isinstance(col, str) else col
    scrub_class = f"({CTRL_JAVA}|\\uFFFD|{ZW_JAVA})"
    return F.regexp_replace(
        F.regexp_replace(c, scrub_class, ""), " {2,}", " "
    )


def hygiene_scrub_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace({expr}, "
        f"'({CTRL_RE2}|\\x{{FFFD}}|{ZW_RE2})', '', 'g'), "
        "' {2,}', ' ', 'g')"
    )

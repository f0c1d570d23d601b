"""Text scalar functions: the reference's string warts + LLM-pipeline
text analysis primitives. All JVM-side built-ins (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- reference warts -------------------------------------------------------

SANITIZE_PATTERN = "[^A-Za-z0-9._-]"  # java/PredictBatchMapperCluster.java:23
PROB_FORMAT = "%.4f"  # python/predict_batch_threaded_local.py:160


def basename(path: Column) -> Column:
    """Last path segment (``new Path(p).getName()`` equivalent)."""
    return F.element_at(F.split(path, "/"), -1)


def sanitize_filename(path: Column) -> Column:
    """Reference's basename sanitization: ``[^A-Za-z0-9._-]`` → ``_``
    (java/PredictBatchMapperCluster.java:23,56)."""
    return F.regexp_replace(basename(path), SANITIZE_PATTERN, "_")


def format_prob(prob: Column) -> Column:
    """``%.4f`` probability rendering
    (python/predict_batch_threaded_local.py:160)."""
    return F.format_string(PROB_FORMAT, prob)


# --- LLM text analysis -----------------------------------------------------

def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings removed (so leading and
    trailing whitespace doesn't create phantom tokens)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram word shingles (space-joined) from an ALREADY MATERIALIZED
    token-array column.

    PERF: ``toks`` must be a plain column reference (materialized by a
    prior projection), not a composite expression — expressions inside
    ``transform`` lambdas are re-evaluated per element, turning an
    inline ``split()`` into O(tokens²) work.
    """
    # NOTE (r12): an element_at×n + concat rewrite (avoiding the
    # per-position slice allocation) measured EQUAL in an interleaved
    # noop A/B on the shapley masks pipeline but regressed the real
    # consumers 1.6-2x in the full bench capture (decontaminate 2.75x,
    # dedup_ngram_jaccard 3.0x vs a 1.3x capture-wide box drift) — the
    # slice+concat_ws form stays.
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-gram word shingles straight from a text column. Convenience
    form for one-shot use; hot paths should materialize tokens first
    and call shingles_from_tokens (see PERF note there)."""
    return shingles_from_tokens(ws_tokens(text), n)


def char_array(text: Column) -> Column:
    """Codepoint array of a text column via split on the empty pattern
    — O(len) in ONE pass, where the older per-index
    ``substring(text, i, 1)`` transform re-scans the string from the
    start per position (UTF8String substring is O(i)), i.e. O(len²)
    per document (measured 7x at sf0.1, r12). Java regex split('') is
    codepoint-aware, matching substring semantics. Guarded:
    split('', '') is [''], not []."""
    return F.when(F.length(text) >= 1, F.split(text, "")).otherwise(
        F.array().cast("array<string>")
    )


# --- Spark SQL text (for F.expr strings; CLAUDE.md gotcha 18) ----------

def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a single-quoted Spark SQL string literal: ``\\`` and
    ``'`` backslash-escaped (the default parser, where
    ``spark.sql.parser.escapedStringLiterals`` is false)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _require_identifier(cs: str) -> None:
    """Guard the by-name SQL-interpolation contract (ADVICE r12 #2):
    these helpers splice ``cs`` into F.expr strings, so anything but a
    plain column identifier would silently build wrong SQL."""
    if not cs.isidentifier():
        raise ValueError(
            f"column name {cs!r} must be a plain identifier "
            "(materialize the expression in a projection first)"
        )


def char_bigrams_from(cs: str) -> Column:
    """Adjacent character bigrams from a MATERIALIZED codepoint-array
    column, referenced BY NAME (same per-element re-evaluation caveat
    as shingles_from_tokens — materialize char_array in a projection
    first): zip the array against its own 1-shifted slice — one flat
    zip_with, no per-index substring scans. Empty and single-char
    arrays yield no bigrams (slice length ≥ 0 guard)."""
    _require_identifier(cs)
    return F.expr(
        f"zip_with(slice({cs}, 1, greatest(size({cs}) - 1, 0)), "
        f"slice({cs}, 2, greatest(size({cs}) - 1, 0)), "
        "(x, y) -> concat(x, y))"
    )


def char_shingles_from_array(cs: str, n: int = 5) -> Column:
    """Character n-grams from a MATERIALIZED codepoint-array column
    referenced BY NAME — the O(len) form of char_shingles_from (array
    slice is O(n) per position; per-index substring re-scans the
    string, O(len²) per doc). Inputs shorter than n yield an EMPTY
    array (gotcha 10: the two-arg sequence descends when the upper
    bound falls below 1, and slice at index 0 throws)."""
    _require_identifier(cs)
    return F.expr(
        f"CASE WHEN size({cs}) >= {n} THEN "
        f"transform(sequence(1, size({cs}) - {n - 1}), "
        f"i -> concat_ws('', slice({cs}, i, {n}))) "
        "ELSE CAST(array() AS array<string>) END"
    )


def char_shingles_from(t: Column, n: int = 5) -> Column:
    """Character n-grams from a MATERIALIZED (lowercased) text column —
    same per-element re-evaluation caveat as shingles_from_tokens."""
    k = F.length(t) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(0)))
    return F.transform(idx, lambda i: F.substring(t, i, F.lit(n)))


def char_shingles(text: Column, n: int = 5) -> Column:
    """Character n-grams of the lowercased text (fingerprinting unit)."""
    return char_shingles_from(F.lower(text), n)

"""Text normalization, shingling and HTML extraction.

All hot-path functions exist as pure Spark SQL expression builders
(JVM-side, whole-stage codegen — no Python in the scan) with Python
twins used by the ground-truth fixtures and by tests.

Reference parity notes: the reference's set data model is a sorted set
of bounded-universe u32 tokens (libpuffinn format/set.hpp:15-48); here
the universe is the 31-bit hash space and "sorted set" is simply set
semantics (order never observed).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# words / shingles (Spark SQL expression builders — JVM side)
# ---------------------------------------------------------------------------


#: Explicit ASCII whitespace class shared by ALL THREE tokenizer engines.
#: Java \s, RE2 \s and Python \s disagree outside plain ASCII (\x0B
#: membership, Unicode spaces), so the parity contract names the exact
#: characters: space, tab, LF, VT, FF, CR. Documents containing Unicode
#: whitespace (U+00A0 etc.) are NOT split on it — identically in every
#: engine. The doubled backslashes survive one SQL-string-literal
#: unescape before reaching the Java regex engine.
WS_SQL_CLASS = "[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+"


def words_sql(text_col: str) -> str:
    """Lowercased whitespace tokens, empties dropped."""
    return f"filter(split(lower({text_col}), '{WS_SQL_CLASS}'), w -> w != '')"


def shingles_from_words_sql(words_expr: str, k: int) -> str:
    """Distinct k-word shingles from a words array expression.

    IMPORTANT for cost: pass a *column name* here (materialize words as
    its own projection first). The words expression is referenced both
    in size() and inside the per-shingle lambda; if a raw split(...) is
    inlined it re-tokenizes the document once per shingle (quadratic).
    Catalyst's CollapseProject keeps multi-referenced aliases as a
    separate Project, so a named column is evaluated once.
    """
    w = words_expr
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(1, size({w}) - {k} + 1)), "
        f"i -> concat_ws(' ', slice({w}, i, {k}))))"
    )


def shingles_sql(text_col: str, k: int) -> str:
    """Distinct k-word shingles (space-joined strings).

    Docs shorter than k words yield one shingle = all their words
    (slice clips), so no document is silently dropped.
    Convenience form for tests/small data — see shingles_from_words_sql
    for the hot-path shape.
    """
    return shingles_from_words_sql(words_sql(text_col), k)


def word_xxhash_sql(text_col: str, seed: int) -> str:
    """Ordered 64-bit word hashes, computed ENTIRELY JVM-side.

    lower + split + filter run inside whole-stage codegen; the
    xxhash64(w, seed) transform is Catalyst's (seed rides along as a
    hashed-in literal — Spark's xxhash64 has no seed parameter). This is
    the fast signature path's input column: only array<bigint> crosses
    the Arrow boundary, never text, so no Python string objects are
    created per word (the term that dominated the round-2 N->4N
    signature-stage attribution, BASELINE.md).
    """
    return f"transform({words_sql(text_col)}, w -> xxhash64(w, {seed}L))"


def words_col(text_col: str) -> Column:
    return F.expr(words_sql(text_col))


def shingles_col(text_col: str, k: int) -> Column:
    return F.expr(shingles_sql(text_col, k))


# ---------------------------------------------------------------------------
# Python twins (must match the SQL builders byte-for-byte)
# ---------------------------------------------------------------------------

# the same explicit ASCII class as WS_SQL_CLASS / oracles.duck_words
_WS = re.compile("[ \t\n\x0b\f\r]+")


def py_words(text: str) -> list[str]:
    return [w for w in _WS.split(text.lower()) if w]


def py_shingles(text: str, k: int) -> list[str]:
    w = py_words(text)
    if not w:
        # matches the SQL builder: slice of empty array -> [''] singleton
        return [""]
    n = max(1, len(w) - k + 1)
    out: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        s = " ".join(w[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


# ---------------------------------------------------------------------------
# HTML wrap / extract (the BASELINE.json input_hint invariant:
# extract_text(html) must be byte-identical to the original text per url)
# ---------------------------------------------------------------------------

_TAG = re.compile(r"<[^>]+>")


def py_wrap_html(text: str, title: str = "") -> bytes:
    """Deterministic html template used by the synthetic pages fixture."""
    return (
        f"<html><head><title>{_html.escape(title)}</title></head>"
        f"<body><p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


def py_extract_text(html_bytes: bytes) -> str:
    """Strip tags, unescape entities. Inverse of py_wrap_html on body."""
    s = html_bytes.decode("utf-8")
    m = re.search(r"<p>(.*)</p>", s, flags=re.S)
    body = m.group(1) if m else _TAG.sub("", s)
    return _html.unescape(body)


def extract_text_udf():
    """Vectorized pandas UDF: html binary -> extracted text string."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _extract(h: pd.Series) -> pd.Series:
        return h.map(py_extract_text)

    return _extract

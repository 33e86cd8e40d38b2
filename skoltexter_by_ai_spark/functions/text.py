"""Scalar text functions mirroring the reference's cleaning semantics.

Each function documents the reference behavior it reproduces
(file:line into /root/reference) and is expressed as built-in column
operations so the whole chain stays inside whole-stage codegen.

The render-time builders (``sanitize_sql``, ``number_fmt_sql``,
``with_sentinel_sql``) return Spark SQL text instead of a Column: the
template compiler joins them into one SQL expression, so a whole
document costs one parse rather than one py4j call tree per
placeholder.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Reference src/config.py:79
MISSING_SENTINEL = "[Data Saknas]"

#: Reference src/config.py:107-111
FALLBACK_SCHOOL_NAME_FORMAT = "School (Code: {school_code})"
FALLBACK_DESCRIPTION_HTML = "<p><em>Description not available for this school.</em></p>"
ERROR_DESCRIPTION_HTML = "<p><em>Error loading description.</em></p>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


#: Exactly the BMP characters Python's ``str.isspace()`` accepts —
#: Java regex ``\s`` misses \x1c-\x1f, \x85, \xa0 and the Unicode Zs
#: block, so a bare ``\s`` trim diverges from the reference's
#: ``.strip()`` (found by tests/test_template_properties.py).
PY_WS = "\\t\\n\\x0b\\f\\r\\x1c-\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"

#: Both-ends trim pattern shared by ``ws_trim`` and ``sanitize_sql``:
#: the publish stage's dedup key and the render key must trim alike.
WS_TRIM_RE = f"^[{PY_WS}]+|[{PY_WS}]+$"


def ws_trim(col: Column | str) -> Column:
    """Python-``str.strip()`` equivalent: trims ALL whitespace (Spark's
    ``trim`` removes spaces only, which diverges on newlines)."""
    return F.regexp_replace(_c(col), WS_TRIM_RE, "")


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal.

    Assumes Spark's default ``spark.sql.parser.escapedStringLiterals=
    false`` (``get_spark`` never changes it): backslash escapes inside
    the literal, so backslash and quote are backslash-escaped. Spark
    also substitutes ``${...}`` variables in SQL text before it parses
    (``spark.sql.variable.substitute``), so ``$`` before ``{`` is written
    as the unicode escape ``\\u0024``.
    """
    escaped = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "\\u0024{")
    return f"'{escaped}'"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier (a backtick inside
    is doubled).

    Written, like ``sql_string``, for Spark's default
    ``spark.sql.parser.escapedStringLiterals=false``, which ``get_spark``
    never changes. An identifier has no escape for ``$``, and Spark
    would substitute a ``${...}`` in it before parsing, so such a name
    is refused.
    """
    if "${" in name:
        raise ValueError(f"column name {name!r} contains '${{', which Spark SQL would substitute")
    return "`" + name.replace("`", "``") + "`"


def sanitize_sql(value_sql: str) -> str:
    """Trim; empty or any-case 'N/A' becomes NULL.

    Reference ``get_value_from_row`` (program1_generate_markdowns.py:92-123)
    returns the sentinel for those; we keep NULL internally and apply
    the sentinel only at render time (SURVEY §1.2). Trim must match
    Python ``str.strip()`` — ALL whitespace, not Spark ``trim``'s
    spaces-only — so it uses ``ws_trim``'s pattern.
    """
    trimmed = f"regexp_replace({value_sql}, {sql_string(WS_TRIM_RE)}, '')"
    return (
        f"CASE WHEN (({trimmed} = '') OR (upper({trimmed}) = 'N/A')) "
        f"THEN NULL ELSE {trimmed} END"
    )


#: An integer-like string with a redundant '.0'; group 1 is the integer.
INTEGER_DOT_ZERO_RE = r"^(-?\d+)\.0$"


def number_fmt_sql(value_sql: str) -> str:
    """Strip a redundant trailing '.0' from integer-like strings:
    '32.0' -> '32' (program1_generate_markdowns.py:282-297)."""
    return f"regexp_replace({value_sql}, {sql_string(INTEGER_DOT_ZERO_RE)}, '$1')"


def with_sentinel_sql(value_sql: str) -> str:
    """NULL -> '[Data Saknas]' (render-time materialization)."""
    return f"coalesce({value_sql}, {sql_string(MISSING_SENTINEL)})"


def clean_html(col: Column | str) -> Column:
    """The 10-step HTML cleanup chain, same regexes in the same order
    (program3_generate_website.py:242-258)."""
    c = _c(col)
    steps = [
        (r"<p>\s*</p>", ""),
        (r"<p>&nbsp;</p>", ""),
        (r"<p><br\s*/?>\s*</p>", ""),
        (r"(<h[1-6][^>]*>.*?</h[1-6]>)\s*<p>\s*</p>", "$1"),
        (r"(<h[1-6][^>]*>.*?</h[1-6]>)\s*<br\s*/?>\s*", "$1\n"),
        (r"(<br\s*/?>\s*){2,}", "<br>"),
        (r"(<h[1-6][^>]*>.*?</h[1-6]>)\s*<br\s*/?>", "$1"),
        (r"<p>\s*<br\s*/?>\s*</p>", ""),
        (r"\n\s*\n\s*\n+", "\n\n"),
        (r">\s+<", "><"),
    ]
    for pattern, repl in steps:
        c = F.regexp_replace(c, pattern, repl)
    return ws_trim(c)

"""Template compiler: placeholder template text -> one Spark Column.

The reference renders row-by-row with ``re.sub`` + a context dict
(program1_generate_markdowns.py:254-319). Here the template is compiled
ONCE at plan-build time into one SQL expression, one parse: a
``concat`` of quoted literal fragments and sanitized/formatted column
references — no UDF, no per-row Python, whole-stage codegen end to
end. Constant folding and loop-invariant hoisting happen by
construction (SURVEY §4). Building the same tree from ``F.*`` calls
costs about ten py4j round trips per call (PySpark captures each call
site), thousands per document template; the SQL text is sent in one
``F.expr``.

Semantics reproduced exactly:
- placeholder syntax ``{name}`` with ``[a-zA-Z0-9_/]`` names
  (program1_generate_markdowns.py:148);
- values sanitized (trim; ''/'N/A' -> missing) then number-formatted
  ('32.0' -> '32'), missing -> '[Data Saknas]' (:92-123, :282-297);
- ``SurveyAnswerCategory*`` placeholders coalesce year-suffixed
  columns in preference order (:222-251, config.py:80);
- ``SurveySchoolYear`` resolves to the first year (in preference
  order) for which ANY survey placeholder has data (:183-219);
- placeholders naming nonexistent columns render the sentinel
  (context.get default, :311).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.functions.text import (
    number_fmt_sql,
    sanitize_sql,
    sql_ident,
    sql_string,
    with_sentinel_sql,
)

#: Reference src/config.py:80
SURVEY_YEAR_SUFFIXES = ("_2023/2024", "_2022/2023")
SURVEY_PREFIX = "SurveyAnswerCategory"

PLACEHOLDER_RE = re.compile(r"\{([a-zA-Z0-9_/]+)\}")

_NULL_STRING = "CAST(NULL AS STRING)"


def extract_placeholders(template_text: str) -> list[str]:
    """Unique placeholder names, sorted (program1:126-148)."""
    return sorted(set(PLACEHOLDER_RE.findall(template_text)))


def _coalesce(values: list[str]) -> str:
    return f"coalesce({', '.join(values)})" if len(values) > 1 else values[0]


def _survey_value(name: str, columns: set[str]) -> str:
    """F4: year-preference coalesce for a survey placeholder (SQL)."""
    candidates = [
        sanitize_sql(sql_ident(f"{name}{suffix}"))
        for suffix in SURVEY_YEAR_SUFFIXES
        if f"{name}{suffix}" in columns
    ]
    if not candidates:
        return _NULL_STRING
    return _coalesce(candidates)


def _survey_year(placeholders: list[str], columns: set[str]) -> str:
    """F5: first year (preference order) where ANY survey placeholder
    has data; else NULL (sentinel applied at render). SQL text."""
    survey = [p for p in placeholders if p.startswith(SURVEY_PREFIX)]
    result = _NULL_STRING
    whens = []
    for suffix in SURVEY_YEAR_SUFFIXES:
        year_cols = [
            sanitize_sql(sql_ident(f"{p}{suffix}")) for p in survey if f"{p}{suffix}" in columns
        ]
        if year_cols:
            whens.append((_coalesce(year_cols), suffix.replace("_", "")))
    for any_data, year in reversed(whens):
        result = f"CASE WHEN ({any_data} IS NOT NULL) THEN {sql_string(year)} ELSE {result} END"
    return result


def resolve_placeholder(name: str, placeholders: list[str], columns: set[str]) -> str:
    """The sanitized raw value for one placeholder (pre-format), as SQL."""
    if name == "SurveySchoolYear" and "SurveySchoolYear" not in columns:
        return _survey_year(placeholders, columns)
    if name.startswith(SURVEY_PREFIX) and name not in columns:
        return _survey_value(name, columns)
    if name in columns:
        return sanitize_sql(sql_ident(name))
    return _NULL_STRING


def compile_template(template_text: str, columns: list[str] | set[str]) -> Column:
    """Compile template text to a single string Column.

    ``columns`` is the schema of the frame the expression will run on.
    Quoted literal fragments interleave with
    ``coalesce(number_fmt(resolved), '[Data Saknas]')`` per placeholder,
    all in one SQL expression.
    """
    cols = set(columns)
    placeholders = extract_placeholders(template_text)
    pieces: list[str] = []
    pos = 0
    for match in PLACEHOLDER_RE.finditer(template_text):
        if match.start() > pos:
            pieces.append(sql_string(template_text[pos : match.start()]))
        value = resolve_placeholder(match.group(1), placeholders, cols)
        pieces.append(with_sentinel_sql(number_fmt_sql(value)))
        pos = match.end()
    if pos < len(template_text):
        pieces.append(sql_string(template_text[pos:]))
    if not pieces:
        return F.lit("")
    return F.expr(f"concat({', '.join(pieces)})" if len(pieces) > 1 else pieces[0])


#: ``render_documents``' output schema, for reading its parquet back
#: without a schema-inference job.
DOCS_SCHEMA = "school_code string, content string"


def render_documents(schools: DataFrame, template_text: str) -> DataFrame:
    """Stage-1 parity: wide schools frame -> (school_code, content).

    Key filter P2 (rows with missing SchoolCode are skipped,
    program1:376-379); the filename key is the *sanitized* (not
    number-formatted) SchoolCode (program1:377,382).

    Scale posture: narrow map-only plan — scan, filter, concat, no
    shuffle; at 100 TB this is embarrassingly parallel and the CSV/
    parquet scan prunes to exactly the referenced columns.
    """
    code = F.expr(sanitize_sql(sql_ident("SchoolCode")))
    return (
        schools.filter(code.isNotNull())
        .select(
            code.alias("school_code"),
            compile_template(template_text, schools.columns).alias("content"),
        )
    )

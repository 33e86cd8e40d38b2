"""Property-based tests: the compiled-to-Column template renderer must
agree with a direct Python model of the reference semantics
(program1_generate_markdowns.py:92-319) on arbitrary inputs."""

from __future__ import annotations

import re

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from skoltexter_by_ai_spark.functions.template import PLACEHOLDER_RE, compile_template  # noqa: E402

SENTINEL = "[Data Saknas]"

COLS = ["ColA", "ColB", "Col_1", "Name2"]

# Literal text: anything without braces (placeholder syntax) — keep to
# printable-ish plus whitespace so collected strings compare cleanly.
literal = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="{}", categories=("L", "N", "P", "Zs")
    ),
    max_size=12,
)
# Values exercise every sanitize/number-format branch: missing markers,
# whitespace edges (incl. tabs/newlines - Python .strip() semantics),
# integer-like floats, negatives, multi-dot, plain words.
value = st.one_of(
    st.none(),
    st.sampled_from(
        ["", " ", "\t", "\n  ", "N/A", "n/a", " N/A ", "10.0", "-3.0", "3.00",
         "10.01", "0.0", "-0.0", "12", "7.5", "abc", " x y ", "1.0.0", "  42.0\n"]
    ),
    st.text(max_size=8),
)


def _sanitize_py(v: str | None) -> str | None:
    if v is None:
        return None
    t = v.strip()
    if t == "" or t.upper() == "N/A":
        return None
    return t


def _render_py(template: str, row: dict[str, str | None]) -> str:
    def repl(m: re.Match) -> str:
        v = _sanitize_py(row.get(m.group(1)))
        if v is None:
            return SENTINEL
        return re.sub(r"^(-?\d+)\.0$", r"\1", v)

    return PLACEHOLDER_RE.sub(repl, template)


@st.composite
def template_and_rows(draw):
    # Interleave literals and placeholders; some placeholders reference
    # columns that do not exist (must render the sentinel).
    n = draw(st.integers(1, 5))
    parts = []
    for _ in range(n):
        parts.append(draw(literal))
        parts.append("{" + draw(st.sampled_from(COLS + ["Missing1", "Nope"])) + "}")
    parts.append(draw(literal))
    template = "".join(parts)
    rows = draw(
        st.lists(st.tuples(*[value for _ in COLS]), min_size=1, max_size=8)
    )
    return template, rows


@settings(max_examples=12, deadline=None)
@given(template_and_rows())
def test_compiled_template_matches_python_model(spark, tr):
    template, rows = tr
    df = spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in COLS))
    got = [
        r.doc
        for r in df.select(compile_template(template, COLS).alias("doc")).collect()
    ]
    want = [
        _render_py(template, dict(zip(COLS, vals)))
        for vals in rows
    ]
    assert got == want


@settings(max_examples=12, deadline=None)
@given(st.lists(st.one_of(value, st.text(max_size=30)), min_size=1, max_size=12))
def test_shingles_match_python_model(spark, texts):
    from skoltexter_by_ai_spark.operators.dedup import word_shingles

    rows = [(i, t if t is not None else None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: list(r.sh)
        for r in df.select("id", word_shingles("text", 2).alias("sh")).collect()
    }
    # Model the ENGINE tokenization exactly: tokens are the non-empty
    # ASCII-\s-separated chunks (split + array_remove(''), so leading/
    # trailing whitespace of any kind contributes no empty token).
    for i, t in rows:
        toks = [tok for tok in re.split(r"\s+", t or "", flags=re.ASCII) if tok]
        grams = list(dict.fromkeys(" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)))
        assert got[i] == grams, f"text={t!r}"


def test_two_piece_template_renders_both_pieces(spark):
    """Deterministic 2-piece case (literal + placeholder): the
    single-vs-concat return branch must still emit BOTH pieces — the
    hypothesis interleaver only sometimes draws this shape, which let
    a `len(pieces) > 1` -> `> 2` mutant slip through on some runs."""
    df = spark.createDataFrame([("World", "x", "y", "z")], COLS)
    got = df.select(compile_template("Hello {ColA}", COLS).alias("doc")).collect()
    assert got[0].doc == "Hello World"
    # And the mirrored shape: placeholder + trailing literal.
    got2 = df.select(compile_template("{ColA}!", COLS).alias("doc")).collect()
    assert got2[0].doc == "World!"


def test_survey_fallback_uses_older_year_when_newest_empty(spark):
    """Both survey-year columns exist and the NEWEST is empty: the
    coalesce must fall through to the older year (a `len>1` -> `len>2`
    mutant that drops the fallback survived the fixture, where the
    newest year always had data)."""
    cols = ["SurveyAnswerCategoryX_2023/2024", "SurveyAnswerCategoryX_2022/2023"]
    df = spark.createDataFrame([("", "42")], ", ".join(f"`{c}` string" for c in cols))
    got = df.select(
        compile_template("{SurveyAnswerCategoryX}", cols).alias("doc")
    ).collect()
    assert got[0].doc == "42"


def test_survey_prefixed_column_present_verbatim_resolves_directly(spark):
    """A placeholder that LOOKS like a survey category but exists as a
    literal column must resolve to that column, not the year-suffix
    search (which would find nothing and render the sentinel)."""
    cols = ["SurveyAnswerCategoryZ"]
    df = spark.createDataFrame([("direct",)], "`SurveyAnswerCategoryZ` string")
    got = df.select(
        compile_template("{SurveyAnswerCategoryZ}", cols).alias("doc")
    ).collect()
    assert got[0].doc == "direct"


def test_survey_single_year_column_resolves(spark):
    """Only ONE year-suffixed column exists: the single-candidate
    branch must return THAT column (a `candidates[0]` -> `[1]` mutant
    crashes or mis-resolves here; the fixture always had both years)."""
    cols = ["SurveyAnswerCategoryY_2022/2023"]
    df = spark.createDataFrame([("only",)], "`SurveyAnswerCategoryY_2022/2023` string")
    got = df.select(
        compile_template("{SurveyAnswerCategoryY}", cols).alias("doc")
    ).collect()
    assert got[0].doc == "only"


def test_survey_year_single_column_per_suffix(spark):
    """SurveySchoolYear with exactly one survey column per year
    suffix: the `year_cols[0]` single-element branch must be the one
    exercised (kills the `[0]` -> `[1]` index mutant in _survey_year)."""
    cols = ["SurveyAnswerCategoryX_2023/2024", "SurveyAnswerCategoryX_2022/2023"]
    df = spark.createDataFrame(
        [("data", "old")], ", ".join(f"`{c}` string" for c in cols)
    )
    got = df.select(
        compile_template("{SurveyAnswerCategoryX}: {SurveySchoolYear}", cols).alias("doc")
    ).collect()
    assert got[0].doc == "data: 2023/2024"


def test_survey_year_any_data_probe_spans_all_columns_of_a_suffix(spark):
    """TWO survey categories share the newest suffix; only the SECOND
    one has data there. _survey_year's per-suffix any-data probe must
    coalesce across BOTH columns (a `len(year_cols) > 1` -> `> 2`
    mutant reduces the probe to the first column, which is empty, and
    would wrongly report the older year)."""
    cols = [
        "SurveyAnswerCategoryA_2023/2024",
        "SurveyAnswerCategoryB_2023/2024",
        "SurveyAnswerCategoryA_2022/2023",
    ]
    df = spark.createDataFrame(
        [("", "bdata", "older")], ", ".join(f"`{c}` string" for c in cols)
    )
    got = df.select(
        compile_template(
            "{SurveyAnswerCategoryA}|{SurveyAnswerCategoryB}|{SurveySchoolYear}", cols
        ).alias("doc")
    ).collect()
    # A falls back to its older value; B has newest data; the school
    # year is the NEWEST suffix because B had data there.
    assert got[0].doc == "older|bdata|2023/2024"


def _compile_commands(monkeypatch, template, cols):
    """py4j commands sent while compile_template builds its Column."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return real(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        compile_template(template, cols)
    return len(sent)


def test_compile_template_py4j_commands_do_not_grow_with_placeholders(spark, monkeypatch):
    """The whole template is one SQL expression, so the plan build makes
    the same few JVM round trips at any template size; one F.* call
    tree per placeholder made thousands for the benchmark template."""
    survey = [f"SurveyAnswerCategory{k}{s}" for k in "AB" for s in ("_2023/2024", "_2022/2023")]
    cols = [f"C{i}" for i in range(50)] + survey
    small = "{C0} {C1} {Missing} {SurveyAnswerCategoryA} {SurveySchoolYear}"
    large = " ".join(
        [f"{{C{i}}}" for i in range(46)]
        + ["{Missing}", "{SurveyAnswerCategoryA}", "{SurveyAnswerCategoryB}", "{SurveySchoolYear}"]
    )
    assert len(PLACEHOLDER_RE.findall(large)) == 50
    # The first call in a session also resolves the JVM-side function
    # entry points; count steady-state calls only.
    compile_template(small, cols)
    n_small = _compile_commands(monkeypatch, small, cols)
    n_large = _compile_commands(monkeypatch, large, cols)
    assert n_small == n_large <= 5

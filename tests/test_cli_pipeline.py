"""End-to-end pipeline through the CLI orchestrator (D1-D3 parity):
render -> scripted-transport enrich -> publish, plus incremental
re-run and reset semantics.

Runs on the reference's own CSV and template when that data set is
mounted, and otherwise on the synthetic fixture in ``tests/data``
(see ``tests/data/make_schools_fixture.py``)."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import re

import pytest

from skoltexter_by_ai_spark import cli
from skoltexter_by_ai_spark.operators.enrich import ScriptedTransport

_spec = importlib.util.spec_from_file_location(
    "make_schools_fixture", pathlib.Path(__file__).parent / "data" / "make_schools_fixture.py"
)
fixture = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(fixture)

REF_CSV = pathlib.Path("/root/reference/data/database_data/database_school_data.csv")
REF_TPL = pathlib.Path("/root/reference/data/templates/school_description_template.md")

if REF_CSV.exists():
    CSV, TPL, SCHOOLS = REF_CSV, REF_TPL, 44
else:
    CSV, TPL, SCHOOLS = fixture.CSV_PATH, fixture.TEMPLATE_PATH, fixture.DISTINCT_SCHOOLS


def _site_rows(site_path: str) -> list[dict]:
    html = pathlib.Path(site_path).read_text(encoding="utf-8")
    m = re.search(r"const schools = (\[.*?\]);", html, re.S)
    assert m, "site must embed the schools JSON array"
    return json.loads(m.group(1))


def test_full_pipeline_offline(spark, tmp_path):
    transport = ScriptedTransport({}, default=("ok", "# Enriched\n\nFine text."))
    site = cli.run_pipeline(
        spark,
        str(CSV),
        str(TPL),
        str(tmp_path),
        transport=transport,
        limit=5,
    )
    rows = _site_rows(site)
    assert len(rows) == SCHOOLS  # every school appears (left join)
    enriched = [r for r in rows if "Enriched" in r["ai_description_html"]]
    assert len(enriched) == 5  # limit honored
    # names sorted as the site contract requires
    names = [r["name"] for r in rows]
    assert names == sorted(names)


def test_rerun_is_incremental(spark, tmp_path):
    t1 = ScriptedTransport({}, default=("ok", "first"))
    cli.run_pipeline(spark, str(CSV), str(TPL), str(tmp_path), transport=t1, limit=3)
    run1 = spark.read.parquet(str(tmp_path / cli.ENRICHED_DIR)).collect()
    assert len(run1) == 3 and all(r.content == "first" for r in run1)
    # Second run must anti-join away the 3 done keys and take the next 4.
    t2 = ScriptedTransport({}, default=("ok", "second"))
    site = cli.run_pipeline(spark, str(CSV), str(TPL), str(tmp_path), transport=t2, limit=4)
    run2 = spark.read.parquet(str(tmp_path / cli.ENRICHED_DIR)).collect()
    by_content = {}
    for r in run2:
        by_content.setdefault(r.content, set()).add(r.school_code)
    assert len(by_content["first"]) == 3 and len(by_content["second"]) == 4
    assert by_content["first"] & by_content["second"] == set()
    enriched = [r for r in _site_rows(site) if "first" in r["ai_description_html"] or "second" in r["ai_description_html"]]
    assert len(enriched) == 7


def test_skip_enrich_publishes_fallbacks(spark, tmp_path):
    site = cli.run_pipeline(
        spark, str(CSV), str(TPL), str(tmp_path), skip_enrich=True
    )
    rows = _site_rows(site)
    assert len(rows) == SCHOOLS
    assert all("Enriched" not in r["ai_description_html"] for r in rows)


def test_reset_drops_outputs(spark, tmp_path):
    cli.run_pipeline(spark, str(CSV), str(TPL), str(tmp_path), skip_enrich=True)
    assert (tmp_path / cli.SITE_FILE).exists()
    cli.reset(str(tmp_path))
    assert not (tmp_path / cli.SITE_FILE).exists()
    assert not (tmp_path / cli.DOCS_DIR).exists()


def test_stage2_calls_llm_exactly_once_per_document(spark, tmp_path):
    """Writing ok and failed straight off the uncached mapInPandas
    result executes the whole LLM stage twice (every document
    re-called) — stage2 must materialize results once before the two
    side-output writes."""
    log = tmp_path / "calls.log"
    from skoltexter_by_ai_spark.operators.enrich import CallLogTransport

    transport = CallLogTransport(str(log), default=("ok", "enriched-once"))
    cli.run_pipeline(
        spark, str(CSV), str(TPL), str(tmp_path), transport=transport, limit=6
    )
    calls = log.read_text(encoding="utf-8").split()
    assert len(calls) == 6, f"expected 6 LLM calls, saw {len(calls)}: {sorted(calls)}"
    assert len(set(calls)) == 6


def test_fixture_matches_its_generator():
    """The committed fixture is exactly what its generator writes."""
    assert fixture.CSV_PATH.read_bytes() == fixture.csv_text().encode("utf-8-sig")
    assert fixture.TEMPLATE_PATH.read_bytes() == fixture.template().encode("utf-8")


def test_fixture_site_dedups_codes_and_falls_back_on_blank_names(spark, tmp_path):
    """On the fixture: the repeated code is listed once, under its first
    row's name, and the blank name gets the reference's fallback."""
    site = cli.run_pipeline(
        spark,
        str(fixture.CSV_PATH),
        str(fixture.TEMPLATE_PATH),
        str(tmp_path),
        skip_enrich=True,
    )
    by_code = {r["id"]: r["name"] for r in _site_rows(site)}
    rows = fixture.rows()
    repeated = rows[fixture.REPEATED_ROW]
    blank = rows[fixture.BLANK_NAME_ROW]
    assert len(by_code) == fixture.DISTINCT_SCHOOLS == len(rows) - 1
    assert by_code[repeated[0]] == repeated[1]
    assert by_code[blank[0]] == f"School (Code: {blank[0]})"

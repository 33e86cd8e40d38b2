"""Seeded inputs: the pipeline's schools CSV and template, and the query
tables (made by ``tools/gen_scaled_fixtures.py``). Inputs are cached under
the checkout by (kind, size, seed) and written atomically, so a cache hit
is always a complete input set."""

from __future__ import annotations

import csv
import os
import shutil
import subprocess
import sys

import numpy as np

INDICATORS = 6
SURVEY_CATEGORIES = 12
SURVEY_YEARS = ("2023/2024", "2022/2023")
TOWNS = ["Malmö", "Göteborg", "Uppsala", "Västerås", "Örebro", "Linköping", "Umeå", "Luleå"]
TYPES = ["Grundskola", "Gymnasium", "Friskola", "Särskola"]
WORDS = ["Norra", "Södra", "Östra", "Västra", "Park", "Ängs", "Berg", "Sjö", "Skog", "Dal"]


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def schools_columns() -> list[str]:
    survey = [
        f"SurveyAnswerCategory{c:02d}_{year}"
        for c in range(1, SURVEY_CATEGORIES + 1)
        for year in SURVEY_YEARS
    ]
    indicators = [f"Indicator_{i:02d}" for i in range(1, INDICATORS + 1)]
    return ["SchoolCode", "SchoolName", "Municipality", "SchoolType", "PrincipalName", "Address"] + indicators + survey


def schools_template() -> str:
    """A markdown template that references every CSV column; survey
    columns through their year-less placeholder."""
    lines = [
        "# {SchoolName}",
        "",
        "School code: {SchoolCode}. Municipality: {Municipality}. Type: {SchoolType}.",
        "Principal: {PrincipalName}. Address: {Address}.",
        "",
        "## Indicators",
    ]
    lines += [f"- Indicator {i:02d}: {{Indicator_{i:02d}}}" for i in range(1, INDICATORS + 1)]
    lines += ["", "## Survey ({SurveySchoolYear})"]
    lines += [
        f"- Category {c:02d}: {{SurveyAnswerCategory{c:02d}}}" for c in range(1, SURVEY_CATEGORIES + 1)
    ]
    return "\n".join(lines) + "\n"


def _schools_rows(rng: np.random.Generator, n: int) -> list[list[str]]:
    codes = rng.choice(np.arange(10_000_000, 99_999_999), size=n, replace=False).astype(str)
    # ~2% of rows repeat the code of an earlier row, which stage 3's
    # keep-first dedup resolves. Only codes in the upper half are
    # repeated: stage 1 renders one document per row, so a repeated code
    # among the lowest codes (the ones stage 2 enriches first) would be
    # enriched twice and listed twice on the site.
    median = np.median(codes.astype(np.int64))
    upper = np.flatnonzero(codes.astype(np.int64) > median)
    dup = np.flatnonzero(rng.random(n) < 0.02)
    dup = dup[dup > upper[0]]
    sources = [upper[rng.integers(0, np.searchsorted(upper, i))] for i in dup]
    codes[dup] = codes[sources]
    words = np.array(WORDS)
    names = np.char.add(np.char.add(words[rng.integers(0, len(WORDS), n)], "skolan "), rng.integers(1, 999, n).astype(str))
    names[rng.random(n) < 0.01] = ""
    towns = np.array(TOWNS)[rng.integers(0, len(TOWNS), n)]
    types = np.array(TYPES)[rng.integers(0, len(TYPES), n)]
    principals = np.char.add("Rektor ", rng.integers(1, 5000, n).astype(str))
    streets = np.char.add(np.char.add(words[rng.integers(0, len(WORDS), n)], "gatan "), rng.integers(1, 200, n).astype(str))

    def numeric(k: int) -> np.ndarray:
        vals = np.char.mod("%.1f", np.round(rng.uniform(0, 100, (k, n)), 1))
        roll = rng.random((k, n))
        vals[roll < 0.05] = "N/A"
        vals[(roll >= 0.05) & (roll < 0.10)] = ""
        return vals

    indicators = numeric(INDICATORS)
    survey = numeric(SURVEY_CATEGORIES * len(SURVEY_YEARS))
    # The newest survey year is missing for ~30% of schools, so the
    # year-preference coalesce falls back to the older year.
    survey[0::2, rng.random(n) < 0.3] = ""
    cols = [codes, names, towns, types, principals, streets, *indicators, *survey]
    return [list(row) for row in zip(*cols)]


def schools_inputs(cache: str, seed: int, rows: int) -> tuple[str, str]:
    """(csv path, template path) of the seeded schools CSV: ``;``-delimited,
    ``utf-8-sig``, ``rows`` rows."""
    final = os.path.join(cache, f"schools-{rows}x{len(schools_columns())}-seed{seed}")
    if not os.path.exists(final):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp)
        rng = np.random.default_rng(seed)
        with open(os.path.join(tmp, "schools.csv"), "w", encoding="utf-8-sig", newline="") as fh:
            writer = csv.writer(fh, delimiter=";", quoting=csv.QUOTE_MINIMAL)
            writer.writerow(schools_columns())
            writer.writerows(_schools_rows(rng, rows))
        with open(os.path.join(tmp, "template.md"), "w", encoding="utf-8") as fh:
            fh.write(schools_template())
        _publish(tmp, final)
    return os.path.join(final, "schools.csv"), os.path.join(final, "template.md")


def tables(root: str, cache: str, sf: float, seed: int) -> str:
    """Directory of the seeded fixture tables at scale factor ``sf``."""
    final = os.path.join(cache, f"tables-sf{sf}-seed{seed}")
    if not os.path.exists(final):
        tmp = f"{final}.tmp{os.getpid()}"
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_scaled_fixtures.py"),
             "--sf", str(sf), "--seed", str(seed), "--out", tmp],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        )
        _publish(tmp, final)
    return final

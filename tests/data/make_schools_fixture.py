"""Write the small synthetic schools CSV and template that the pipeline
tests run on when the reference data set is not mounted.

The CSV has the reference's shape (``;``-delimited, ``utf-8-sig``,
quoted header, every value a string) and the cases stage 1 and stage 3
must handle: year-suffixed ``SurveyAnswerCategory*`` columns with the
newest year missing for some answers and for whole schools, ``N/A``
and empty cells, numbers with a trailing ``.0``, a quoted value holding
the delimiter, one blank school name and one repeated school code. The repeated code is in the upper
half of the code range, so the lowest codes, the ones stage 2 enriches
first, each render exactly one document.

Regenerate with ``python tests/data/make_schools_fixture.py``;
``tests/test_cli_pipeline.py`` checks the committed files match.
"""

from __future__ import annotations

import pathlib

HERE = pathlib.Path(__file__).resolve().parent
CSV_PATH = HERE / "schools.csv"
TEMPLATE_PATH = HERE / "school_template.md"

SURVEY_YEARS = ("2023/2024", "2022/2023")
SURVEY_CATEGORIES = ("StudentSafety", "StudentSatisfaction", "ClassroomDisruptions")
GRADES = ("Under medel", "Medel", "Över medel")
TOWNS = ("Malmö", "Göteborg", "Uppsala", "Växjö", "Umeå")
STAGES = ("Låg- och mellanstadieskola", "Högstadieskola", "F-9 skola")
NAMES = (
    "Ängsskolan", "Bergsskolan", "Dalskolan", "Ekbackens skola", "Fjällskolan",
    "Granskolan", "Hagaskolan", "Ishusets skola", "Johannesskolan", "Kvarnskolan",
    "Lindskolan", "Mosskolan", "Norrskolan", "Öjaby skola", "Parkskolan",
)

#: One row per distinct school, plus one repeated code.
DISTINCT_SCHOOLS = len(NAMES)
#: The row whose name is blank (stage 3 falls back to "School (Code: ...)").
BLANK_NAME_ROW = 4
#: The row whose code a later row repeats; its code is in the upper half.
REPEATED_ROW = 11


def columns() -> list[str]:
    survey = [
        f"SurveyAnswerCategory{cat}_{year}" for cat in SURVEY_CATEGORIES for year in SURVEY_YEARS
    ]
    return [
        "SchoolCode", "SchoolName", "Municipality", "SchoolStages", "Address",
        "TotalNumberOfStudents", "StudentTeacherRatio", *survey,
    ]


def rows() -> list[list[str]]:
    out = []
    for i, name in enumerate(NAMES):
        survey = []
        for c in range(len(SURVEY_CATEGORIES)):
            # Every 7th school has no newest-year answers at all, so its
            # survey year falls back to the older one.
            newest = "" if (i + c) % 3 == 0 or i % 7 == 6 else GRADES[(i + c) % 3]
            oldest = "N/A" if i % 5 == 4 else GRADES[(i + 2 * c) % 3]
            survey += [newest, oldest]
        out.append([
            str(41_720_000 + 137 * i),
            "" if i == BLANK_NAME_ROW else name,
            TOWNS[i % len(TOWNS)],
            STAGES[i % len(STAGES)],
            f"Skolvägen {i + 1}; hus {chr(ord('A') + i % 3)}",
            f"{120 + 23 * i}.0",
            "N/A" if i % 4 == 3 else f"{11.5 + i % 6:.1f}",
            *survey,
        ])
    repeat = list(out[REPEATED_ROW])
    repeat[1] = repeat[1] + " (dubblett)"
    out.append(repeat)
    return out


def template() -> str:
    lines = [
        "# {SchoolName}",
        "",
        "Skolkod: {SchoolCode}. Kommun: {Municipality}. Skolform: {SchoolStages}.",
        "Adress: {Address}.",
        "",
        "## Nyckeltal",
        "- Antal elever: {TotalNumberOfStudents}",
        "- Elever per lärare: {StudentTeacherRatio}",
        "- Rektor: {PrincipalName}",
        "",
        "## Enkät ({SurveySchoolYear})",
    ]
    lines += [f"- {cat}: {{SurveyAnswerCategory{cat}}}" for cat in SURVEY_CATEGORIES]
    return "\n".join(lines) + "\n"


def csv_text() -> str:
    def line(values: list[str], quote_all: bool) -> str:
        return ";".join(
            f'"{v}"' if quote_all or ";" in v or '"' in v else v for v in values
        )

    body = [line(columns(), quote_all=True)] + [line(r, quote_all=False) for r in rows()]
    return "\n".join(body) + "\n"


def main() -> None:
    CSV_PATH.write_text(csv_text(), encoding="utf-8-sig", newline="")
    TEMPLATE_PATH.write_text(template(), encoding="utf-8", newline="")


if __name__ == "__main__":
    main()

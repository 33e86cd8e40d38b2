"""Thin pipeline orchestrator — D1-D3 parity (setup_project.py:978-1032).

The reference drives its three programs as subprocesses with per-stage
enable flags, a reset utility, and env-based LLM config validation.
Here each stage is a DataFrame plan in-process; the DAG semantics are
preserved: stage 1 failure aborts, stage 2 is skippable and
incremental (anti-join against existing outputs, X9), stage 3 always
publishes whatever enriched docs exist.

Usage:
    python -m skoltexter_by_ai_spark.cli run --csv data.csv \
        --template tpl.md --out ./work [--skip-enrich] [--limit N]
    python -m skoltexter_by_ai_spark.cli reset --out ./work
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_DIR = "documents"
ENRICHED_DIR = "enriched"
FAILED_DIR = "failed_responses"
SITE_FILE = "site.html"


def env_config() -> dict[str, str | None]:
    """LLM endpoint config from the environment (D3).

    Validation mirrors the reference's required-variable check
    (program2_ai_processor.py:105-151); no interactive fill-in — a
    batch engine fails fast instead.
    """
    return {
        "endpoint": os.environ.get("LLM_ENDPOINT"),
        "api_key": os.environ.get("LLM_API_KEY"),
    }


def stage1_render(
    spark: SparkSession, csv_path: str, template_path: str, out_dir: str
) -> DataFrame:
    """CSV -> rendered markdown documents, persisted as parquet."""
    from skoltexter_by_ai_spark.functions.template import render_documents
    from skoltexter_by_ai_spark.sources.schools_csv import read_schools_csv

    with open(template_path, encoding="utf-8") as fh:
        template_text = fh.read()
    schools = read_schools_csv(spark, csv_path)
    docs = render_documents(schools, template_text)
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, DOCS_DIR))
    return docs


def stage2_enrich(
    spark: SparkSession,
    out_dir: str,
    prompt_template: str,
    transport=None,
    limit: int | None = None,
) -> DataFrame | None:
    """Incremental LLM enrichment with success/failure side outputs."""
    from skoltexter_by_ai_spark.functions.template import DOCS_SCHEMA
    from skoltexter_by_ai_spark.operators import enrich

    # Every read of the pipeline's own parquet passes its known schema:
    # an inferred one costs a footer-reading job per read.
    docs = spark.read.schema(DOCS_SCHEMA).parquet(os.path.join(out_dir, DOCS_DIR))
    enriched_path = os.path.join(out_dir, ENRICHED_DIR)
    try:
        done = spark.read.schema(enrich.RESULT_SCHEMA).parquet(enriched_path).select("school_code")
    except Exception:
        done = None
    todo = enrich.incremental_inputs(docs, done, limit=limit)
    if transport is None:
        cfg = env_config()
        if not cfg["endpoint"] or not cfg["api_key"]:
            raise SystemExit(
                "stage 2 needs LLM_ENDPOINT and LLM_API_KEY env vars "
                "(or pass --skip-enrich)"
            )
        transport = enrich.AiohttpTransport(cfg["endpoint"], cfg["api_key"])
    results = enrich.llm_enrich(todo, prompt_template, transport=transport)
    # Materialize the LLM stage exactly once before splitting into the
    # two side outputs: writing ok and failed straight off the
    # mapInPandas result would execute the whole stage twice (every
    # document re-called), and with a nondeterministic transport a
    # document could succeed in one pass and fail in the other,
    # landing in both side outputs or neither.
    staging = os.path.join(out_dir, "_enrich_staging")
    results.write.mode("overwrite").parquet(staging)
    materialized = spark.read.schema(enrich.RESULT_SCHEMA).parquet(staging)
    ok, failed = enrich.side_outputs(materialized)
    ok.write.mode("append").parquet(enriched_path)
    failed.write.mode("append").parquet(os.path.join(out_dir, FAILED_DIR))
    return materialized


def stage3_publish(spark: SparkSession, csv_path: str, out_dir: str) -> str:
    """Join schools against enriched docs and write the one-file site."""
    from skoltexter_by_ai_spark.operators.enrich import RESULT_SCHEMA
    from skoltexter_by_ai_spark.plans import pipeline_publish as pub
    from skoltexter_by_ai_spark.sources.schools_csv import read_schools_csv

    schools = read_schools_csv(spark, csv_path)
    try:
        enriched = (
            spark.read.schema(RESULT_SCHEMA)
            .parquet(os.path.join(out_dir, ENRICHED_DIR))
            .select("school_code", F.col("content"))
        )
    except Exception:
        enriched = None
    site_path = os.path.join(out_dir, SITE_FILE)
    pub.write_site(schools, enriched, site_path)
    return site_path


def reset(out_dir: str) -> None:
    """Drop all generated data (D2, setup_project.py:1145-1202)."""
    for sub in (DOCS_DIR, ENRICHED_DIR, FAILED_DIR, SITE_FILE, "_enrich_staging"):
        path = os.path.join(out_dir, sub)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.isfile(path):
            os.remove(path)


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    template_path: str,
    out_dir: str,
    prompt_template: str | None = None,
    transport=None,
    skip_enrich: bool = False,
    limit: int | None = None,
) -> str:
    """Full 3-stage DAG; returns the site path. Stage-1 errors abort
    (exception propagates); stage 2 honors ``skip_enrich``."""
    os.makedirs(out_dir, exist_ok=True)
    stage1_render(spark, csv_path, template_path, out_dir)
    if not skip_enrich:
        stage2_enrich(
            spark,
            out_dir,
            prompt_template or "SYSTEM: improve this\nUSER: {school_data}",
            transport=transport,
            limit=limit,
        )
    return stage3_publish(spark, csv_path, out_dir)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="skoltexter-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    run_p = sub.add_parser("run", help="run the 3-stage pipeline")
    run_p.add_argument("--csv", required=True)
    run_p.add_argument("--template", required=True)
    run_p.add_argument("--out", required=True)
    run_p.add_argument("--prompt-template")
    run_p.add_argument("--skip-enrich", action="store_true")
    run_p.add_argument("--limit", type=int)
    reset_p = sub.add_parser("reset", help="delete generated outputs")
    reset_p.add_argument("--out", required=True)
    args = parser.parse_args(argv)

    if args.cmd == "reset":
        reset(args.out)
        return 0

    from skoltexter_by_ai_spark.session import get_spark

    spark = get_spark(app_name="skoltexter-pipeline")
    prompt = None
    if args.prompt_template:
        with open(args.prompt_template, encoding="utf-8") as fh:
            prompt = fh.read()
    site = run_pipeline(
        spark,
        args.csv,
        args.template,
        args.out,
        prompt_template=prompt,
        skip_enrich=args.skip_enrich,
        limit=args.limit,
    )
    print(site)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())

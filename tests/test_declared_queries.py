"""Every declared query with an oracle must hash-match DuckDB.

This is a local replica of the driver's t2 correctness gate
(CORRECTNESS_r{N}.json): same tables, same comparison semantics
(column names sorted, order-insensitive exact values).
"""

from __future__ import annotations

import pytest

from skoltexter_by_ai_spark.plans.registry import all_queries
from skoltexter_by_ai_spark.testing import compare_with_oracle

_QUERIES = all_queries()

#: 24 reference-pipeline queries (q01-q24) and 124 extensions (x01-x124).
DECLARED_QUERIES = 148


def test_registry_holds_every_declared_query():
    """A query module that fails to import must fail the suite, not
    shrink the registry: every one of them registers its queries."""
    assert len(_QUERIES) == DECLARED_QUERIES
    assert sum(n.startswith("q") for n in _QUERIES) == 24
    assert sum(n.startswith("x") for n in _QUERIES) == 124


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _QUERIES[name]
    df = spec.builder(spark, sf_dir)
    if spec.oracle is None:
        # Weaker rows-only check, mirroring the driver's fallback — but
        # never vacuous: the declared min_rows must be met.
        assert df.count() >= spec.min_rows, f"{name} below min_rows={spec.min_rows}"
        return
    report = compare_with_oracle(name, df, spec.oracle, sf_dir)
    assert report.ok, f"{name}: {report.detail} (rows {report.spark_rows}/{report.oracle_rows})"
    assert report.spark_rows >= spec.min_rows, f"{name} below min_rows={spec.min_rows}"


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_decimal_output_columns(spark, sf_dir, name):
    """DECIMAL result columns hash-drift at the driver's gate: Spark
    collects ``Decimal`` objects while DuckDB's pandas conversion
    renders float64, so identical values serialize differently
    (VERDICT r1: q18/x12/x14/x21/x23). Internal decimal arithmetic is
    fine — the *output boundary* must be engine-neutral (double,
    bigint, string)."""
    from pyspark.sql.types import DecimalType

    schema = _QUERIES[name].builder(spark, sf_dir).schema
    offenders = [f.name for f in schema.fields if isinstance(f.dataType, DecimalType)]
    assert not offenders, f"{name} emits decimal-typed columns: {offenders}"


def test_all_oracle_queries_return_rows(spark, sf_dir):
    """Guard against vacuous passes: the suite overall must exercise data."""
    total = 0
    for name, spec in _QUERIES.items():
        total += spec.builder(spark, sf_dir).count()
    assert total > 0

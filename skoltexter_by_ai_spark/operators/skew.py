"""Skew-handling helpers for hot aggregation/join keys.

At 100 TB a handful of hot keys (boilerplate documents, bot users)
can pin a shuffle partition. Two standard remedies live here:

- :func:`salted_agg` — two-stage aggregation: pre-aggregate on
  (key, salt) so a hot key's rows split across ``salt`` reducers, then
  combine partials per key. Only valid for algebraic aggregates
  (count/sum/min/max) — the decomposition is exact, proven by the x27
  oracle (salted result == plain GROUP BY).
- AQE's ``skewJoin`` (enabled in session.py) covers the join side;
  salting a join by replicating the build side is left to AQE, which
  does it adaptively from runtime statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# agg kinds: name -> (kind, source column or None)
_KINDS = ("count", "sum", "sum_decimal", "sum_cents", "min", "max")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    salt: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation, exact for algebraic aggregates.

    The salt only controls row routing — any assignment yields the
    same result (associativity), so a cheap ``monotonically_increasing_id
    % salt`` suffices and no determinism is lost.
    """
    partials, finals = [], []
    for name, (kind, col) in aggs.items():
        if kind not in _KINDS:
            raise ValueError(f"unsupported aggregate kind {kind!r}; use one of {_KINDS}")
        p = f"__p_{name}"
        if kind == "count":
            partials.append(F.count("*").alias(p))
            finals.append(F.sum(p).alias(name))
        elif kind == "sum":
            partials.append(F.sum(col).alias(p))
            finals.append(F.sum(p).alias(name))
        elif kind == "sum_decimal":
            partials.append(F.sum(F.col(col).cast("decimal(18,2)")).alias(p))
            finals.append(F.sum(p).cast("decimal(18,2)").alias(name))
        elif kind == "sum_cents":
            # 2-decimal money as exact integer cents: primitive long
            # adds in both stages (no per-row BigDecimal); caller
            # divides by 100 at the output boundary.
            partials.append(F.sum(F.round(F.col(col) * 100).cast("long")).alias(p))
            finals.append(F.sum(p).cast("long").alias(name))
        elif kind == "min":
            partials.append(F.min(col).alias(p))
            finals.append(F.min(p).alias(name))
        elif kind == "max":
            partials.append(F.max(col).alias(p))
            finals.append(F.max(p).alias(name))
    salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
    return (
        salted.groupBy(*keys, "__salt")
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    num_ranges: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Global running total WITHOUT a single-task global window.

    The naive ``Window.orderBy(...)`` running sum funnels every row
    through ONE task — the classic sweep-line/scan bottleneck at scale.
    This is the textbook two-phase parallel prefix sum instead:

    1. ``repartitionByRange(order_cols)`` — contiguous key ranges per
       partition, ``sortWithinPartitions`` for in-partition order;
    2. per-partition totals (tiny: one row per partition) come to the
       driver and become cumulative OFFSETS, broadcast back;
    3. one ``mapInPandas`` pass computes the in-partition cumulative
       sum with a carry across Arrow batches, plus the partition's
       offset.

    Cost: one range shuffle + two narrow passes; no step touches more
    than its partition. The driver materializes exactly
    ``num_partitions`` numbers.

    ``total_col``: when set, the GRAND total (a by-product of the
    offsets pass — the driver already holds it) is attached as a
    literal column of that name, so callers needing N (e.g. exact
    NTILE arithmetic) don't re-aggregate the mapInPandas output in a
    second full pass.
    """
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    n = num_ranges or df.sparkSession.sparkContext.defaultParallelism or 8
    # The pin holds ONE materialization of the range shuffle:
    # repartitionByRange picks its boundaries by sampling, so two
    # independent executions (the totals pass and the cumsum pass)
    # could partition differently — offsets would then be credited to
    # the wrong ranges. Checkpointing makes both passes read the same
    # physical partitions.
    from skoltexter_by_ai_spark.operators.pinning import pin

    # Lazy: the totals collect below is the first action and
    # materializes the checkpoint in the same cascade (one fewer
    # synchronous job round-trip per call).
    ranged = pin(
        df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols),
        eager=False,
    )
    totals = (
        ranged.groupBy(F.spark_partition_id().alias("__pid"))
        .agg(F.sum(value_col).alias("__t"))
        .collect()
    )
    by_pid = {r["__pid"]: r["__t"] or 0 for r in totals}
    offsets = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, df.schema[value_col].dataType)]
    )

    def cumsum(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry = offsets.get(pid, 0)
        for pdf in iterator:
            vals = pdf[value_col].fillna(0)
            running = vals.cumsum() + carry
            if len(running):
                carry = running.iloc[-1]
            out = pdf.copy()
            out[out_col] = running
            yield out

    out = ranged.mapInPandas(cumsum, out_schema)
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(acc))
    return out

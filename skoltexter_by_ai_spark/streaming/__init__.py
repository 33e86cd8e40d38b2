"""Structured Streaming surface over the ``events`` stream.

The reference has no streaming code (SURVEY.md §1.1: "No streams ...
exist in the reference"); this module is the §7.6 extension: the same
event-time aggregations exposed batch-side (x12/x14 in the declared
registry) re-expressed as incremental streaming plans, plus streaming
dedup and a custom stateful operator.

Design rules:
- every transformation here takes a DataFrame and returns a DataFrame,
  and works identically on a batch frame and a ``readStream`` frame —
  tests assert streaming == batch on the same files;
- watermarks bound state (100 TB posture: state store size is
  watermark-window x key cardinality, independent of stream length);
- shuffle keys are the aggregation keys (window/user_id), so state
  locality matches data locality.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# Reference shape of events.parquet (ts physical type varies by fixture
# generation — TIMESTAMP(NANOS) reads as a long, TIMESTAMP(MICROS) as a
# timestamp; read_events_stream peeks the actual files).
EVENTS_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # nanoseconds since epoch
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events parquet files in ``source_dir``.

    Emits the same columns as the batch loader
    (:func:`skoltexter_by_ai_spark.sources.tables.load_table`):
    ``ts`` TIMESTAMP (microsecond), ``ts_ns`` raw nanos.

    The streaming file source needs an explicit schema; it is peeked
    from the existing files with a batch footer read (driver-side,
    metadata only) so the stream tracks whichever ``ts`` physical type
    the writer used (see ``sources.tables.normalize_events_ts``).

    Scale: the file source lists + checkpoints processed files;
    ``max_files_per_trigger`` bounds per-batch work for backfills.
    """
    from skoltexter_by_ai_spark.sources.tables import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    file_schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(file_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(source_dir))


def hourly_rollup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour rollup by event_type — streaming twin of the
    batch query ``x12_events_hourly_rollup`` (same output schema).

    Watermark bounds state: windows older than max(event time) -
    ``watermark`` are finalized and evicted. Late rows beyond the
    watermark are dropped (counted by the streaming UI metrics).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("__w.start")).alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Per-user sessions with a ``gap`` inactivity timeout.

    Built on ``session_window`` (merge events whose windows overlap;
    window end is exclusive, so a gap of exactly 30 minutes starts a
    new session). Works identically in batch and streaming — the batch
    variant is declared as x14 with a gaps-and-islands DuckDB oracle.

    Output: (user_id, session_start epoch-sec, n_events, total_value).
    Scale: state per (user, open session) only; the shuffle key is
    user_id so session merging is local to one task.
    """
    is_streaming = events.isStreaming
    if is_streaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("__w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("__w.start")).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop replayed events by ``event_id`` within the watermark.

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per id
    and evicts ids once the watermark passes — bounded state, which
    plain ``dropDuplicates`` on a stream does not give (it keeps every
    id forever). Exactly the reference's idempotent re-run discipline
    (X9, program2_ai_processor.py:543-550) moved into event time.
    """
    deduped = events.withWatermark("ts", watermark)
    if events.isStreaming:
        return deduped.dropDuplicatesWithinWatermark(["event_id"])
    return deduped.dropDuplicates(["event_id"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    window_seconds: float = 600.0,
    watermark: str = "1 hour",
    suffix: str = "_right",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) join: pairs on the same key with
    ``left.ts <= right.ts < left.ts + window_seconds``.

    ``how='left_outer'`` keeps unmatched left rows (right columns
    NULL) — in streaming, outer rows emit only once the watermark
    proves no match can still arrive, which is why outer stream-stream
    joins REQUIRE watermarks on both sides. In streaming mode both
    sides carry a watermark and the time-range condition bounds the
    join state: rows age out once the watermark passes their window
    (Spark derives the state retention from the range predicate).
    Batch frames take the identical plan minus watermarks — tests
    assert stream == batch on the same files for both join types.
    """
    l_side = left.withWatermark(ts_col, watermark) if left.isStreaming else left
    r_named = right.select(
        F.col(on).alias("__on_r"),
        F.col(ts_col).alias("__ts_r"),
        *[
            F.col(c).alias(f"{c}{suffix}")
            for c in right.columns
            if c not in (on, ts_col)
        ],
    )
    r_side = r_named.withWatermark("__ts_r", watermark) if right.isStreaming else r_named
    cond = (
        (F.col(on) == F.col("__on_r"))
        & (F.col("__ts_r") >= F.col(ts_col))
        & (F.col("__ts_r") < F.col(ts_col) + F.expr(f"INTERVAL {int(window_seconds)} SECONDS"))
    )
    return (
        l_side.join(r_side, cond, how)
        .drop("__on_r")
        .withColumnRenamed("__ts_r", f"{ts_col}{suffix}")
    )


USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def user_running_stats(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max).

    The ``applyInPandasWithState`` template for operators Spark lacks:
    grouped Arrow batches + explicit per-key state + processing-time
    timeout. Batch frames take the equivalent groupBy/agg path so the
    operator is one function for both modes (tests assert parity).

    Scale: state is 3 numbers per user; the shuffle key is user_id.
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            n += len(pdf)
            total += float(vals.sum())
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((n, total, mx))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx if mx != float("-inf") else None],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


EMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("ema", DoubleType()),
    ]
)

_EMA_STATE = StructType(
    [StructField("n", LongType()), StructField("ema", DoubleType())]
)


def user_ema(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user exponential moving average — the streaming twin of the
    x91 batch fold, carried as two numbers of state per user.

    Batch frames take the identical ordered-array-fold path as x91
    (tests assert parity); streams fold each micro-batch's rows in
    (ts_ns, event_id) order on top of the persisted (n, ema) state.
    The recurrence is the same left fold either way, so a stream
    replaying the batch's files converges to the batch answer exactly.
    """
    if not events.isStreaming:
        src = events.filter(F.col("value").isNotNull())
        seq = src.groupBy("user_id").agg(
            F.array_sort(
                F.collect_list(F.struct("ts_ns", "event_id", "value"))
            ).alias("arr")
        )
        vals = F.transform(F.col("arr"), lambda s: s["value"].cast("double"))
        staged = seq.select("user_id", vals.alias("vals"))
        ema = F.aggregate(
            F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
            F.element_at(F.col("vals"), 1),
            lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
        )
        return staged.select(
            "user_id", F.size("vals").cast("bigint").alias("n"), ema.alias("ema")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, ema = state.get if state.exists else (0, None)
        if n == 0:
            # State tuples are fixed-width, so "no values yet" was
            # stored as ema=0.0; restore None so the first real value
            # SEEDS the fold (ema := v) instead of mixing with a
            # phantom 0.0 — exactly the batch fold's semantics.
            ema = None
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["value"]).sort_values(["ts_ns", "event_id"])
            for v in pdf["value"].astype(float):
                ema = v if ema is None else alpha * v + (1.0 - alpha) * ema
                n += 1
        if n == 0:
            # Micro-batch carried only NULL values for this key: the
            # batch twin emits no row for it, so neither do we, and
            # there is nothing worth persisting.
            return
        state.update((n, ema))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ema": [ema]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EMA_SCHEMA,
        stateStructType=_EMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into a
    memory sink and return the result as a batch DataFrame.

    Test/dev helper — production sinks are parquet/kafka via
    ``writeStream`` directly.
    """
    query = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return df.sparkSession.table(query_name)


def run_to_parquet(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Execute a streaming frame to completion (availableNow) into a
    parquet directory sink — the durable production shape.

    Exactly-once: the file sink commits each micro-batch's files
    through the checkpoint's write-ahead log, so a restart with the
    SAME checkpoint_dir resumes after the last committed batch and
    never duplicates rows (tested by running twice over a static
    source). ``partition_by`` applies directory partitioning at the
    sink (same pruning lever as sources.sinks.write_partitioned).
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    query = writer.start()
    query.awaitTermination()


def windowed_type_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling-hour counts per event_type — the first phase of the
    trending-top-k view. Works on batch and streaming frames alike.

    Output: (hour_start epoch-sec, event_type, n, seq) where ``seq``
    is the count itself: for an append-style count stream, a bigger
    count per (window, type) supersedes a smaller one, so the count
    doubles as the upsert sequence for :func:`upsert_to_parquet`.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("__w.start")).alias("hour_start"),
            "event_type",
            "n",
            F.col("n").alias("seq"),
        )
    )


def daily_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day volume counts — the incremental half of the
    x113 daily-anomaly screen. Works on batch and streaming frames
    alike; day bucketing (UTC ``window('1 day')`` start) equals the
    batch query's ``date_trunc('day', ts)``.

    Output: (day_start epoch-sec, n, seq). ``seq`` mirrors
    :func:`windowed_type_counts`: a bigger count per day supersedes a
    smaller one, so the count itself sequences
    :func:`upsert_to_parquet`. State is one row per open day within
    the watermark — constant for any stream length.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 day").alias("__w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("__w.start")).alias("day_start"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n").cast("bigint").alias("seq"),
        )
    )


def volume_stats(daily: DataFrame) -> DataFrame:
    """Series-level mean/stddev snapshot over a (static) daily-count
    frame — the broadcast side of :func:`daily_volume_anomaly`. One
    row; recomputed from the upsert snapshot on whatever cadence the
    caller wants the anomaly baseline to move."""
    return daily.agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )


def daily_volume_anomaly(daily: DataFrame, stats: DataFrame) -> DataFrame:
    """Score each day's volume against the broadcast stats snapshot —
    the streaming twin of the declared batch query
    ``x113_daily_volume_anomaly`` (identical output schema and
    arithmetic: z = (n − mu)/sd rounded to 6, |z| > 2 flagged).

    Streaming cannot nest the series-wide mean/stddev under the
    per-day aggregation in one query (an aggregate OVER an
    aggregate); the composition that scales is :func:`daily_counts`
    in `update` mode → :func:`upsert_to_parquet` keyed on day_start →
    this scoring at read time over the day-count snapshot (days-sized,
    not event-sized), with :func:`volume_stats` refreshed from the
    same snapshot. Tested as exactly that composition against the
    batch query in tests/test_streaming.py.
    """
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return daily.join(F.broadcast(stats)).select(
        "day_start",
        F.col("n").cast("bigint").alias("n"),
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > 2, F.lit(1)).otherwise(F.lit(0)).cast("int").alias(
            "is_anomaly"
        ),
    )


def trending_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Second phase: rank each window's types by count, keep the top
    ``k`` (count desc, type asc tiebreak — deterministic).

    Streaming cannot chain a rank onto an aggregation in one query
    (chained stateful operators); the composition that scales is
    phase 1 in `update` mode → :func:`upsert_to_parquet` keyed on
    (hour_start, event_type) → this rank at read time over the
    snapshot (window-count sized, not event sized). Tested as exactly
    that composition in tests/test_streaming.py.
    """
    w = (
        Window.partitionBy("hour_start")
        .orderBy(F.col("n").desc(), F.col("event_type").asc())
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("hour_start", "event_type", "n", F.col("rank").cast("int").alias("rank"))
    )


def upsert_to_parquet(
    changes: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_col: str,
) -> None:
    """Streaming materialized upsert view: fold a change stream into a
    versioned parquet snapshot, one keep-last merge per micro-batch.

    The streaming twin of ``operators.cdc.merge_upserts`` — what a
    Delta/Hudi MERGE INTO gives you, built from primitives: each batch
    unions the previous snapshot with the new changes and re-folds.
    Tombstone rows are RETAINED in the snapshot (filtered at read time
    by :func:`read_upsert_snapshot`) so a late-arriving lower-seq
    upsert can never resurrect a deleted key.

    Each batch writes a full snapshot under ``{base_dir}/v{batch_id}``
    then atomically repoints ``{base_dir}/LATEST`` — never rewriting a
    directory that is being read, and idempotent under batch replay
    (a re-run of batch N overwrites ``v{N}`` with identical content,
    so exactly-once follows from the checkpoint WAL).

    Scale: per batch one key shuffle of snapshot ∪ changes. For 100 TB
    snapshots the production variant partitions by key-hash range and
    rewrites only partitions containing changed keys; the versioned-
    snapshot + pointer discipline stays the same.
    """
    import os

    from skoltexter_by_ai_spark.operators.cdc import merge_upserts

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = os.path.join(base_dir, "LATEST")
        if os.path.exists(latest):
            with open(latest, encoding="utf-8") as fh:
                prev = os.path.join(base_dir, fh.read().strip())
            merged_in = spark.read.parquet(prev).unionByName(batch_df)
        else:
            merged_in = batch_df
        snap = merge_upserts(merged_in, key_cols, seq_col)  # tombstones kept
        out = os.path.join(base_dir, f"v{batch_id}")
        snap.write.mode("overwrite").parquet(out)
        tmp = latest + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(f"v{batch_id}")
        os.replace(tmp, latest)

    # Update mode: aggregated change sources (e.g. windowed counts)
    # must emit rows as they update — the default append mode holds
    # back windows the watermark has not finalized, silently dropping
    # the stream's trailing windows from the snapshot.
    query = (
        changes.writeStream.foreachBatch(_fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_upsert_snapshot(
    spark: SparkSession,
    base_dir: str,
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Read the current snapshot written by :func:`upsert_to_parquet`,
    dropping tombstone rows when ``op_col`` is given."""
    import os

    with open(os.path.join(base_dir, "LATEST"), encoding="utf-8") as fh:
        current = fh.read().strip()
    df = spark.read.parquet(os.path.join(base_dir, current))
    if op_col is not None:
        df = df.filter(F.col(op_col) != delete_op)
    return df


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension.

    The static side is planned per micro-batch, so the join is
    stateless — no watermark, no state store, and a ``left`` join
    never drops stream rows. With ``broadcast_dim`` (default) the
    dimension ships to executors once per batch instead of shuffling
    the stream: the right shape for the classic fact-stream ×
    dimension-table enrichment. Works identically on batch frames, so
    tests can assert stream == batch on the same inputs.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def dedup_against_index(
    incoming: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Streaming incremental EXACT dedup: drop every incoming document
    whose text fingerprint (md5 of the raw text) already exists in a
    STATIC index frame — the streaming twin of the batch
    keep-first/anti-join dedup family
    (`operators/dedup.py::exact_dedup`, x01) and the exact-match tier
    of the incremental screen (x122). Plans as a stream-static LEFT
    ANTI join, which Structured Streaming runs stateless in append
    mode: no watermark, no state store — each micro-batch probes the
    index and forwards only unseen docs.

    ``index`` carries one ``fp_col`` column of md5 hex fingerprints
    (produce it with the same ``F.md5(text)`` — pure column expr, so
    stored and fresh fingerprints agree). At scale the index is a
    persisted table; AQE/size stats decide the join strategy per
    micro-batch.

    Output schema == incoming schema: the working ``fp_col`` is
    dropped after the anti join (ADVICE r8 — survivors previously
    leaked the extra column). NULL-text rows hash to a NULL
    fingerprint, and NULL never equi-matches in a join, so they ALWAYS
    survive regardless of index contents — deliberate: a document with
    no text has no dedup identity, and silently dropping it would lose
    data; filter NULL text upstream if that is the intent (behavior
    pinned in tests/test_streaming.py).

    ``fp_col`` must NOT already exist on ``incoming`` — the working
    column is added and dropped internally, so a pre-existing column of
    that name would be silently overwritten and then removed, breaking
    the schema contract above; the guard raises instead (ADVICE r9).

    The NEAR-dup tier of the same flow is the batch operator applied
    per micro-batch (it caches nothing, so a long-running stream has
    nothing to release)::

        def _sink(b, _):
            sink(incremental_near_dups(existing, b, ...))
        stream.writeStream.foreachBatch(_sink)

    — each batch is a plain DataFrame inside foreachBatch, so the
    banded-LSH screen runs unchanged (parity pinned in
    tests/test_streaming.py).
    """
    from pyspark.sql import functions as F

    if fp_col in incoming.columns:
        raise ValueError(
            f"dedup_against_index: incoming already has a column named "
            f"{fp_col!r}; pass a different fp_col — the working "
            f"fingerprint column is added and dropped internally and "
            f"would destroy the existing column"
        )
    return (
        incoming.withColumn(fp_col, F.md5(F.col(text_col)))
        .join(index, fp_col, "left_anti")
        .drop(fp_col)
    )


def scrub_pii_stream(
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns=None,
) -> DataFrame:
    """Streaming twin of the PII scrub (`operators/curation.py::
    scrub_pii`, x123). The batch operator is already a narrow map of
    pure column expressions (sequential ``regexp_count`` +
    ``regexp_replace``) — zero shuffles, zero state — so the twin IS
    the batch builder applied to a streaming DataFrame: stateless in
    append mode, no watermark, no state store, every micro-batch
    scrubbed identically to a batch pass over the same rows
    (parity pinned in tests/test_streaming.py). The wrapper exists so
    the streaming surface names the gate explicitly, matching the
    twin discipline of the other curation operators."""
    from skoltexter_by_ai_spark.operators.curation import PII_PATTERNS, scrub_pii

    return scrub_pii(
        incoming, id_col, text_col, PII_PATTERNS if patterns is None else patterns
    )


def decontaminate_stream(
    incoming: DataFrame,
    evals: DataFrame,
    n: int = 3,
    min_overlap: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_self: bool = True,
) -> DataFrame:
    """Streaming twin of the benchmark-decontamination FILTER
    (`operators/curation.py::decontaminate`, x118): forward only the
    incoming documents whose text does NOT overlap any benchmark/eval
    document at or above ``min_overlap`` (fraction of the eval doc's
    distinct word n-grams present in the doc, rounded to 6 like the
    batch form before comparing).

    The batch operator's per-(train, eval) aggregation would be a
    stateful streaming agg; this twin restates it STATELESS by folding
    the eval side into ONE static row — an array of
    ``{eval_id, shingles}`` structs (benchmark sets are small by
    contract, the same bound that lets the batch scan broadcast its
    exploded eval shingles) — joined to every incoming row on a
    constant key (stream-static inner equi-join, stateless in append
    mode; the single-row static side broadcasts). Contamination is
    then a pure in-row ``exists`` over the array:
    ``|intersect(doc_shingles, e.shingles)| / |e.shingles|``.
    Value parity with the batch filter is pinned in
    tests/test_streaming.py.

    No watermark, no state store; each micro-batch re-resolves the
    static side, so persist ``evals``'s source for cheap re-reads (or
    pre-materialize the folded row) in production. NULL/empty text
    shingles to an empty array, never matches, and always survives —
    identical to the batch anti-join behavior.
    """
    from skoltexter_by_ai_spark.operators.dedup import word_shingles

    ev = (
        evals.select(
            F.col(id_col).alias("__eval_id"),
            word_shingles(text_col, n).alias("__esh"),
        )
        .filter(F.size("__esh") > 0)
        .agg(F.collect_list(F.struct("__eval_id", "__esh")).alias("__evals"))
        .withColumn("__k", F.lit(1))
    )

    def contaminated(e):
        frac = F.round(
            F.size(F.array_intersect(e["__esh"], F.col("__tsh"))).cast("double")
            / F.size(e["__esh"]).cast("double"),
            6,
        )
        hit = frac >= F.lit(float(min_overlap))
        if exclude_self:
            hit = hit & (e["__eval_id"] != F.col(id_col))
        return hit

    return (
        incoming.withColumn("__tsh", word_shingles(text_col, n))
        .withColumn("__k", F.lit(1))
        .join(ev, "__k")
        .where(~F.exists("__evals", contaminated))
        .drop("__tsh", "__evals", "__k")
    )

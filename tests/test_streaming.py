"""Structured Streaming tests: every streaming plan must match its
batch twin on the same files (the operators are mode-agnostic)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark import streaming
from skoltexter_by_ai_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    """File-source streams read a directory; stage the fixture file."""
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    return str(d)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_hourly_rollup_stream_matches_batch(spark, events_dir, tmp_path):
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.hourly_rollup(stream), "t_rollup", str(tmp_path / "ckpt"), "complete"
    )
    batch = streaming.hourly_rollup(load_table(spark, SF, "events").withWatermark("ts", "1 hour"))
    assert _rows(out, "hour_start", "event_type") == _rows(batch, "hour_start", "event_type")


def test_sessionize_stream_matches_batch(spark, events_dir, tmp_path):
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.sessionize(stream), "t_sess", str(tmp_path / "ckpt"), "complete"
    )
    batch = streaming.sessionize(load_table(spark, SF, "events"))
    assert _rows(out, "user_id", "session_start") == _rows(batch, "user_id", "session_start")


def test_dedup_stream_drops_replayed_file(spark, events_dir, tmp_path):
    # Replay: the same events land twice (two files) — exactly-once by
    # event_id must collapse them to one copy.
    shutil.copy(f"{SF}/events.parquet", f"{events_dir}/part-1-replay.parquet")
    stream = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    out = streaming.run_to_memory(
        streaming.dedup_stream(stream).select("event_id"),
        "t_dedup",
        str(tmp_path / "ckpt"),
        "append",
    )
    n_distinct = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.distinct().count() == n_distinct


def test_user_running_stats_stream_matches_batch(spark, events_dir, tmp_path):
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.user_running_stats(stream), "t_stats", str(tmp_path / "ckpt"), "update"
    )
    # Single input file -> single micro-batch -> one update row per user
    # holding the final state.
    batch = {r.user_id: r for r in streaming.user_running_stats(load_table(spark, SF, "events")).collect()}
    got = {r.user_id: r for r in out.collect()}
    assert set(got) == set(batch)
    for uid, g in got.items():
        b = batch[uid]
        assert g.n_events == b.n_events
        assert g.total_value == pytest.approx(b.total_value, rel=1e-9)
        assert g.max_value == pytest.approx(b.max_value, rel=1e-12)


def test_interval_join_stream_matches_batch(spark, events_dir, tmp_path):
    def clicks_views(df_source):
        clicks = df_source.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        views = df_source.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("view_id")
        )
        return streaming.interval_join(clicks, views, on="user_id", window_seconds=86400.0, watermark="2 days")

    stream_out = streaming.run_to_memory(
        clicks_views(streaming.read_events_stream(spark, events_dir)).select(
            "click_id", "view_id_right"
        ),
        "t_ij",
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = clicks_views(load_table(spark, SF, "events")).select("click_id", "view_id_right")
    got = {(r.click_id, r.view_id_right) for r in stream_out.collect()}
    want = {(r.click_id, r.view_id_right) for r in batch.collect()}
    assert got == want
    assert want, "fixture must produce at least one joined pair"


def test_sessionize_batch_sessions_are_disjoint(spark):
    events = load_table(spark, SF, "events")
    sess = streaming.sessionize(events, gap="30 minutes")
    # Session totals must partition the events exactly.
    assert sess.agg(F.sum("n_events")).collect()[0][0] == events.count()
    # No user may have two sessions closer than the gap.
    w = sess.alias("a").join(sess.alias("b"), "user_id")
    overlapping = w.filter(
        (F.col("a.session_start") < F.col("b.session_start"))
        & (F.col("b.session_start") - F.col("a.session_start") < 0)
    )
    assert overlapping.count() == 0


def test_parquet_sink_exactly_once_across_restart(spark, events_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_pq")

    def run():
        deduped = streaming.dedup_stream(
            streaming.read_events_stream(spark, events_dir), watermark="1 day"
        ).select("event_id", "user_id", "event_type")
        streaming.run_to_parquet(deduped, out, ckpt)

    run()
    first = spark.read.parquet(out).count()
    # Restart with the same checkpoint: the source has no new files, so
    # the committed state must carry over and emit nothing new.
    run()
    again = spark.read.parquet(out)
    assert again.count() == first
    assert again.select("event_id").distinct().count() == first

    batch_distinct = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert first == batch_distinct


def test_stream_static_enrichment_matches_batch(spark, events_dir, tmp_path):
    dim = spark.createDataFrame(
        [(i, f"tier{i % 3}") for i in range(200)], ["user_id", "tier"]
    )
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.enrich_with_dimension(stream, dim, "user_id").select(
            "event_id", "user_id", "tier"
        ),
        "t_enrich",
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = streaming.enrich_with_dimension(
        load_table(spark, SF, "events"), dim, "user_id"
    ).select("event_id", "user_id", "tier")
    assert _rows(out, "event_id") == _rows(batch, "event_id")


def test_stream_static_left_join_keeps_unmatched(spark, events_dir, tmp_path):
    # A dimension that misses most users: left semantics must keep
    # every stream row with NULL enrichment, never drop it.
    dim = spark.createDataFrame([(0, "only-user-0")], ["user_id", "tag"])
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.enrich_with_dimension(stream, dim, "user_id").select(
            "event_id", "tag"
        ),
        "t_enrich_left",
        str(tmp_path / "ckpt"),
        "append",
    )
    total = load_table(spark, SF, "events").count()
    assert out.count() == total
    assert out.filter(F.col("tag").isNull()).count() > 0


def test_streaming_upsert_snapshot_matches_batch_merge(spark, tmp_path):
    from skoltexter_by_ai_spark.operators import cdc

    # Change log split across two files = two micro-batches; later
    # batch carries higher sequences plus a tombstone.
    batch1 = [(1, 10, "a", "U"), (2, 11, "b", "U"), (3, 12, "c", "U")]
    batch2 = [(1, 20, "a2", "U"), (2, 21, None, "D"), (4, 22, "d", "U")]
    schema = "k long, seq long, payload string, op string"
    in_dir = tmp_path / "changes"
    in_dir.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(in_dir / "b2.parquet")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*.parquet"))
    )
    base = str(tmp_path / "snap")
    streaming.upsert_to_parquet(
        stream, base, str(tmp_path / "ckpt"), ["k"], "seq"
    )

    live = streaming.read_upsert_snapshot(spark, base, op_col="op")
    got = {r.k: (r.seq, r.payload) for r in live.collect()}
    all_changes = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r.k: (r.seq, r.payload)
        for r in cdc.merge_upserts(all_changes, ["k"], "seq", op_col="op").collect()
    }
    assert got == expect == {1: (20, "a2"), 3: (12, "c"), 4: (22, "d")}

    # Tombstones stay in the raw snapshot so late lower-seq upserts
    # cannot resurrect key 2.
    raw = streaming.read_upsert_snapshot(spark, base)
    assert {r.k for r in raw.collect()} == {1, 2, 3, 4}


def test_trending_topk_stream_composes_via_upsert_view(spark, events_dir, tmp_path):
    """Streaming cannot chain rank-after-agg in one query; the scaling
    composition is counts (update mode) -> upsert snapshot -> rank at
    read. The result must equal the batch twin exactly."""
    counts_stream = streaming.windowed_type_counts(
        streaming.read_events_stream(spark, events_dir)
    )
    base = str(tmp_path / "trend_snap")
    streaming.upsert_to_parquet(
        counts_stream,
        base,
        str(tmp_path / "ckpt"),
        ["hour_start", "event_type"],
        "seq",
    )
    snap = streaming.read_upsert_snapshot(spark, base).drop("seq")
    got = streaming.trending_topk(snap, k=3)

    batch = streaming.trending_topk(
        streaming.windowed_type_counts(load_table(spark, SF, "events")), k=3
    )
    assert _rows(got, "hour_start", "rank") == _rows(batch, "hour_start", "rank")


def test_daily_anomaly_stream_composes_and_matches_x113(spark, events_dir, tmp_path):
    """VERDICT r6 item 5 — streaming twin of the x113 daily-anomaly
    screen: watermarked tumbling daily counts (update mode) -> upsert
    snapshot -> broadcast stats + z-scoring at read time. Must equal
    the DECLARED batch query byte-for-byte (same schema, rounding,
    flag rule)."""
    from skoltexter_by_ai_spark.plans.registry import all_queries

    counts_stream = streaming.daily_counts(
        streaming.read_events_stream(spark, events_dir)
    )
    base = str(tmp_path / "daily_snap")
    streaming.upsert_to_parquet(
        counts_stream, base, str(tmp_path / "ckpt"), ["day_start"], "seq"
    )
    snap = streaming.read_upsert_snapshot(spark, base).drop("seq")
    got = streaming.daily_volume_anomaly(snap, streaming.volume_stats(snap))

    batch = all_queries()["x113_daily_volume_anomaly"].builder(spark, SF)
    assert got.columns == batch.columns
    assert _rows(got, "day_start") == _rows(batch, "day_start")
    # The screen is live: the fixture window must contain flagged days
    # or the parity above proves nothing about the anomaly rule.
    assert any(r.is_anomaly == 1 for r in batch.collect())


def test_left_outer_interval_join_stream_matches_batch(spark, events_dir, tmp_path):
    """Outer stream-stream join: unmatched clicks must emit with NULL
    right columns once the watermark proves no view can still arrive."""
    def clicks_views(df_source, how):
        clicks = df_source.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        views = df_source.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("view_id")
        )
        return streaming.interval_join(
            clicks, views, on="user_id", window_seconds=600.0,
            watermark="30 minutes", how=how,
        )

    stream_out = streaming.run_to_memory(
        clicks_views(streaming.read_events_stream(spark, events_dir), "left_outer")
        .select("click_id", "view_id_right"),
        "t_loij",
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = clicks_views(load_table(spark, SF, "events"), "left_outer").select(
        "click_id", "view_id_right"
    )
    got = {(r.click_id, r.view_id_right) for r in stream_out.collect()}
    want = {(r.click_id, r.view_id_right) for r in batch.collect()}
    # Streaming may withhold a NULL-extended row until state eviction
    # proves no match can still arrive; rows still in state when an
    # availableNow stream ends never emit their NULL form. So the
    # streamed result is a subset of batch where the difference is
    # only withheld NULL rows — matched pairs must agree exactly.
    assert got <= want
    assert {p for p in got if p[1] is not None} == {
        p for p in want if p[1] is not None
    }
    withheld = want - got
    assert all(v is None for _, v in withheld), withheld
    # The outer semantics must actually fire for finalized state: the
    # stream emitted at least one NULL-extended click, and batch shows
    # the full outer row set.
    assert any(v is None for _, v in got)
    assert any(v is None for _, v in want)


def test_llm_enrich_runs_on_a_stream(spark, tmp_path):
    """The reference's heart (X1-X10) composed with Structured
    Streaming: a document stream flows through the SAME llm_enrich
    mapInPandas stage as batch, into a checkpointed parquet sink —
    streaming ingestion -> async LLM map -> durable side outputs."""
    from skoltexter_by_ai_spark.operators.enrich import (
        EnrichConfig,
        ScriptedTransport,
        llm_enrich,
    )

    tpl = "SYSTEM: You are a helpful writer.\nUSER: Write about:\n{school_data}"
    keys = [f"S{i:03d}" for i in range(12)]
    docs = spark.createDataFrame(
        [(k, f"doc for {k}") for k in keys], "school_code string, content string"
    )
    in_dir = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(in_dir)

    # S003 fails permanently (exhausts retries); S007 succeeds after a
    # retry — both paths must survive the streaming boundary.
    script = {
        "S003": [("status", 500, "boom")],
        "S007": [("status", 500, "flaky"), ("ok", "recovered S007")],
    }
    cfg = EnrichConfig(backoff_factor=0.001, retry_sleep_on_429=0.001, request_timeout=5.0)

    stream = spark.readStream.schema("school_code string, content string").parquet(in_dir)
    enriched = llm_enrich(
        stream, tpl, ScriptedTransport(script), cfg, num_partitions=2
    )
    out_dir = str(tmp_path / "enriched")
    streaming.run_to_parquet(
        enriched, out_dir, str(tmp_path / "ckpt"), output_mode="append"
    )

    got = {r.school_code: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got) == set(keys)
    assert not got["S003"].success and got["S003"].error_type == "HTTPError"
    assert got["S007"].success and got["S007"].content == "recovered S007"
    ok = [k for k in keys if k not in ("S003",)]
    assert all(got[k].success for k in ok)


def test_user_ema_stream_matches_batch_fold(spark, events_dir, tmp_path):
    """Stateful streaming EMA == the x91 batch array fold, to float64
    ulp (same left fold, different execution)."""
    stream = streaming.read_events_stream(spark, events_dir)
    out = streaming.run_to_memory(
        streaming.user_ema(stream), "t_ema", str(tmp_path / "ckpt"), "update"
    )
    batch = {r.user_id: r for r in streaming.user_ema(load_table(spark, SF, "events")).collect()}
    got = {r.user_id: r for r in out.collect()}
    assert set(got) == set(batch)
    for uid, g in got.items():
        assert g.n == batch[uid].n
        assert g.ema == pytest.approx(batch[uid].ema, rel=1e-12)


def test_user_ema_null_only_first_batch_seeds_with_first_value(spark, tmp_path):
    """A key whose FIRST micro-batch carries only NULL values must not
    poison the fold with a phantom ema=0.0: the first real value in a
    later batch seeds the recurrence (ema := v), exactly like the
    batch twin (ADVICE r2). The all-NULL batch also emits no row."""
    import glob
    import os

    schema = "user_id long, event_id long, ts_ns long, value double"
    in_dir = str(tmp_path / "ema_in")
    b1 = [(1, 1, 1_000, None), (2, 1, 1_000, 10.0)]
    b2 = [(1, 2, 2_000, 5.0), (2, 2, 2_000, 20.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    # The file source orders micro-batches by modification time; pin it
    # so b1's file is processed strictly first.
    files = sorted(glob.glob(f"{in_dir}/part-*.parquet"), key=os.path.getmtime)
    for i, f in enumerate(files):
        os.utime(f, (1_700_000_000 + 10 * i, 1_700_000_000 + 10 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = streaming.run_to_memory(
        streaming.user_ema(stream), "t_ema_nullseed", str(tmp_path / "ckpt"), "update"
    )
    rows = out.collect()

    # User 1's all-NULL first batch emits NO row; its single row comes
    # from batch 2, seeded with 5.0 — NOT 0.3*5 + 0.7*0.0 = 1.5.
    u1 = [r for r in rows if r.user_id == 1]
    assert len(u1) == 1
    assert u1[0].n == 1 and u1[0].ema == 5.0

    # User 2 updates in both batches; the final state is the batch fold.
    u2 = max((r for r in rows if r.user_id == 2), key=lambda r: r.n)
    assert u2.n == 2 and u2.ema == pytest.approx(0.3 * 20.0 + 0.7 * 10.0)

    # Parity with the batch twin over the union of both files.
    batch = {
        r.user_id: r
        for r in streaming.user_ema(spark.read.schema(schema).parquet(in_dir)).collect()
    }
    assert u1[0].ema == pytest.approx(batch[1].ema, rel=1e-12)
    assert u2.ema == pytest.approx(batch[2].ema, rel=1e-12)


def test_intra_doc_repetition_stream_matches_x115(spark, tmp_path):
    """VERDICT r7 item 5 — x115's streaming twin: the intra-document
    repetition gate is a stateless in-row projection, so the SAME
    operator runs unchanged on a document stream in append mode and
    must equal the declared batch query byte-for-byte."""
    from skoltexter_by_ai_spark.operators.text_analysis import intra_doc_repetition

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "part-0.parquet")
    batch_docs = load_table(spark, SF, "documents")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = streaming.run_to_memory(
        intra_doc_repetition(stream_docs, "doc_id", "text", n=2),
        "t_x115",
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = intra_doc_repetition(batch_docs, "doc_id", "text", n=2)
    assert out.columns == batch.columns
    assert _rows(out, "doc_id") == _rows(batch, "doc_id")


def test_curation_funnel_stream_matches_batch(spark, tmp_path):
    """The curation funnel is a stateless conditional aggregation, so
    the SAME operator runs on a document stream (complete mode) — the
    training-ingest shape: report gate survival as documents land."""
    from skoltexter_by_ai_spark.operators.text_analysis import curation_funnel

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "part-0.parquet")
    batch_docs = load_table(spark, SF, "documents")
    stream_docs = (
        spark.readStream.schema(batch_docs.schema).parquet(str(d))
    )
    out = streaming.run_to_memory(
        curation_funnel(stream_docs, "source", "text", lang_col="lang"),
        "t_funnel",
        str(tmp_path / "ckpt"),
        "complete",
    )
    batch = curation_funnel(batch_docs, "source", "text", lang_col="lang")
    assert _rows(out, "source") == _rows(batch, "source")


# --- round-8 mutation-gate killers (QUALITY.md r8). Stream==batch
# parity cannot see a value-law mutation (both sides share the code),
# so these pin ABSOLUTE values in batch mode. ---------------------------------


def test_sessionize_total_value_is_exact_cents_sum(spark):
    """total_value is SUM(value) via exact integer cents — x100, never
    x101 — so the session total of 0.10 + 0.20 is exactly 0.30."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 10, 0, 0), 7, "click", 0.10),
        (dt.datetime(2024, 1, 1, 10, 5, 0), 7, "view", 0.20),
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    out = streaming.sessionize(df).collect()
    assert len(out) == 1
    assert out[0].n_events == 2
    assert out[0].total_value == 0.30


def test_interval_join_includes_right_row_at_exact_left_ts(spark):
    """Boundary contract: left.ts <= right.ts (inclusive) — a right
    row at EXACTLY the left timestamp matches."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame([(1, t0)], "k long, ts timestamp")
    right = spark.createDataFrame([(1, t0)], "k long, ts timestamp")
    out = streaming.interval_join(left, right, "k", window_seconds=60.0)
    assert out.count() == 1
    # ...and the end is exclusive: a right row at ts + window misses.
    late = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=60))], "k long, ts timestamp"
    )
    assert streaming.interval_join(left, late, "k", window_seconds=60.0).count() == 0


def test_trending_topk_returns_exactly_k_rows(spark):
    """rank <= k is inclusive: with 3 types and k=2, each window emits
    exactly 2 rows (never k-1)."""
    import datetime as dt

    h = dt.datetime(2024, 1, 1, 10, 0, 0)
    counts = spark.createDataFrame(
        [(h, "click", 30), (h, "view", 20), (h, "error", 10)],
        "hour_start timestamp, event_type string, n long",
    )
    out = streaming.trending_topk(counts, k=2).collect()
    assert [(r.event_type, r.rank) for r in out] == [("click", 1), ("view", 2)]


def test_entropy_signals_stream_matches_x116(spark, tmp_path):
    """x116's streaming twin: entropy_signals is a stateless in-row
    projection — the SAME operator runs on a document stream in
    append mode and must equal the declared batch query."""
    from skoltexter_by_ai_spark.operators.text_analysis import entropy_signals

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "part-0.parquet")
    batch_docs = load_table(spark, SF, "documents")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = streaming.run_to_memory(
        entropy_signals(stream_docs, "doc_id", "text"),
        "t_x116",
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = entropy_signals(batch_docs, "doc_id", "text")
    assert out.columns == batch.columns
    assert _rows(out, "doc_id") == _rows(batch, "doc_id")


def test_dedup_against_index_stream_matches_batch(spark, tmp_path):
    """Streaming incremental exact dedup == the batch anti join on the
    same data: only docs whose md5 fingerprint is absent from the
    static index survive, stateless append mode (no watermark)."""
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.streaming import (
        dedup_against_index,
        run_to_memory,
    )

    src = tmp_path / "docs"
    rows = [(1, "seen before"), (2, "novel one"), (3, "seen before"), (4, "also new")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))
    index = spark.createDataFrame([("seen before",)], "t string").select(
        F.md5("t").alias("fp")
    )

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    got = run_to_memory(
        dedup_against_index(stream, index),
        "inc_dedup_t",
        str(tmp_path / "ck"),
        output_mode="append",
    )
    batch = dedup_against_index(
        spark.read.parquet(str(src)), index
    )
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in batch.collect()
    ) == [2, 4]
    # Output schema == incoming schema: the working fp column must not
    # leak into survivors (ADVICE r8).
    assert got.columns == ["doc_id", "text"]
    assert batch.columns == ["doc_id", "text"]


def test_dedup_against_index_null_text_passes_through(spark):
    """NULL text hashes to a NULL fingerprint, which never equi-matches
    in the anti join — such rows ALWAYS survive (documented contract:
    no dedup identity, filter upstream to drop them)."""
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.streaming import dedup_against_index

    docs = spark.createDataFrame(
        [(1, "seen"), (2, None), (3, "fresh")], "doc_id long, text string"
    )
    index = spark.createDataFrame([("seen",), (None,)], "t string").select(
        F.md5("t").alias("fp")
    )
    out = dedup_against_index(docs, index)
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    assert out.columns == ["doc_id", "text"]


def test_dedup_against_index_rejects_fp_col_collision(spark):
    """A pre-existing incoming column named fp_col would be silently
    overwritten by the working fingerprint and then dropped, breaking
    the output-schema==input-schema contract — the guard raises
    instead (ADVICE r9)."""
    import pytest
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.streaming import dedup_against_index

    docs = spark.createDataFrame(
        [(1, "a", "keep-me")], "doc_id long, text string, fp string"
    )
    index = spark.createDataFrame([("a",)], "t string").select(
        F.md5("t").alias("fp")
    )
    with pytest.raises(ValueError, match="fp"):
        dedup_against_index(docs, index)
    # renaming the working column (on BOTH sides — the index carries
    # the fp_col column by contract) restores the operator
    out = dedup_against_index(
        docs, index.withColumnRenamed("fp", "__fp"), fp_col="__fp"
    )
    assert out.columns == ["doc_id", "text", "fp"]
    assert out.count() == 0


def test_incremental_near_dups_runs_per_micro_batch(spark, tmp_path):
    """The LSH near-dup screen composes into streaming via
    foreachBatch: each micro-batch is a plain DataFrame, so
    incremental_near_dups runs unchanged against the static corpus and
    the union of per-batch outputs equals the one-shot batch result."""
    from skoltexter_by_ai_spark.operators.dedup import incremental_near_dups

    existing = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    incoming_rows = [
        (100, "alpha beta gamma delta epsilon eta"),
        (200, "totally unrelated words here now"),
    ]
    src = tmp_path / "incoming"
    spark.createDataFrame(incoming_rows, "doc_id long, text string").write.parquet(
        str(src)
    )

    seen: list = []

    def screen(batch_df, _bid):
        seen.extend(
            (r.new_id, r.existing_id, round(r.jaccard, 6))
            for r in incremental_near_dups(
                existing, batch_df, "doc_id", "text", min_jaccard=0.3
            ).collect()
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src))
        .writeStream.foreachBatch(screen)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = {
        (r.new_id, r.existing_id, round(r.jaccard, 6))
        for r in incremental_near_dups(
            existing,
            spark.read.parquet(str(src)),
            "doc_id",
            "text",
            min_jaccard=0.3,
        ).collect()
    }
    assert set(seen) == batch and any(p[0] == 100 and p[1] == 1 for p in batch)


def test_scrub_pii_stream_matches_batch(spark, tmp_path):
    """Streaming PII scrub == batch scrub on the same rows: identical
    clean_text and per-kind counts, NULL pass-through included. The
    twin is stateless append mode (narrow map, no watermark/state)."""
    from skoltexter_by_ai_spark.operators.curation import scrub_pii
    from skoltexter_by_ai_spark.streaming import run_to_memory, scrub_pii_stream

    rows = [
        (1, "mail bob@example.com or +4670123456 from 10.0.0.1"),
        (2, "no pii at all"),
        (3, None),
        (4, "two mails a@b.se c@d.org, ip 1.2.3.4"),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    got = run_to_memory(
        scrub_pii_stream(stream, "doc_id", "text"),
        "scrub_t",
        str(tmp_path / "ck_scrub"),
        output_mode="append",
    )
    batch = scrub_pii(spark.read.parquet(str(src)), "doc_id", "text")
    assert sorted(map(tuple, got.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, batch.collect()), key=lambda t: t[0]
    )
    assert got.columns == batch.columns
    by_id = {r.doc_id: r for r in got.collect()}
    assert by_id[1].n_email == 1 and by_id[1].n_ipv4 == 1 and by_id[1].n_phone == 1
    assert by_id[3].clean_text is None and by_id[3].n_redactions == 0
    assert by_id[4].n_email == 2 and by_id[4].n_redactions == 3


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Streaming decontamination == the batch filter on the same data:
    docs overlapping an eval doc at >= min_overlap (distinct 2-gram
    share of the EVAL doc) are dropped; exclude_self spares a doc from
    disqualifying itself; NULL/empty text always survives. The twin is
    stateless append mode (stream-static equi-join on a constant key,
    in-row exists) — no watermark, no state store."""
    from skoltexter_by_ai_spark.operators.curation import decontaminate
    from skoltexter_by_ai_spark.streaming import decontaminate_stream, run_to_memory

    rows = [
        (1, "the quick brown fox jumps"),   # superset of eval 10 -> dropped
        (2, "totally unrelated words here"),
        (3, "the quick red fox"),           # 1/3 of eval 10's shingles -> survives at 0.5
        (4, None),
        (5, ""),
        (10, "the quick brown fox"),        # same id as an eval: exclude_self spares it
    ]
    evals = [(10, "the quick brown fox"), (11, "alpha beta gamma")]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))
    ev = spark.createDataFrame(evals, "doc_id long, text string")

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    got = run_to_memory(
        decontaminate_stream(stream, ev, n=2, min_overlap=0.5),
        "decon_t",
        str(tmp_path / "ck"),
        output_mode="append",
    )
    batch = decontaminate(
        spark.read.parquet(str(src)), ev, n=2, min_overlap=0.5
    )
    assert (
        sorted(r.doc_id for r in got.collect())
        == sorted(r.doc_id for r in batch.collect())
        == [2, 3, 4, 5, 10]
    )
    # schema passes through unchanged (no working columns leak)
    assert got.columns == ["doc_id", "text"]

    # exclude_self=False: doc 10 now disqualifies itself; and an empty
    # eval set keeps everything (the folded static row is an empty
    # array, never a dropped join).
    strict = decontaminate_stream(
        spark.read.parquet(str(src)), ev, n=2, min_overlap=0.5, exclude_self=False
    )
    assert sorted(r.doc_id for r in strict.collect()) == [2, 3, 4, 5]
    empty_ev = ev.filter("doc_id < 0")
    keep_all = decontaminate_stream(
        spark.read.parquet(str(src)), empty_ev, n=2, min_overlap=0.5
    )
    assert keep_all.count() == len(rows)


def test_sessionize_total_value_fixed_point_exact(spark):
    """total_value is cents-exact fixed point: sum(round(value*100))/100.
    Golden values with fractional cents pin BOTH constants (mutation
    sweep r10: the *100//100 pair had no value-level assertion)."""
    import datetime

    rows = [
        ("u", datetime.datetime(2024, 1, 1, 10, 0, 0), 1, 1.23),
        ("u", datetime.datetime(2024, 1, 1, 10, 1, 0), 2, 2.50),
        ("u", datetime.datetime(2024, 1, 1, 10, 2, 0), 3, 0.07),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long, value double")
    got = streaming.sessionize(df, gap="30 minutes").collect()
    assert len(got) == 1
    assert got[0].n_events == 3
    assert got[0].total_value == 3.80  # exactly, no float drift


def test_decontaminate_stream_default_shingle_size(spark):
    """n=3 is the documented default: a 3-token eval doc has exactly
    one 3-shingle, so an incoming doc containing it is dropped under
    the default but would SURVIVE at n=4 (the eval side has no
    4-shingles at all and filters out) — the fixture discriminates
    the default (mutation sweep r10)."""
    from skoltexter_by_ai_spark.streaming import decontaminate_stream

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma extra"), (2, "clean words only here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(10, "alpha beta gamma")], "doc_id long, text string")
    got = sorted(r.doc_id for r in decontaminate_stream(docs, ev).collect())
    assert got == [2]
    # explicit n=4: the eval doc contributes no shingles, nothing drops
    got4 = sorted(r.doc_id for r in decontaminate_stream(docs, ev, n=4).collect())
    assert got4 == [1, 2]


def test_hourly_rollup_total_value_fixed_point_exact(spark):
    """hourly_rollup's total_value is the same cents-exact fixed point
    as sessionize's — golden fractional values pin the *100/100 pair
    (mutation sweep r10: stream-vs-batch parity can't see it, both
    sides mutate together)."""
    import datetime

    rows = [
        ("click", datetime.datetime(2024, 1, 1, 10, 5, 0), 1, 1, 1.23),
        ("click", datetime.datetime(2024, 1, 1, 10, 55, 0), 2, 2, 2.50),
        ("view", datetime.datetime(2024, 1, 1, 10, 7, 0), 3, 3, 0.07),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, user_id long, value double"
    )
    got = {r.event_type: r for r in streaming.hourly_rollup(df).collect()}
    assert got["click"].total_value == 3.73  # exactly
    assert got["view"].total_value == 0.07


def test_daily_volume_anomaly_threshold_is_strict(spark):
    """|z| == 2 exactly is NOT an anomaly (strict >): n=30, mu=20,
    sd=5 gives z=2.0; n=31 gives z=2.2 and flags."""
    daily = spark.createDataFrame(
        [(1000, 30), (2000, 31), (3000, 20)], "day_start long, n long"
    )
    stats = spark.createDataFrame([(20.0, 5.0)], "mu double, sd double")
    got = {r.day_start: r for r in streaming.daily_volume_anomaly(daily, stats).collect()}
    assert (got[1000].z, got[1000].is_anomaly) == (2.0, 0)
    assert (got[2000].z, got[2000].is_anomaly) == (2.2, 1)
    assert (got[3000].z, got[3000].is_anomaly) == (0.0, 0)


def test_enrich_with_dimension_broadcasts_by_default(spark):
    """broadcast_dim=True is the documented scale contract: the
    dimension side must carry the broadcast hint so a 100 TB stream
    never shuffles against it. Checked at the analyzed-plan level
    (AQE would mask it at fixture size by broadcasting anyway)."""
    events = load_table(spark, SF, "events")
    dim = spark.createDataFrame([(0, "t")], ["user_id", "tag"])
    plan = (
        streaming.enrich_with_dimension(events, dim, "user_id")
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "strategy=broadcast" in plan
    plan_off = (
        streaming.enrich_with_dimension(events, dim, "user_id", broadcast_dim=False)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "strategy=broadcast" not in plan_off

"""LLM enrichment stage tests — the reference's async test matrix
(tests/test_program2_all.py scenarios) run against our mapInPandas
stage with a scripted fake transport. No network anywhere."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators import enrich
from skoltexter_by_ai_spark.operators.enrich import (
    EnrichConfig,
    ScriptedTransport,
    build_payload,
    clean_ai_response,
    incremental_inputs,
    llm_enrich,
    side_outputs,
)

TPL = "SYSTEM: You are a helpful writer.\nUSER: Describe this school:\n{school_data}"

FAST = EnrichConfig(backoff_factor=0.001, retry_sleep_on_429=0.001, request_timeout=5.0)


def _docs(spark, keys):
    return spark.createDataFrame([(k, f"doc for {k}") for k in keys], ["school_code", "content"])


def _run(spark, script, keys, cfg=FAST):
    out = llm_enrich(_docs(spark, keys), TPL, ScriptedTransport(script), cfg, num_partitions=2)
    return {r.school_code: r for r in out.collect()}


# --- payload construction (F7/X10) -------------------------------------------


def test_build_payload_splits_markers():
    payload = build_payload(TPL, "DATA", EnrichConfig())
    assert payload["messages"][0] == {"role": "system", "content": "You are a helpful writer."}
    assert payload["messages"][1]["role"] == "user"
    assert "DATA" in payload["messages"][1]["content"]
    assert payload["max_tokens"] == 2048 and payload["temperature"] == 0.10


def test_build_payload_missing_markers_raises():
    with pytest.raises(ValueError, match="SYSTEM"):
        build_payload("no markers here {school_data}", "x", EnrichConfig())


# --- fence cleanup (F6), reference doctests ----------------------------------


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("hello", "hello"),
        ("```code```", "code"),
        ("```markdown\n# T\nbody\n```", "# T\nbody"),
        ("```\nplain\n```", "plain"),
        ("```MARKDOWN\nx\n```", "x"),  # case-insensitive language tag
        ("```markdown partial without closing", "partial without closing"),
        # No separator after the fence tag: the prefix cut must remove
        # exactly len('```markdown') / len('```') characters.
        ("```markdownBody without space", "Body without space"),
        ("```Xunfenced tail", "Xunfenced tail"),
        ("trailing only```", "trailing only"),
        ("  \n```python\nprint(1)\n```\n  ", "print(1)"),
    ],
)
def test_clean_ai_response(raw, expected):
    assert clean_ai_response(raw) == expected


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("hello", "hello"),
        ("```code```", "code"),
        ("```markdown\n# Title\nBody\n```", "# Title\nBody"),
        ("```\njust fenced\n```", "just fenced"),
    ],
)
def test_call_llm_returns_fence_stripped_content(raw, expected):
    """The 200 path of call_llm hands back the cleaned content and the
    untouched raw response, in-process (no Spark)."""
    import asyncio as aio

    transport = ScriptedTransport({"k": [("ok", raw)]})
    payload = build_payload(TPL, "doc", FAST)
    ok, content, raw_response, err_type, _msg = aio.run(
        enrich.call_llm(transport, "k", payload, FAST, enrich.RateLimiter(1e12))
    )
    assert ok is True and err_type is None
    assert content == expected
    assert json.loads(raw_response)["choices"][0]["message"]["content"] == raw


# --- the retry matrix (X1/X4-X7) ---------------------------------------------


def test_success_path_strips_fences(spark):
    out = _run(spark, {"s1": [("ok", "```markdown\n# Hi\n```")]}, ["s1"])
    assert out["s1"].success is True
    assert out["s1"].content == "# Hi"
    assert json.loads(out["s1"].raw_response)["choices"]


def test_429_then_success(spark):
    script = {"s1": [("status", 429, "slow down"), ("ok", "fine")]}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is True and out["s1"].content == "fine"


def test_500_exhausts_retries(spark):
    script = {"s1": [("status", 500, "boom")] * 4}
    out = _run(spark, script, ["s1"])
    r = out["s1"]
    assert r.success is False
    assert r.error_type == "HTTPError"
    assert "500" in r.error_message and "boom" in r.error_message


def test_invalid_json_fails_immediately_no_retry(spark):
    script = {"s1": [("raw", "this is not json"), ("ok", "should never be reached")]}
    transport = ScriptedTransport(script)
    out = llm_enrich(_docs(spark, ["s1"]), TPL, transport, FAST, num_partitions=1)
    r = out.collect()[0]
    assert r.success is False
    assert r.error_type == "InvalidJSON"
    assert r.raw_response == "this is not json"


def test_empty_choices_retries_then_succeeds(spark):
    script = {"s1": [("raw", '{"choices": []}'), ("ok", "recovered")]}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is True and out["s1"].content == "recovered"


def test_empty_choices_exhausts(spark):
    script = {"s1": [("raw", '{"choices": []}')] * 4}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is False and out["s1"].error_type == "EmptyChoices"


def test_empty_content_then_success(spark):
    script = {"s1": [("ok", ""), ("ok", "second try")]}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is True and out["s1"].content == "second try"


def test_empty_content_exhausts(spark):
    # Persistently-empty content must exhaust the retry budget and
    # report FAILURE (mutation gate r3: success=True here survived).
    script = {"s1": [("ok", "")] * 4}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is False and out["s1"].error_type == "EmptyContent"
    assert out["s1"].content is None


def test_default_retry_budget_is_exactly_four_attempts(spark, tmp_path):
    # Reference parity (src/config.py): max_retries=3 → 1 + 3 calls.
    # Counted through the filesystem because the transport runs in
    # executor Python workers.
    log = tmp_path / "calls.log"
    cfg = EnrichConfig(backoff_factor=0.001, retry_sleep_on_429=0.001, request_timeout=5.0)
    t = enrich.CallLogTransport(str(log), {"s1": [("status", 500, "boom")]})
    out = llm_enrich(_docs(spark, ["s1"]), TPL, t, cfg, num_partitions=1)
    rows = {r.school_code: r for r in out.collect()}
    assert rows["s1"].success is False
    assert open(log).read().count("s1") == 1 + cfg.max_retries == 4


def test_scripted_steps_advance_one_per_call(spark, tmp_path):
    # The scripted transport must replay steps IN ORDER, one per call:
    # recovery on the second step means exactly two calls, not a walk
    # through later failure steps.
    log = tmp_path / "calls.log"
    script = {
        "s1": [("status", 500, "x"), ("ok", "second"), ("status", 500, "x"), ("status", 500, "x")]
    }
    t = enrich.CallLogTransport(str(log), script)
    out = llm_enrich(_docs(spark, ["s1"]), TPL, t, FAST, num_partitions=1)
    rows = {r.school_code: r for r in out.collect()}
    assert rows["s1"].success is True and rows["s1"].content == "second"
    assert open(log).read().count("s1") == 2


def test_scripted_status_without_body_defaults_empty(spark):
    # A 2-tuple ("status", 500) step must default its body to "".
    script = {"s1": [("status", 500)] * 4}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is False and out["s1"].error_type == "HTTPError"


def test_network_error_then_success(spark):
    script = {"s1": [("network", "conn reset"), ("ok", "after retry")]}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is True


def test_network_error_exhausts(spark):
    script = {"s1": [("network", "conn reset")] * 4}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is False and out["s1"].error_type == "ClientError"
    assert "conn reset" in out["s1"].error_message


def test_timeout_exhausts(spark):
    script = {"s1": [("timeout",)] * 4}
    out = _run(spark, script, ["s1"])
    assert out["s1"].success is False and out["s1"].error_type == "TimeoutError"


def test_mixed_batch_isolates_failures(spark):
    script = {
        "bad": [("status", 500, "x")] * 4,
        "good": [("ok", "fine")],
        "flaky": [("status", 503, "y"), ("ok", "eventually")],
    }
    out = _run(spark, script, ["bad", "good", "flaky"])
    assert out["good"].success and out["flaky"].success and not out["bad"].success
    results = llm_enrich(
        _docs(spark, ["bad", "good", "flaky"]), TPL, ScriptedTransport(script), FAST, 2
    )
    ok, failed = side_outputs(results)
    assert ok.count() == 2 and failed.count() == 1


# --- incremental anti-join + limit (J2/X9/L1) --------------------------------


def test_incremental_skips_done_and_limits(spark):
    inputs = _docs(spark, [f"s{i}" for i in range(10)])
    done = spark.createDataFrame([("s0",), ("s5",)], ["school_code"])
    out = incremental_inputs(inputs, done, limit=3).collect()
    assert [r.school_code for r in out] == ["s1", "s2", "s3"]


def test_incremental_no_done_keeps_all(spark):
    inputs = _docs(spark, ["b", "a"])
    out = incremental_inputs(inputs, None).collect()
    assert [r.school_code for r in out] == ["a", "b"]  # deterministic order (O2)


# --- AiohttpTransport request construction (no network, no aiohttp) ----------


def _stub_aiohttp(calls: list):
    """Minimal aiohttp stand-in recording session.post(...) kwargs."""
    import types

    mod = types.ModuleType("aiohttp")

    class ClientError(Exception):
        pass

    class ClientTimeout:
        def __init__(self, total=None):
            self.total = total

        def __eq__(self, other):
            return isinstance(other, ClientTimeout) and other.total == self.total

    class _Response:
        status = 200

        async def text(self):
            return '{"choices": [{"message": {"content": "hi"}}]}'

    class _PostCM:
        async def __aenter__(self):
            return _Response()

        async def __aexit__(self, *exc):
            return False

    class ClientSession:
        async def __aenter__(self):
            return self

        async def __aexit__(self, *exc):
            return False

        def post(self, url, json=None, headers=None, timeout=None):
            calls.append({"url": url, "json": json, "headers": headers, "timeout": timeout})
            return _PostCM()

    mod.ClientError = ClientError
    mod.ClientTimeout = ClientTimeout
    mod.ClientSession = ClientSession
    return mod


def test_azure_endpoint_matches_reference_contract():
    """program2_ai_processor.py:153-168: base with trailing slash is
    stripped; deployment and api-version are spliced verbatim."""
    from skoltexter_by_ai_spark.operators.enrich import azure_chat_endpoint

    url = azure_chat_endpoint("https://acme.example.net/", "gpt-4o", "2024-02-01")
    assert url == (
        "https://acme.example.net/openai/deployments/gpt-4o/"
        "chat/completions?api-version=2024-02-01"
    )


def test_aiohttp_transport_request_shape(monkeypatch):
    """The transport must POST the payload to the configured endpoint
    with the api-key header and a total timeout — asserted against a
    stub aiohttp module, per the reference contract
    (program2_ai_processor.py:343-399)."""
    import asyncio
    import sys

    from skoltexter_by_ai_spark.operators import enrich

    calls: list = []
    monkeypatch.setitem(sys.modules, "aiohttp", _stub_aiohttp(calls))
    url = enrich.azure_chat_endpoint("https://acme.example.net", "gpt-4o", "2024-02-01")
    transport = enrich.AiohttpTransport(url, api_key="sekrit", timeout=123.0)
    payload = {"messages": [{"role": "user", "content": "x"}], "max_tokens": 5}
    result = asyncio.run(transport.post("doc-1", payload))

    assert result.status == 200 and "choices" in result.text
    (call,) = calls
    assert call["url"] == url
    assert call["json"] is payload
    assert call["headers"]["api-key"] == "sekrit"
    assert call["headers"]["Content-Type"] == "application/json"
    assert call["timeout"].total == 123.0


def test_aiohttp_transport_network_error_maps_to_transport_error(monkeypatch):
    import asyncio
    import sys
    import types

    from skoltexter_by_ai_spark.operators import enrich

    mod = _stub_aiohttp([])

    class _BoomSession(mod.ClientSession):
        def post(self, *a, **kw):
            raise mod.ClientError("boom")

    mod.ClientSession = _BoomSession
    monkeypatch.setitem(sys.modules, "aiohttp", mod)
    transport = enrich.AiohttpTransport("https://x/chat", api_key="k")
    with pytest.raises(enrich.TransportNetworkError):
        asyncio.run(transport.post("doc-1", {}))


# --- mutation-gate survivor kills (full-site run, round 4) --------------------
# Each test pins behavior a surviving mutant could change undetected:
# reference-parity config constants, marker-split slicing, limiter
# pacing, the 429/exception exhaustion paths, and error-body
# truncation bounds.


def test_config_defaults_match_reference_values():
    # src/config.py:91-100 parity — the defaults ARE the contract.
    cfg = EnrichConfig()
    assert (
        cfg.max_retries,
        cfg.backoff_factor,
        cfg.retry_sleep_on_429,
        cfg.request_timeout,
        cfg.max_concurrent,
        cfg.target_rpm,
        cfg.max_tokens,
        cfg.temperature,
    ) == (3, 2.0, 60.0, 300.0, 250, 10_000.0, 2048, 0.10)


def test_build_payload_one_missing_marker_raises():
    with pytest.raises(ValueError):
        build_payload("SYSTEM: sys only {school_data}", "x", EnrichConfig())
    with pytest.raises(ValueError):
        build_payload("USER: user only {school_data}", "x", EnrichConfig())


def test_build_payload_exact_slices():
    payload = build_payload(TPL, "DATA", EnrichConfig())
    assert payload["messages"][0]["content"] == "You are a helpful writer."
    assert payload["messages"][1]["content"] == "Describe this school:\nDATA"


def _acquire_starts(limiters, per_limiter: int) -> list[tuple[int, int, float]]:
    """Start ``per_limiter`` acquisitions on each limiter at once and
    return ``(limiter, acquisition, seconds until it was admitted)``
    for every one of them, in the order they were admitted."""
    import asyncio

    async def drain():
        loop = asyncio.get_running_loop()
        starts = []

        async def one(i, j):
            async with limiters[i]:
                starts.append((i, j, loop.time()))

        t0 = loop.time()
        await asyncio.gather(*(one(i, j) for i in range(len(limiters)) for j in range(per_limiter)))
        return [(i, j, t - t0) for i, j, t in starts]

    return asyncio.run(drain())


def test_rate_limiter_bursts_its_budget_then_paces_in_fifo_order():
    """The reference's AsyncLimiter(3, 0.6): a bucket of 3 admits 3 at
    once, then one every 0.2 s, in the order they asked. Starts are
    slots plus the loop's wake-up latency; 10% of the interval covers
    that latency on a loaded machine."""
    interval = 0.6 / 3
    starts = _acquire_starts([enrich.RateLimiter(3, period_s=0.6)], 6)
    assert [j for _, j, _ in starts] == list(range(6))
    times = [t for _, _, t in starts]
    assert max(times[:3]) < 0.5 * interval, times
    gaps = [b - a for a, b in zip(times[2:], times[3:])]
    assert min(gaps) >= 0.9 * interval, gaps


def test_rate_limiter_below_one_call_admits_one_then_paces():
    # 0.5 calls per 0.1 s: a bucket of one call, then one every 0.2 s.
    times = [t for _, _, t in _acquire_starts([enrich.RateLimiter(0.5, period_s=0.1)], 3)]
    assert times[0] < 0.1, times
    assert min(b - a for a, b in zip(times, times[1:])) >= 0.9 * 0.2, times


def test_split_limiters_burst_at_most_the_global_budget():
    """4 partitions' buckets of split_rpm(8, 4) admit 8 calls at once
    between them, then nothing for a whole interval (0.3 s)."""
    rate, parts, period = 8, 4, 0.6
    per = enrich.split_rpm(rate, parts)
    limiters = [enrich.RateLimiter(per, period_s=period) for _ in range(parts)]
    times = sorted(t for _, _, t in _acquire_starts(limiters, 3))
    interval = period / per
    assert sum(t < 0.5 * interval for t in times) == rate, times
    assert times[rate] >= 0.9 * interval, times


def test_rate_limiter_refills_while_idle_up_to_its_bucket():
    """After an idle spell of several intervals the bucket is full
    again, but no fuller: 2 go at once, the third waits an interval."""
    import asyncio

    async def run():
        loop = asyncio.get_running_loop()
        rl = enrich.RateLimiter(2, period_s=0.2)
        for _ in range(2):
            async with rl:
                pass
        await asyncio.sleep(0.5)
        t0 = loop.time()
        starts = []
        for _ in range(3):
            async with rl:
                starts.append(loop.time() - t0)
        return starts

    starts = asyncio.run(run())
    assert starts[1] < 0.05, starts
    assert starts[2] >= 0.9 * 0.1, starts


def test_cancelled_waiter_keeps_its_slot():
    """A waiter cancelled while asleep does not hand its slot to the
    next caller: the rate can only fall below the budget, never rise."""
    import asyncio

    async def run():
        loop = asyncio.get_running_loop()
        rl = enrich.RateLimiter(1, period_s=0.3)
        t0 = loop.time()
        async with rl:
            pass

        async def hold():
            async with rl:
                pass

        waiter = asyncio.ensure_future(hold())
        await asyncio.sleep(0.05)
        waiter.cancel()
        await asyncio.gather(waiter, return_exceptions=True)
        async with rl:
            return waiter.cancelled(), loop.time() - t0

    cancelled, third = asyncio.run(run())
    assert cancelled
    assert third >= 0.9 * 0.6, third


def test_429_exhaustion_type_count_and_linear_sleeps(spark, tmp_path):
    log = tmp_path / "calls.log"
    t = enrich.CallLogTransport(str(log), {"s1": [("status", 429, "slow")]})
    out = llm_enrich(_docs(spark, ["s1"]), TPL, t, FAST, num_partitions=1)
    r = out.collect()[0]
    # Exhaustion of the 429 path is RateLimited (not HTTPError), after
    # exactly max_retries + 1 calls — one per range() iteration.
    assert r.success is False and r.error_type == "RateLimited"
    assert open(log).read().count("s1") == FAST.max_retries + 1 == 4


def test_generic_exception_exhaustion_keeps_exception_type(spark, tmp_path):
    # An unknown scripted step raises ValueError inside post() — the
    # broad-except path. Exhaustion must report type "Exception" (one
    # extra retry would fall through to the RateLimited tail instead).
    log = tmp_path / "calls.log"
    t = enrich.CallLogTransport(str(log), {"s1": [("kaboom",)]})
    out = llm_enrich(_docs(spark, ["s1"]), TPL, t, FAST, num_partitions=1)
    r = out.collect()[0]
    assert r.success is False and r.error_type == "Exception"
    assert "kaboom" in r.error_message
    assert open(log).read().count("s1") == FAST.max_retries + 1 == 4


def test_network_step_without_message_defaults(spark):
    out = _run(spark, {"s1": [("network",)] * 4}, ["s1"])
    r = out["s1"]
    assert r.success is False and r.error_type == "ClientError"
    assert "scripted network error" in r.error_message


def test_error_bodies_truncate_at_reference_bounds(spark):
    # InvalidJSON captures the first 200 chars of the body; HTTPError
    # the first 500 (program2 parity) — exactly, not off by one.
    body = "x" * 600
    script = {
        "s1": [("raw", body)],
        "s2": [("status", 500, body)] * 4,
    }
    out = _run(spark, script, ["s1", "s2"])
    assert out["s1"].error_message == f"Could not parse JSON response: {body[:200]}"
    assert out["s2"].error_message == f"status 500: {body[:500]}"


def test_llm_enrich_defaults_cfg_and_partitions(spark):
    # cfg=None and num_partitions=None must fall back to the reference
    # defaults and the frame's own partitioning (an `or` chain turned
    # `and` leaves both None and crashes).
    out = llm_enrich(_docs(spark, ["s1"]), TPL, ScriptedTransport({}))
    r = out.collect()[0]
    assert r.success is True and r.content == "stub"


def test_split_rpm_clamps_and_divides():
    assert enrich.split_rpm(10_000.0, 4) == 2500.0
    assert enrich.split_rpm(10_000.0, 1) == 10_000.0  # max(1, ...) clamp
    assert enrich.split_rpm(10_000.0, 0) == 10_000.0  # degenerate parts


def test_429_sleeps_are_linear_in_attempt(monkeypatch):
    """The 429 path sleeps base*(attempt+1) — LINEAR, the reference's
    rate-limit etiquette (program2). Durations are asserted directly
    via a recording sleep on an in-process call_llm, because the
    mapInPandas tests can only see call counts, not waits."""
    import asyncio as aio

    recorded: list[float] = []
    real_sleep = aio.sleep

    async def fake_sleep(seconds, *a, **k):
        recorded.append(seconds)
        return await real_sleep(0)

    monkeypatch.setattr(aio, "sleep", fake_sleep)
    cfg = EnrichConfig(retry_sleep_on_429=7.0, backoff_factor=2.0, request_timeout=5.0)
    transport = ScriptedTransport({"k": [("status", 429, "slow")]})
    limiter = enrich.RateLimiter(1e12)  # effectively unthrottled
    payload = build_payload(TPL, "doc", cfg)
    ok, *_rest, err_type, _msg = aio.run(
        enrich.call_llm(transport, "k", payload, cfg, limiter)
    )
    assert ok is False and err_type == "RateLimited"
    # One linear sleep per attempt: 7*1, 7*2, 7*3, 7*4.
    assert [s for s in recorded if s >= 7.0] == [7.0, 14.0, 21.0, 28.0]


class _RaisingTransport:
    async def post(self, key, payload):
        raise RuntimeError("boom")


@pytest.mark.parametrize(
    ("transport", "expected_type"),
    [
        (ScriptedTransport({"k": [("status", 500, "oops")]}), "HTTPError"),
        (ScriptedTransport({"k": [("raw", json.dumps({"choices": []}))]}), "EmptyChoices"),
        (ScriptedTransport({"k": [("ok", "")]}), "EmptyContent"),
        (ScriptedTransport({"k": [("network", "down")]}), "ClientError"),
        (ScriptedTransport({"k": [("timeout",)]}), "TimeoutError"),
        (_RaisingTransport(), "Exception"),
    ],
    ids=["http500", "empty_choices", "empty_content", "network", "timeout", "exception"],
)
def test_retryable_failures_sleep_exponential_backoff(monkeypatch, transport, expected_type):
    """Every retryable failure sleeps backoff_factor**attempt between
    attempts (2**0, 2**1, 2**2 for 3 retries, none after the last) and
    then returns its own error type. Recorded in-process, like the 429
    test above."""
    import asyncio as aio

    recorded: list[float] = []
    real_sleep = aio.sleep

    async def fake_sleep(seconds, *a, **k):
        recorded.append(seconds)
        return await real_sleep(0)

    monkeypatch.setattr(aio, "sleep", fake_sleep)
    cfg = EnrichConfig(max_retries=3, backoff_factor=2.0, request_timeout=5.0)
    payload = build_payload(TPL, "doc", cfg)
    ok, content, _raw, err_type, _msg = aio.run(
        enrich.call_llm(transport, "k", payload, cfg, enrich.RateLimiter(1e12))
    )
    assert ok is False and content is None and err_type == expected_type
    assert recorded == [1.0, 2.0, 4.0]


# --- one loop, limiter and semaphore per partition ----------------------------


def _timed_transport(log_path: str, slow_s: float) -> ScriptedTransport:
    """A ScriptedTransport that appends ``[key, start, end]`` of every
    call to a file (the stage runs in Python workers) and holds the
    first call it serves, the partition's first row, for ``slow_s``.
    Defined in a function so Spark pickles the class by value."""
    import asyncio
    import time

    class TimedTransport(ScriptedTransport):
        async def post(self, key, payload):
            first = not self.calls
            start = time.monotonic()
            result = await super().post(key, payload)
            if first:
                await asyncio.sleep(slow_s)
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(json.dumps([key, start, time.monotonic()]) + "\n")
            return result

    return TimedTransport({})


def test_loop_limiter_and_semaphore_span_arrow_batches(spark, tmp_path):
    """One partition, two Arrow batches of 3 rows, and batch 1's first
    call takes 1 s. Batch 2's calls must start while that call is still
    running: a loop per batch would drain batch 1 first. That one
    limiter meters both batches is checked in-process, in
    ``test_partition_builds_one_limiter_for_all_its_batches``."""
    batch, slow_s = 3, 1.0
    keys = [f"k{i}" for i in range(2 * batch)]
    cfg = EnrichConfig(target_rpm=300.0, request_timeout=5.0)
    log = tmp_path / "calls.jsonl"
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(conf)
    spark.conf.set(conf, str(batch))
    try:
        out = llm_enrich(
            _docs(spark, keys).coalesce(1), TPL, _timed_transport(str(log), slow_s), cfg, num_partitions=1
        )
        got = [r.school_code for r in out.collect()]
    finally:
        spark.conf.set(conf, previous)

    assert got == keys  # each key exactly once, in input order
    calls = sorted((json.loads(line) for line in log.read_text().splitlines()), key=lambda c: c[1])
    assert [c[0] for c in calls] == keys  # one call per key, started in input order
    slow = calls[0]
    assert slow[2] - slow[1] >= slow_s
    assert calls[batch][1] < slow[2], "batch 2 waited for batch 1 to drain"


def test_partition_builds_one_limiter_for_all_its_batches(monkeypatch, tmp_path):
    """Two batches of 3 through one in-process partition, with a budget
    of 3 calls per 0.6 s: batch 1 spends the whole bucket, so batch 2's
    calls start one interval apart after it. A limiter per batch would
    start batch 2 at once with a fresh bucket."""
    import pandas as pd

    built = []

    class SpyLimiter(enrich.RateLimiter):
        def __init__(self, rate_per_min):
            super().__init__(rate_per_min, period_s=0.6)
            built.append(self)

    monkeypatch.setattr(enrich, "RateLimiter", SpyLimiter)
    batch, interval = 3, 0.6 / 3
    keys = [f"k{i}" for i in range(2 * batch)]
    frames = [
        pd.DataFrame({"school_code": keys[i : i + batch], "content": ["doc"] * batch})
        for i in range(0, len(keys), batch)
    ]
    log = tmp_path / "calls.jsonl"
    cfg = EnrichConfig(request_timeout=5.0)
    out = list(enrich.enrich_partition(iter(frames), TPL, _timed_transport(str(log), 0.0), cfg, rpm=3))

    assert len(built) == 1
    assert [k for pdf in out for k in pdf["school_code"]] == keys
    calls = sorted((json.loads(line) for line in log.read_text().splitlines()), key=lambda c: c[1])
    assert [c[0] for c in calls] == keys
    starts = [c[1] - calls[0][1] for c in calls]
    assert max(starts[:batch]) < 0.5 * interval, starts
    gaps = [b - a for a, b in zip(starts[batch - 1 :], starts[batch:])]
    assert min(gaps) >= 0.9 * interval, starts


def test_partition_reads_ahead_boundedly_and_closes_when_stopped_early():
    """With ``max_concurrent=2`` and batches of 2, the partition reads
    one batch ahead and no further. Closing the generator early cancels
    the calls still in flight and stops the loop's thread."""
    import threading
    import time

    import pandas as pd

    class _HangAfterFirstBatch(ScriptedTransport):
        async def post(self, key, payload):
            import asyncio

            if key not in ("a", "b"):
                await asyncio.sleep(60)
            return await super().post(key, payload)

    read = []

    def batches():
        for keys in (["a", "b"], ["c", "d"], ["e", "f"]):
            read.append(keys)
            yield pd.DataFrame({"school_code": keys, "content": [f"doc {k}" for k in keys]})

    cfg = EnrichConfig(max_concurrent=2, request_timeout=120.0)
    gen = enrich.enrich_partition(batches(), TPL, _HangAfterFirstBatch({}), cfg, rpm=1e9)
    try:
        first = next(gen)
        assert first["school_code"].tolist() == ["a", "b"] and first["success"].all()
        assert len(read) == 2
    finally:
        # Closed here even when an assertion fails: a generator left open
        # is closed at interpreter exit, after its loop thread is gone,
        # and the close then waits forever.
        t0 = time.monotonic()
        gen.close()
    assert time.monotonic() - t0 < 5.0
    assert not [t for t in threading.enumerate() if t.name == "llm-enrich-loop"]


def test_key_col_names_the_output_key(spark):
    docs = spark.createDataFrame([("a", "doc a"), ("b", "doc b")], ["id", "body"])
    script = {"b": [("status", 500, "boom")] * 4}
    out = llm_enrich(docs, TPL, ScriptedTransport(script), FAST, num_partitions=1, key_col="id", doc_col="body")
    assert out.columns == ["id", *enrich.OUTCOME_COLUMNS]
    rows = {r.id: r for r in out.collect()}
    assert rows["a"].success and rows["a"].content == "stub"
    assert not rows["b"].success and rows["b"].error_type == "HTTPError"


def test_default_result_schema_is_unchanged():
    assert enrich.RESULT_SCHEMA == (
        "school_code string, success boolean, content string, "
        "raw_response string, error_type string, error_message string"
    )

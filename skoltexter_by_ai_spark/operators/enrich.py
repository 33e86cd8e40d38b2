"""Async LLM enrichment stage (reference Program 2, X1-X10).

The reference fans out one Azure-OpenAI chat-completions POST per
document from a single asyncio loop with a 250-way semaphore, an RPM
limiter, retry/backoff, 429 handling, retry-on-empty and failure
side-outputs (program2_ai_processor.py:343-690). Here the same
semantics run INSIDE a ``mapInPandas`` stage. Each Spark partition
owns one asyncio loop, one limiter of ``target_rpm / num_partitions``
(X2/X3, SURVEY §3.2) and one ``max_concurrent`` semaphore for its
whole lifetime, not per Arrow batch: the loop runs on a thread, each
incoming batch's calls go in as soon as the batch arrives, and results
come back batch by batch in input order. The fan-out therefore never
drains at a batch boundary, and the limiter spaces calls across
batches as it does within one. The global request rate is preserved
while the fan-out scales with executors.

Row-level failures are captured as columns, never exceptions — Spark
task retries would re-call the LLM for a whole partition, so fault
tolerance is row-level in-stage + idempotent anti-join re-runs (X9),
exactly the reference's strategy (SURVEY §4).

The HTTP transport is pluggable (the reference's own tests inject fake
sessions, tests/test_program2_all.py:21-120): tests use
:class:`ScriptedTransport`; production would use
:class:`AiohttpTransport` (import-guarded — aiohttp is not in this
image).
"""

from __future__ import annotations

import asyncio
import concurrent.futures
import json
import re
import threading
from collections import deque
from dataclasses import dataclass
from typing import Any, Coroutine, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The columns after the key column in ``llm_enrich``'s output, with their types.
_OUTCOME_TYPES = {
    "success": "boolean",
    "content": "string",
    "raw_response": "string",
    "error_type": "string",
    "error_message": "string",
}
OUTCOME_COLUMNS = tuple(_OUTCOME_TYPES)


def _result_schema(key_col: str = "school_code") -> str:
    """``llm_enrich``'s output schema, keyed by ``key_col``."""
    return ", ".join([f"{key_col} string", *(f"{c} {t}" for c, t in _OUTCOME_TYPES.items())])


RESULT_SCHEMA = _result_schema()


# --- config -------------------------------------------------------------------


@dataclass
class EnrichConfig:
    """Operational parameters; defaults = reference src/config.py:91-100."""

    max_retries: int = 3
    backoff_factor: float = 2.0
    retry_sleep_on_429: float = 60.0
    request_timeout: float = 300.0
    max_concurrent: int = 250
    target_rpm: float = 10_000.0
    max_tokens: int = 2048
    temperature: float = 0.10


# --- transports ---------------------------------------------------------------


class TransportNetworkError(Exception):
    """Equivalent of aiohttp.ClientError for the pluggable transport."""


@dataclass
class TransportResult:
    status: int
    text: str


class ScriptedTransport:
    """Deterministic fake transport for tests (the reference's fake
    ClientSession pattern). ``script`` maps document key -> list of
    outcomes consumed one per attempt:

    - ``("ok", content)``            -> 200 with a well-formed response
    - ``("status", code, body)``     -> arbitrary HTTP status
    - ``("raw", body)``              -> 200 with the body verbatim
    - ``("network", msg)``           -> TransportNetworkError
    - ``("timeout",)``               -> asyncio.TimeoutError
    The last outcome repeats if attempts exceed the script.
    """

    def __init__(self, script: dict[str, list[tuple]], default: tuple = ("ok", "stub")):
        self.script = script
        self.default = default
        self.calls: dict[str, int] = {}

    async def post(self, key: str, payload: dict[str, Any]) -> TransportResult:
        n = self.calls.get(key, 0)
        self.calls[key] = n + 1
        steps = self.script.get(key)
        step = self.default if not steps else steps[min(n, len(steps) - 1)]
        kind = step[0]
        if kind == "network":
            raise TransportNetworkError(step[1] if len(step) > 1 else "scripted network error")
        if kind == "timeout":
            raise asyncio.TimeoutError()
        if kind == "ok":
            body = json.dumps({"choices": [{"message": {"content": step[1]}}]})
            return TransportResult(200, body)
        if kind == "raw":
            return TransportResult(200, step[1])
        if kind == "status":
            return TransportResult(step[1], step[2] if len(step) > 2 else "")
        raise ValueError(f"unknown scripted step {step!r}")


class CallLogTransport(ScriptedTransport):
    """Scripted transport that appends one line per LLM call to a file.

    Call auditing must go through the filesystem: the enrich stage runs
    inside mapInPandas Python workers, so in-memory counters on the
    driver-side transport object never see executor increments. Used to
    prove the pipeline calls the transport exactly once per document
    (a lazily re-evaluated plan would re-call every document per
    downstream action).
    """

    def __init__(self, log_path: str, script: dict[str, list[tuple]] | None = None, default: tuple = ("ok", "stub")):
        super().__init__(script or {}, default=default)
        self.log_path = log_path

    async def post(self, key: str, payload: dict[str, Any]) -> TransportResult:
        with open(self.log_path, "a", encoding="utf-8") as fh:
            fh.write(key + "\n")
        return await super().post(key, payload)


def azure_chat_endpoint(endpoint_base: str, deployment_name: str, api_version: str) -> str:
    """Chat-completions URL, byte-matching the reference's construction
    (program2_ai_processor.py:153-168): trailing slashes on the base
    are stripped, path is ``/openai/deployments/{name}/chat/completions``
    and the api version rides the query string.

    >>> azure_chat_endpoint("https://x.example/", "gpt", "2024-02-01")
    'https://x.example/openai/deployments/gpt/chat/completions?api-version=2024-02-01'
    """
    return (
        f"{endpoint_base.rstrip('/')}/openai/deployments/{deployment_name}/"
        f"chat/completions?api-version={api_version}"
    )


class AiohttpTransport:
    """Real Azure-OpenAI chat-completions transport.

    Endpoint shape per the reference (program2_ai_processor.py:153-168):
    :func:`azure_chat_endpoint`, with the key in the ``api-key`` header.
    aiohttp is absent in the CI image; the request construction is
    covered by a stub-module test (tests/test_enrich.py) so the
    header/timeout/payload contract is verified without the network.
    """

    def __init__(self, endpoint: str, api_key: str, timeout: float = 300.0):
        try:
            import aiohttp  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "aiohttp is not installed in this environment; inject a "
                "custom transport (see ScriptedTransport) instead"
            ) from exc
        self.endpoint = endpoint
        self.api_key = api_key
        self.timeout = timeout

    async def post(self, key: str, payload: dict[str, Any]) -> TransportResult:
        import aiohttp

        headers = {"Content-Type": "application/json", "api-key": str(self.api_key)}
        try:
            async with aiohttp.ClientSession() as session:
                async with session.post(
                    self.endpoint,
                    json=payload,
                    headers=headers,
                    timeout=aiohttp.ClientTimeout(total=self.timeout),
                ) as response:
                    return TransportResult(response.status, await response.text())
        except aiohttp.ClientError as exc:
            raise TransportNetworkError(str(exc)) from exc


# --- rate limiting (X3) -------------------------------------------------------


class RateLimiter:
    """Minimal async token-interval limiter: at most ``rate_per_min``
    acquisitions per minute, evenly spaced (AsyncLimiter-style)."""

    def __init__(self, rate_per_min: float):
        self.interval = 60.0 / max(rate_per_min, 1e-9)
        self._next_free = 0.0
        self._lock: asyncio.Lock | None = None

    async def __aenter__(self):
        if self._lock is None:
            self._lock = asyncio.Lock()
        async with self._lock:
            loop = asyncio.get_event_loop()
            now = loop.time()
            wait = self._next_free - now
            self._next_free = max(now, self._next_free) + self.interval
        if wait > 0:
            await asyncio.sleep(wait)
        return self

    async def __aexit__(self, *exc):
        return False


# --- prompt handling (F7/X10) -------------------------------------------------


def build_payload(prompt_template: str, school_data: str, cfg: EnrichConfig) -> dict[str, Any]:
    """{school_data} substitution, then SYSTEM:/USER: marker split
    (program2_ai_processor.py:253-290). Missing markers -> ValueError."""
    prompt_filled = prompt_template.replace("{school_data}", school_data)
    system_start = prompt_filled.find("SYSTEM:")
    user_start = prompt_filled.find("USER:")
    if system_start == -1 or user_start == -1:
        raise ValueError("Prompt template must contain 'SYSTEM:' and 'USER:' markers.")
    system_content = prompt_filled[system_start + len("SYSTEM:") : user_start].strip()
    user_content = prompt_filled[user_start + len("USER:") :].strip()
    return {
        "messages": [
            {"role": "system", "content": system_content},
            {"role": "user", "content": user_content},
        ],
        "max_tokens": cfg.max_tokens,
        "temperature": cfg.temperature,
    }


# --- fence cleanup, Python twin of functions.text.strip_code_fences (F6) ------

_FENCE_RE = re.compile(r"^\s*```(?:[a-zA-Z0-9]+\s*\n)?(.*?)\n?```\s*$", re.DOTALL | re.IGNORECASE)


def clean_ai_response(content: str) -> str:
    """Exact reference fence-strip semantics (program2:292-326)."""
    cleaned = content.strip()
    match = _FENCE_RE.match(cleaned)
    if match:
        return match.group(1).strip()
    if cleaned.startswith("```markdown"):
        cleaned = cleaned[len("```markdown") :].lstrip()
    elif cleaned.startswith("```"):
        cleaned = cleaned[len("```") :].lstrip()
    if cleaned.endswith("```"):
        cleaned = cleaned[: -len("```")].rstrip()
    return cleaned


# --- the per-document call with retries (X1/X4-X7) ----------------------------


async def call_llm(
    transport,
    key: str,
    payload: dict[str, Any],
    cfg: EnrichConfig,
    limiter: RateLimiter,
) -> tuple[bool, str | None, str | None, str | None, str | None]:
    """(success, content, raw_response, error_type, error_message).

    Control flow is the reference's retry loop verbatim
    (program2_ai_processor.py:387-515): attempts = max_retries + 1;
    - 200 + invalid JSON    -> immediate failure (no retry);
    - 200 + empty choices   -> backoff**attempt retry, else fail;
    - 200 + empty content   -> backoff**attempt retry, else fail;
    - 429                   -> sleep 429_base*(attempt+1), retry;
    - other status          -> backoff retry, final = status captured;
    - network error/timeout -> backoff retry, final = typed error;
    - loop exhaustion (429 path) -> failure with RateLimited type.
    """
    for attempt in range(cfg.max_retries + 1):
        try:
            async with limiter:
                result = await asyncio.wait_for(
                    transport.post(key, payload), timeout=cfg.request_timeout
                )
            status, text = result.status, result.text
            if status == 200:
                try:
                    response_json = json.loads(text)
                except json.JSONDecodeError:
                    return False, None, text, "InvalidJSON", f"Could not parse JSON response: {text[:200]}"
                if not response_json.get("choices"):
                    if attempt < cfg.max_retries:
                        await asyncio.sleep(cfg.backoff_factor**attempt)
                        continue
                    return False, None, text, "EmptyChoices", "missing 'choices' field or empty"
                content = response_json.get("choices", [{}])[0].get("message", {}).get("content", "")
                if not content:
                    if attempt < cfg.max_retries:
                        await asyncio.sleep(cfg.backoff_factor**attempt)
                        continue
                    return False, None, text, "EmptyContent", "empty content in API response"
                return True, clean_ai_response(content), text, None, None
            if status == 429:
                await asyncio.sleep(cfg.retry_sleep_on_429 * (attempt + 1))
                continue
            if attempt < cfg.max_retries:
                await asyncio.sleep(cfg.backoff_factor**attempt)
                continue
            return False, None, None, "HTTPError", f"status {status}: {text[:500]}"
        except TransportNetworkError as exc:
            if attempt < cfg.max_retries:
                await asyncio.sleep(cfg.backoff_factor**attempt)
                continue
            return False, None, None, "ClientError", str(exc)
        except (asyncio.TimeoutError, TimeoutError):
            if attempt < cfg.max_retries:
                await asyncio.sleep(cfg.backoff_factor**attempt)
                continue
            return False, None, None, "TimeoutError", "request timeout"
        except Exception as exc:  # noqa: BLE001 - reference catches broadly
            if attempt < cfg.max_retries:
                await asyncio.sleep(cfg.backoff_factor**attempt)
                continue
            return False, None, None, "Exception", f"{type(exc).__name__}: {exc}"
    return False, None, None, "RateLimited", "all retry attempts failed"


def split_rpm(target_rpm: float, parts: int) -> float:
    """Per-partition request budget: the cluster-wide RPM divided over
    the partitions running limiters independently, clamped so a
    degenerate partition count can never inflate the global rate."""
    return target_rpm / max(parts, 1)


# --- the Spark stage ----------------------------------------------------------


class _PartitionLoop:
    """An asyncio loop running on a daemon thread, for the lifetime of
    one Spark partition. Coroutines go in from the partition's own
    thread through :meth:`submit`; :meth:`close` is ``asyncio.run``'s
    teardown: cancel what is still running, then stop and close."""

    def __init__(self) -> None:
        self.loop = asyncio.new_event_loop()
        self._thread = threading.Thread(
            target=self.loop.run_forever, name="llm-enrich-loop", daemon=True
        )
        self._thread.start()

    def submit(self, coro: Coroutine) -> concurrent.futures.Future:
        return asyncio.run_coroutine_threadsafe(coro, self.loop)

    def close(self) -> None:
        async def drain() -> None:
            tasks = [t for t in asyncio.all_tasks() if t is not asyncio.current_task()]
            for task in tasks:
                task.cancel()
            await asyncio.gather(*tasks, return_exceptions=True)
            await self.loop.shutdown_asyncgens()
            await self.loop.shutdown_default_executor()

        try:
            self.submit(drain()).result()
        finally:
            self.loop.call_soon_threadsafe(self.loop.stop)
            self._thread.join()
            self.loop.close()


def enrich_partition(
    batches: Iterator,
    prompt_template: str,
    transport,
    cfg: EnrichConfig,
    rpm: float,
    key_col: str = "school_code",
    doc_col: str = "content",
) -> Iterator:
    """The ``mapInPandas`` body: (key, document) frames in, one result
    frame per input frame out, in input order.

    One :class:`_PartitionLoop`, one ``RateLimiter(rpm)`` and one
    ``Semaphore(cfg.max_concurrent)`` serve every batch. A batch's calls
    are submitted when the batch is read; the next batch is read only
    while at most ``cfg.max_concurrent`` rows are in flight, otherwise
    the oldest batch's results are awaited and yielded first. Memory
    stays bounded by ``max_concurrent`` plus one batch, and a partition
    is never buffered whole. The loop is closed in a ``finally``, so a
    consumer that stops early (a ``limit``, a failed task) still cancels
    the outstanding calls and joins the thread.
    """
    import pandas as pd

    columns = [key_col, *OUTCOME_COLUMNS]
    limiter = RateLimiter(rpm)
    semaphore = asyncio.Semaphore(cfg.max_concurrent)

    async def one(key: str, doc: str):
        async with semaphore:
            try:
                payload = build_payload(prompt_template, doc, cfg)
            except ValueError as exc:
                return key, False, None, None, "ValueError", str(exc)
            res = await call_llm(transport, key, payload, cfg, limiter)
            return (key, *res)

    async def run_batch(rows: list[tuple[str, str]]):
        return await asyncio.gather(*(one(k, d) for k, d in rows))

    runner = _PartitionLoop()
    pending: deque[tuple[concurrent.futures.Future, int]] = deque()
    in_flight = 0
    try:
        for pdf in batches:
            rows = list(zip(pdf[key_col].tolist(), pdf[doc_col].tolist()))
            pending.append((runner.submit(run_batch(rows)), len(rows)))
            in_flight += len(rows)
            while in_flight > cfg.max_concurrent:
                fut, n = pending.popleft()
                in_flight -= n
                yield pd.DataFrame(fut.result(), columns=columns)
        while pending:
            fut, _ = pending.popleft()
            yield pd.DataFrame(fut.result(), columns=columns)
    finally:
        runner.close()


def llm_enrich(
    docs: DataFrame,
    prompt_template: str,
    transport,
    cfg: EnrichConfig | None = None,
    num_partitions: int | None = None,
    key_col: str = "school_code",
    doc_col: str = "content",
) -> DataFrame:
    """Run the async LLM stage over (key, document) rows.

    Output schema: ``RESULT_SCHEMA`` with ``key_col`` naming the key
    column. Each partition runs :func:`enrich_partition`: one event
    loop, one limiter of ``target_rpm / P`` (so the cluster-wide rate
    matches the reference's single-process budget) and one
    ``cfg.max_concurrent`` semaphore, all spanning the partition's Arrow
    batches, with read-ahead capped at ``cfg.max_concurrent`` rows in
    flight.
    """
    cfg = cfg or EnrichConfig()
    # Fail fast on a malformed template (driver-side, like the
    # reference's startup template load — program2:234).
    build_payload(prompt_template, "", cfg)

    parts = num_partitions or docs.rdd.getNumPartitions() or 1
    per_partition_rpm = split_rpm(cfg.target_rpm, parts)

    def worker(batches: Iterator) -> Iterator:
        return enrich_partition(
            batches, prompt_template, transport, cfg, per_partition_rpm, key_col, doc_col
        )

    # Project to exactly the two columns the worker reads BEFORE the
    # exchange and the Arrow boundary: mapInPandas is opaque to column
    # pruning, so without this a wide caller frame would ship (and
    # shuffle) every column to the Python workers (guide §4).
    return (
        docs.select(key_col, doc_col)
        .repartition(parts)
        .mapInPandas(worker, _result_schema(key_col))
    )


def incremental_inputs(
    inputs: DataFrame,
    done: DataFrame | None,
    key_col: str = "school_code",
    limit: int | None = None,
) -> DataFrame:
    """J2/X9/L1/O2: skip already-processed keys (anti-join against the
    sink listing), deterministic order, optional limit
    (program2_ai_processor.py:628-641, 692-724)."""
    out = inputs
    if done is not None:
        out = out.join(done.select(key_col).distinct(), key_col, "left_anti")
    out = out.orderBy(key_col)
    if limit is not None:
        out = out.limit(limit)
    return out


def side_outputs(results: DataFrame) -> tuple[DataFrame, DataFrame]:
    """X8: (successes, failures) — two filtered frames, job never fails
    on row-level errors (program2_ai_processor.py:556-579)."""
    return results.filter(F.col("success")), results.filter(~F.col("success"))

"""Seeded LLM transport for the pipeline workload, and the metrics of its call log.

Latency is a pure function of (seed, key, attempt) and faults a pure
function of the order of first attempts, so a seed replays the same
calls. The enrich stage runs inside Python workers, so
each call appends one JSON line to a log file (as
``operators.enrich.CallLogTransport`` does) and the driver reads the file
afterwards.
"""

from __future__ import annotations

import asyncio
import hashlib
import json
import math
import os
import time
from typing import Any

from perfbench.trace import covered
from skoltexter_by_ai_spark.operators.enrich import TransportResult

MEDIAN_LATENCY_S = 0.100
LATENCY_SIGMA = 0.5
#: Every 33rd first attempt a transport sees (3%), starting with the 17th,
#: gets a transient 500, which ``call_llm`` retries after a 1 s back-off.
#: A batch takes longer the later its last fault is sent, so faults drawn
#: at random per key moved stage 2's wall by up to 1.8 s from seed to
#: seed; at fixed places in the sending order every seed pays the same
#: back-offs. No 429s: each one sleeps 60 s.
FAULT_EVERY = 33
FAULT_FIRST = 16


def content_for(key: str) -> str:
    """The markdown the transport returns for a document."""
    return f"## Profile\n\nperfbench {key} enriched"


def plan_latency(seed: int, key: str, attempt: int) -> float:
    """Latency in seconds of one call."""
    digest = hashlib.blake2b(f"{seed}|{key}|{attempt}".encode(), digest_size=16).digest()
    u1, u2 = ((int.from_bytes(digest[i : i + 8], "big") + 0.5) / 2.0**64 for i in (0, 8))
    z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
    return MEDIAN_LATENCY_S * math.exp(LATENCY_SIGMA * z)


def is_fault(first_attempt_no: int) -> bool:
    """Whether the n-th first attempt (from 0) gets a transient 500."""
    return first_attempt_no % FAULT_EVERY == FAULT_FIRST


class SeededTransport:
    """Pluggable ``post(key, payload)`` transport with seeded latency and
    scheduled faults. Each Spark task unpickles its own copy, so the
    sending order counts from the start of the task."""

    def __init__(self, seed: int, log_path: str):
        self.seed = seed
        self.log_path = log_path
        self.calls: dict[str, int] = {}

    async def post(self, key: str, payload: dict[str, Any]) -> TransportResult:
        attempt = self.calls.get(key, 0)
        status = 500 if attempt == 0 and is_fault(len(self.calls)) else 200
        self.calls[key] = attempt + 1
        latency = plan_latency(self.seed, key, attempt)
        start = time.monotonic()
        await asyncio.sleep(latency)
        end = time.monotonic()
        line = {"key": key, "attempt": attempt, "status": status, "start": start, "end": end, "pid": os.getpid()}
        with open(self.log_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(line) + "\n")
        if status != 200:
            return TransportResult(status, "transient upstream error")
        body = json.dumps({"choices": [{"message": {"content": content_for(key)}}]})
        return TransportResult(200, body)


def read_call_log(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def enrich_metrics(calls: list[dict], target_rpm: float) -> dict[str, float]:
    """Layer metrics of the enrich stage from its call log."""
    out = {
        "enrich.calls": float(len(calls)),
        "enrich.retries": float(sum(1 for c in calls if c["attempt"] > 0)),
        "enrich.ok_docs": float(len({c["key"] for c in calls if c["status"] == 200})),
        "enrich.idle_s": 0.0,
        "enrich.in_flight_mean": 0.0,
        "enrich.rate_util": 0.0,
    }
    if not calls:
        return out
    first = min(c["start"] for c in calls)
    last = max(c["end"] for c in calls)
    span = last - first
    out["enrich.idle_s"] = span - covered([(c["start"], c["end"]) for c in calls], first, last)
    if span > 0:
        out["enrich.in_flight_mean"] = sum(c["end"] - c["start"] for c in calls) / span
        out["enrich.rate_util"] = len(calls) / span * 60.0 / target_rpm
    return out

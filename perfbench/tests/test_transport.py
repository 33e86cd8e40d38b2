"""The seeded transport replays identically for a seed."""

from __future__ import annotations

import asyncio

from perfbench.transport import SeededTransport, enrich_metrics, plan_latency, read_call_log

KEYS = [f"{10_000_000 + i}" for i in range(400)]


def _replay(seed: int, log_path) -> list[tuple[str, int, int]]:
    transport = SeededTransport(seed, str(log_path))

    async def run():
        out = []
        for key in KEYS[:20]:
            for _ in range(2):
                result = await transport.post(key, {})
                out.append((key, result.status, len(result.text)))
        return out

    return asyncio.run(run())


def test_latency_is_a_pure_function_of_seed_key_attempt():
    first = [plan_latency(7, k, a) for k in KEYS for a in range(3)]
    again = [plan_latency(7, k, a) for k in KEYS for a in range(3)]
    other = [plan_latency(8, k, a) for k in KEYS for a in range(3)]
    assert first == again
    assert first != other


def test_faults_hit_the_same_first_attempts_for_every_seed(tmp_path, monkeypatch):
    async def no_sleep(_):
        return None

    monkeypatch.setattr(asyncio, "sleep", no_sleep)

    def faulted(seed: int) -> list[int]:
        transport = SeededTransport(seed, str(tmp_path / f"{seed}.jsonl"))

        async def run():
            out = []
            for n, key in enumerate(KEYS[:200]):
                if (await transport.post(key, {})).status != 200:
                    out.append(n)
                    assert (await transport.post(key, {})).status == 200
            return out

        return asyncio.run(run())

    assert faulted(3) == faulted(4) == [16, 49, 82, 115, 148, 181]


def test_transport_replays_identically_and_logs_every_call(tmp_path, monkeypatch):
    async def no_sleep(_):
        return None

    monkeypatch.setattr(asyncio, "sleep", no_sleep)
    a = _replay(5, tmp_path / "a.jsonl")
    b = _replay(5, tmp_path / "b.jsonl")
    assert a == b
    log_a = [(c["key"], c["attempt"], c["status"]) for c in read_call_log(str(tmp_path / "a.jsonl"))]
    log_b = [(c["key"], c["attempt"], c["status"]) for c in read_call_log(str(tmp_path / "b.jsonl"))]
    assert log_a == log_b and len(log_a) == 40
    assert [attempt for _, attempt, _ in log_a[:2]] == [0, 1]


def test_enrich_metrics_from_log():
    calls = [
        {"key": "a", "attempt": 0, "status": 500, "start": 0.0, "end": 1.0},
        {"key": "a", "attempt": 1, "status": 200, "start": 2.0, "end": 3.0},
        {"key": "b", "attempt": 0, "status": 200, "start": 0.5, "end": 1.5},
    ]
    m = enrich_metrics(calls, target_rpm=60.0)
    assert m["enrich.calls"] == 3 and m["enrich.retries"] == 1 and m["enrich.ok_docs"] == 2
    assert m["enrich.idle_s"] == 0.5
    assert m["enrich.in_flight_mean"] == 1.0
    assert m["enrich.rate_util"] == 3 / 3.0 * 60.0 / 60.0

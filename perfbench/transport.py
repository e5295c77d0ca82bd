"""Benchmark-owned LLM transport for ``enrich.set_transport``.

The reply is a pure function of the prompt (so the enriched output can be
checked row by row), and every call costs a fixed simulated service time.
The transport runs inside Spark's Python workers, so its counters are
accumulators: call count, busy seconds and the set of distinct prompt
digests flow back to the driver with each finished task.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.accumulators import AccumulatorParam

SENTIMENTS = ("Positive", "Negative", "Neutral")
# The model is asked for one of the five kept categories but is not held
# to them; one out-of-domain answer keeps that case in the output.
CATEGORIES = ("WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY", "HEALTH")


def prompt_digest(prompt: str) -> bytes:
    return hashlib.sha256(prompt.encode("utf-8")).digest()


def reply(prompt: str) -> str:
    """The model's JSON answer for ``prompt``."""
    d = prompt_digest(prompt)
    return json.dumps({
        "sentiment": SENTIMENTS[d[0] % len(SENTIMENTS)],
        "category": CATEGORIES[d[1] % len(CATEGORIES)],
        "summary": f"Markets may react to story {d[2:8].hex()}.",
    })


def expected_triple(prompt: str) -> tuple[str, str, str]:
    out = json.loads(reply(prompt))
    return out["sentiment"], out["category"], out["summary"]


class LocalCounter:
    """In-process stand-in for a Spark accumulator (``add`` and ``value``)."""

    def __init__(self, zero):
        self.value = zero

    def add(self, term) -> None:
        self.value = self.value | term if isinstance(term, set) else self.value + term


class SetParam(AccumulatorParam):
    """Accumulates a set by union."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class TransportCounters:
    """Calls, busy seconds and distinct prompt digests of one transport."""

    def __init__(self, calls, busy_s, digests):
        self.calls = calls
        self.busy_s = busy_s
        self.digests = digests

    @classmethod
    def local(cls) -> "TransportCounters":
        return cls(LocalCounter(0), LocalCounter(0.0), LocalCounter(set()))

    @classmethod
    def spark(cls, sc) -> "TransportCounters":
        return cls(
            sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(set(), SetParam())
        )

    def reset(self) -> None:
        self.calls.value = 0
        self.busy_s.value = 0.0
        self.digests.value = set()

    def snapshot(self) -> tuple[int, float, int]:
        return self.calls.value, self.busy_s.value, len(self.digests.value)


def make_transport(service_s: float, counters: TransportCounters):
    """A transport that answers ``reply(prompt)`` after ``service_s`` seconds."""
    calls, busy, digests = counters.calls, counters.busy_s, counters.digests

    def transport(prompt: str) -> str:
        t0 = time.perf_counter()
        out = reply(prompt)
        left = service_s - (time.perf_counter() - t0)
        if left > 0:
            time.sleep(left)
        calls.add(1)
        digests.add({prompt_digest(prompt)[:8]})
        busy.add(time.perf_counter() - t0)
        return out

    return transport

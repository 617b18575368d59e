"""Simulated LLM service for the classify layer.

Wraps the engine's offline ``llm.stub_classifier`` with what a hosted
model adds: a fixed latency per call and transient errors. A call
whose batch key (the first PMID) hashes to 0 modulo ``FAIL_EVERY``
fails on its first attempt and succeeds on the retry, so the same
inputs always see the same failures. Counts come back to the driver
through public Spark accumulators.

Workers unpickle the factory by module path, so this module must be
importable on executors (the benchmark puts its directory on
``PYTHONPATH``).
"""

from __future__ import annotations

import time
import zlib

from aurora_mito_etl_spark.operators import llm

CALL_DELAY_S = 0.02
FAIL_EVERY = 8
BACKOFF_S = 0.01

CONFIG_KW = dict(batch_size=10, backoff_base_s=BACKOFF_S, backoff_cap_s=BACKOFF_S * 4)


class TransientServiceError(RuntimeError):
    pass


class _ServiceClassifier:
    def __init__(self, service: "SimulatedService"):
        self.service = service
        self.inner = llm.stub_classifier()
        self.failed_once: set[str] = set()

    def __call__(self, batch: list[tuple[str, str]]) -> list[str]:
        svc = self.service
        svc.calls.add(1)
        time.sleep(CALL_DELAY_S)
        svc.wait_s.add(CALL_DELAY_S)
        key = batch[0][0] if batch else ""
        if zlib.crc32(key.encode()) % FAIL_EVERY == 0 and key not in self.failed_once:
            self.failed_once.add(key)
            svc.retries.add(1)
            raise TransientServiceError(f"simulated 503 for batch {key}")
        svc.items.add(len(batch))
        return self.inner(batch)


class _CountedSleep:
    def __init__(self, wait_acc):
        self.wait_acc = wait_acc

    def __call__(self, seconds: float) -> None:
        time.sleep(seconds)
        self.wait_acc.add(seconds)


class SimulatedService:
    """Factory for the classify operator plus its accumulators."""

    def __init__(self, sc):
        self.calls = sc.accumulator(0)
        self.items = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.wait_s = sc.accumulator(0.0)

    def __call__(self) -> _ServiceClassifier:
        return _ServiceClassifier(self)

    def config(self) -> llm.ClassifyConfig:
        return llm.ClassifyConfig(sleep=_CountedSleep(self.wait_s), **CONFIG_KW)

    def snapshot(self) -> dict[str, float]:
        return {
            "calls": self.calls.value,
            "items": self.items.value,
            "retries": self.retries.value,
            "service_wait_s": self.wait_s.value,
        }

"""Counting LLM client factory: counts the engine's LLM work from
outside the engine.

``CountingFactory`` wraps ``llm.runner.mock_client_factory`` and is
passed through ``MapReduceConfig.client_factory``. It is pickled into
the Python workers, where each call bumps Spark accumulators, so the
driver reads the totals after an action. Workers import this module by
name, so its directory must be on the workers' ``PYTHONPATH`` (run.py
puts it there before the session starts).

What is counted, per call kind (map, reduce, judge):
  calls      ``acomplete`` calls the engine made
  tokens     input and output tokens of the successful responses
  attempts   calls that reached the model under the retry loop
  failures   calls that raised after all retries
Retries are attempts minus calls.
"""

from __future__ import annotations

KINDS = ("map", "reduce", "judge")
FIELDS = ("calls", "input_tokens", "output_tokens", "attempts", "failures")


def _kind(kind: str) -> str:
    return "map" if kind.startswith("map") else kind


class _AttemptCounter:
    """Sits inside the retry loop, so every attempt passes through it."""

    def __init__(self, inner, accs):
        self.inner = inner
        self.accs = accs

    async def acomplete(self, prompt, *, kind="map"):
        self.accs[(_kind(kind), "attempts")].add(1)
        return await self.inner.acomplete(prompt, kind=kind)


class _CallCounter:
    def __init__(self, client, accs):
        self.client = client
        self.accs = accs

    async def acomplete(self, prompt, *, kind="map", expect_json=False):
        k = _kind(kind)
        self.accs[(k, "calls")].add(1)
        try:
            resp = await self.client.acomplete(
                prompt, kind=kind, expect_json=expect_json
            )
        except Exception:
            self.accs[(k, "failures")].add(1)
            raise
        self.accs[(k, "input_tokens")].add(resp.input_tokens)
        self.accs[(k, "output_tokens")].add(resp.output_tokens)
        return resp


class CountingFactory:
    """Zero-arg client factory (picklable) with one accumulator per
    (kind, field)."""

    def __init__(self, sc):
        self.accs = {(k, f): sc.accumulator(0) for k in KINDS for f in FIELDS}

    def __call__(self):
        from finmapreduce_spark.llm.runner import mock_client_factory

        client = mock_client_factory()
        client.inner = _AttemptCounter(client.inner, self.accs)
        return _CallCounter(client, self.accs)

    def snapshot(self) -> dict:
        """Totals so far, as {"map_calls": n, ...}."""
        return {f"{k}_{f}": int(a.value) for (k, f), a in self.accs.items()}


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before.get(k, 0) for k in after}

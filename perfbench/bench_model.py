"""The benchmark's model backend: deterministic rules, a fixed latency
per model call, and executor-side call accounting.

Python workers unpickle this class by reference, so this directory must
be on the workers' PYTHONPATH (``run.py`` sets it before Spark starts).
Every rule here is mirrored in DuckDB SQL in ``workloads.py``.
"""

from __future__ import annotations

import time

from docetl_spark.backend import FakeBackend

# topic vocabulary: the first of these words present in a document's text
# is its topic; documents with none get "general"
TOPICS = ("join", "spark", "stream", "vector")


def topic_of(text: str) -> str:
    ws = set(text.split())
    return next((t for t in TOPICS if t in ws), "general")


def sentiment_of(text: str) -> str:
    ws = set(text.split())
    return "positive" if "fast" in ws else ("negative" if "slow" in ws else "neutral")


class LatencyModel(FakeBackend):
    """``FakeBackend`` whose every call sleeps ``latency_s`` (one sleep per
    batched call) and declares ``max_concurrency`` in-flight calls.

    Counters are Spark accumulators created on the driver, so counts made
    on executors are readable after each action.
    """

    # 100 ms a call: on 4 cores a semantic_docs pass then spends about
    # half its wall time waiting on the model (a pass with a free model
    # takes ~4.3 s), so call concurrency, batching and caching move wall_s
    def __init__(self, sc, *, latency_s: float = 0.1, max_concurrency: int = 8):
        super().__init__()
        self.latency_s = latency_s
        self.max_concurrency = max_concurrency
        self.calls = sc.accumulator(0)
        self.batch_calls = sc.accumulator(0)
        self.items = sc.accumulator(0)
        self.model_us = sc.accumulator(0)

    def _wait(self, items: int) -> None:
        t0 = time.perf_counter()
        time.sleep(self.latency_s)
        self.model_us += int((time.perf_counter() - t0) * 1e6)
        self.items += items

    def _answer(self, prompt: str, schema: dict, ctx) -> dict:
        out = {}
        for key, spec in schema.items():
            if key == "topics":
                if isinstance(ctx, dict):
                    # map: one topic per document. With several, the
                    # shipped pipeline's resolve (id_col doc_id, after the
                    # unnest) merges topics whose blocks share a document,
                    # so unnest fan-out stays at one until that is fixed.
                    out[key] = [topic_of(str(ctx.get("text") or ""))]
                else:  # resolve canonicalization: the block's own key
                    out[key] = min(str(c.get("topics")) for c in ctx)
            elif key == "sentiment":
                out[key] = sentiment_of(str(ctx.get("text") or ""))
            elif key == "keep":
                out[key] = ctx.get("sentiment") != "negative"
            elif key == "summary":
                out[key] = f"{len(ctx)} docs"
            elif key == "is_match":
                left, right = ctx
                out[key] = (int(left["doc_id"]) + int(right["channel_id"])) % 3 == 0
            else:
                out.update(super().complete(prompt, {key: spec}, ctx))
        return out

    def complete(self, prompt: str, output_schema: dict, context) -> dict:
        self.calls += 1
        self._wait(1)
        return self._answer(prompt, output_schema, context)

    def complete_batch(self, prompt: str, output_schema: dict, items: list) -> list[dict]:
        self.batch_calls += 1
        self._wait(len(items))
        return [self._answer(prompt, output_schema, it) for it in items]

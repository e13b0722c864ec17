"""Pure-Python core microbench: no Spark, the workload's own inputs.

Each core is timed on the exact call the Spark UDFs make per Arrow batch
(`signatures_batch`, `score_batch`) or per row (`extract_text`), so a
change to a core shows here before it shows in a layer's wall time.
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Callable

from dedupe_rust_spark.functions import ccore, scorecore, sigcore, textcore

MAX_DOCS = 2000
MAX_PAIRS = 1000


def _us_per_item(fn: Callable[[], object], n_items: int, repeats: int = 5,
                 min_s: float = 0.05) -> float:
    """Median over `repeats` of the per-item time of `fn`, each repeat
    looping `fn` for at least `min_s` seconds."""
    samples = []
    for _ in range(repeats):
        calls, t0 = 0, time.perf_counter()
        while True:
            fn()
            calls += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        samples.append(dt / calls / n_items * 1e6)
    return statistics.median(samples)


def microbench(html: list[bytes | None], pairs_a: list[str],
               pairs_b: list[str], edges: list[tuple]) -> dict[str, float]:
    html = html[:MAX_DOCS]
    texts = [textcore.extract_text(h) for h in html]
    pairs_a, pairs_b = pairs_a[:MAX_PAIRS], pairs_b[:MAX_PAIRS]
    return {
        "textcore.us_per_doc": _us_per_item(
            lambda: [textcore.extract_text(h) for h in html], len(html)),
        "sigcore.us_per_doc": _us_per_item(
            lambda: sigcore.signatures_batch(texts), len(texts)),
        "scorecore.us_per_pair": _us_per_item(
            lambda: scorecore.score_batch(pairs_a, pairs_b), len(pairs_a)),
        "ccore.us_per_edge": _us_per_item(
            lambda: ccore.connected_components(edges), len(edges)),
    }

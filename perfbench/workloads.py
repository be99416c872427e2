"""The benchmark's workloads and metrics.

Each workload is one closed-loop client that issues its queries one after
another, the next only after the previous one finished. ``--seed`` fixes the
order of every pass and nothing else: the warehouse rows never depend on it.
Queries are named with their owning module (``operators.training.
pipeline_training_data``); the tests check the module against ``REGISTRY``.

``BENCHMARK.json`` at the repository root is the one list of workload and
metric names, units and bounds; ``spec()`` reads it.
"""

from __future__ import annotations

import json
import os
import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    "olap": (
        "operators.relational.q1_pricing_summary",
        "operators.analytics.q3_shipping_priority",
        "operators.analytics.q5_local_supplier_volume",
        "operators.analytics.q9_product_profit",
        "operators.analytics.q10_returned_items",
        "operators.relational.join_interval_bucketed",
        "operators.temporal.session_window_islands",
    ),
    "pipeline": (
        "streaming.stream_queries.stream_tumbling_counts",
        "streaming.stream_queries.stream_parquet_sink_recovery",
        "sources.connector_queries.sink_train_shards",
        "operators.training.pipeline_training_data",
        "operators.similarity.simsearch_topk_exact_np",
    ),
}


def spec(repo: str) -> dict:
    """The repository's ``BENCHMARK.json``."""
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        return json.load(f)


def queries(workload: str) -> tuple[str, ...]:
    """The workload's registered query names."""
    return tuple(q.rsplit(".", 1)[1] for q in WORKLOADS[workload])


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The query order of pass ``pass_index`` (0 is the cold pass), fixed
    by ``seed``."""
    order = list(queries(workload))
    random.Random(f"{workload}:{seed}:{pass_index}").shuffle(order)
    return order

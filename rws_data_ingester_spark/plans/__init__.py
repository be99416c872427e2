"""Query plan registry — the declared surface of the engine.

Importing this package pulls in every operator module, each of which
registers its named queries (Spark callable + optional DuckDB oracle SQL)
into ``REGISTRY``. ``__spark_entry__.py`` and the tests both read from here,
so the driver contract and the test suite can never drift apart.
"""

from rws_data_ingester_spark.plans.registry import REGISTRY, query, oracle_pairs  # noqa: F401

# Import for side effect: each module registers its queries.
from rws_data_ingester_spark.functions import scalars, udfs  # noqa: F401
from rws_data_ingester_spark.operators import (  # noqa: F401
    aggregates,
    analytics,
    cluster,
    dedup,
    ids,
    incremental,
    layout,
    mixing,
    multimodal,
    packing,
    quality,
    relational,
    scale,
    similarity,
    temporal,
    text,
    timeseries,
    tokenizer,
    training,
    vectors,
    windows,
)
from rws_data_ingester_spark.sources import connector_queries, ingest_queries, pyds  # noqa: F401
from rws_data_ingester_spark.streaming import stream_queries  # noqa: F401

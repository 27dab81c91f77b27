"""The benchmark's workloads: frozen member lists of ``REGISTRY`` queries.

Each workload stresses a different layer (see ``perfbench/README.md``); the
reason for each is its ``why`` in ``BENCHMARK.json``. The lists are sized so
that one warm pass on sf0.1 takes 4-6 s on 4 cores, which lets a run set up
and make its three timed passes in about a minute; a query joins a list only
if it matches its DuckDB oracle on the sf0.01 test data.
"""

from __future__ import annotations

import json
import os

# The reference's Medallion ETL surface plus light TPC-H-like joins and
# aggregates, a window, sessionization, a test statistic and a sketch:
# fixed per-query cost (plan construction, Catalyst, job and task
# scheduling).
OLAP_MIX = (
    "scan_filter_project",
    "derived_metrics",
    "cleaning_normalize",
    "dedup_by_key",
    "top_orders_by_price",
    "grouped_topn",
    "search_documents",
    "having_big_customers",
    "left_join_nation_counts",
    "rolling_7day_revenue",
    "sessionization",
    "ab_test_welch",
    "kll_quantile_sketch_gate",
)

# Read-only LLM-curation operators (operators.dedup / similarity / text)
# next to stream protocols and write round trips (streaming, sources.io
# writes, checkpoints, per-epoch state).
CURATION_WRITE = (
    "simhash_neardups",
    "similarity_topk",
    "token_counts_bpe",
    "stream_exactly_once_totals",
    "partitioned_roundtrip",
    "incremental_rollup_merge",
)

#: workload name -> member queries
WORKLOADS = {"olap-mix": OLAP_MIX, "curation-write": CURATION_WRITE}


def benchmark_spec(root: str) -> dict:
    """``BENCHMARK.json`` at the checkout root: metric names and units."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)

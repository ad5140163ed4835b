"""The query pool of the ``queries`` workload.

Pool membership and cyclic order are fixed; the seed picks the query
the cycle starts from.  Drawing the members by seed instead moved the
median latency by 20-60% between seeds in a simulation over measured
per-query warm times (0.15 s to 4 s at sf0.1), and a seeded
permutation, which changes each query's predecessor, moved it by about
10% between seeds against 3-6% between runs of one seed: both would
hide changes below the regression bounds.

Each pool covers its suite modules with queries whose outputs match
their DuckDB twins at sf0.1.  Queries that write files are kept out:
their fixture caches live at absolute paths outside any temp root.
The tree guard in ``guard.py`` is the authority on what writes; the
excluded tags only say which families are known writers.
"""

from __future__ import annotations

import random

#: workload -> suite modules its pool covers: the read-only SQL/jx
#: modules and the llm/udfs modules.  tpch's one query, the flagship q1
#: (about 1 s warm and 2 s cold on 4 cores, the costliest candidate), is
#: left out for the benchmark's time budget; tpch_extra carries the
#: other TPC-H queries.
MODULES = {
    "queries": (
        "relational",
        "tpch_extra",
        "aggregates",
        "windows",
        "jx_queries",
        "scalars",
        "modern_sql",
        "llm",
        "udfs",
    ),
}

#: registry tags of queries that keep a persisted index, an incremental
#: corpus, decoded media, a trained recall-gate index or a chunk index
#: under the engine's cache directory
EXCLUDED_TAGS = frozenset(
    {
        "index_persistence",
        "incremental_etl",
        "dedup_incremental",
        "multimodal_col",
        "recall_assertion",
        "cdc_chunking",
    }
)

#: workload -> pool members: each module's lower-quartile query by warm
#: latency at sf0.1 among its read-only queries on a 4-core host, chosen
#: by rank, not by name.  Low ranks keep a pass, and each run's cold
#: first pass, short enough for the benchmark's time budget.  The pool is
#: odd-sized (see worker.py).
POOLS = {
    "queries": (
        "setop_except_all_multiset",
        "join_q19_disjunctive_revenue",
        "agg_pivot_status_by_priority",
        "win_lead_lag_gaps",
        "jx_window_user_seq",
        "scalar_template_expand",
        "join_lateral_topk_suppliers",
        "llm_text_stats",
        "udf_scalar_price_band",
    ),
}


def order(workload: str, seed: int) -> list[str]:
    """The pool's fixed cycle, started at a seeded position."""
    pool = list(POOLS[workload])
    k = random.Random(f"{workload}:{seed}").randrange(len(pool))
    return pool[k:] + pool[:k]

"""The benchmark's workloads: which registry ops each one runs, how many
closed-loop clients drive them, and how the seed orders them.

The fixtures are read-only, so the seed changes nothing but op order
(and, with several clients, which client picks up which op).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Each workload runs a fixed subset of the ops its layer is known for.
# A run pays one JVM start, one load of every table and one warm-up pass
# before it measures, and a series of runs must fit a fixed time budget
# on a 4-core host. The speed of such a shared host drifts over tens of
# seconds, so two workloads with long measured windows give steadier
# medians than more workloads with short ones; a streaming op rides in
# ``mapreduce_llm`` rather than in a workload of its own.

#: JVM-only ops: Catalyst, shuffle and the scheduler floor. No
#: construction-time job, no Python worker, no stream. Eight TPC-H
#: queries of bench.py's HEADLINE and q5 (``join_multiway``), chosen for
#: distinct plan shapes (aggregate, top-k, multi-way, semi, anti and
#: outer joins, scalar subquery), plus windows, rollup and an as-of
#: join.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_multiway",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume",
    "q21_suppliers_kept_waiting",
    "q22_sales_opportunity",
    "win_ranking",
    "win_running",
    "agg_rollup",
    "join_asof",
)

#: The MapReduceJob surface and its declarative twins, the pandas UDFs,
#: and ops that run eager jobs or numpy kernels while they build their
#: plan. ``graph_components`` (about 3 s a call, 42 construction jobs)
#: and ``graph_pagerank`` (about 1.3 s) are left out for their length.
MAPREDUCE_LLM = (
    "api_wordcount",
    "api_pipeline",
    "mr_wordcount",
    "udf_grouped_arrow",
    "llm_tfidf",
    "llm_semdedup",
    "join_bloom",
)

#: Micro-batch drains with state: session windows, and a Python state
#: function with event-time timers. Each takes about 2 s a call and a
#: first drain about 5 s, so more do not fit; ``stream_state_audit``
#: alone takes about 10 s a call. A drain narrows the session's
#: ``spark.sql.shuffle.partitions`` while it runs, so these ops never
#: run beside another op: not in warm-up, and not in ``mixed_c4``.
STREAMING = (
    "stream_session_watermarked",
    "stream_stateful_timers",
)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    #: Closed-loop client threads. One client runs whole passes; with
    #: more, clients share one seeded queue for a fixed time window.
    clients: int
    #: Threads of the warm-up pass over the non-streaming ops, whose
    #: results are the reference every later result must match. Concurrent
    #: results are checked against a serial pass, so ``mixed_c4`` warms up
    #: on one thread. Streaming ops warm up after the rest, on one thread.
    warmup_clients: int


#: Threads used for warm-up and for ``mixed_c4``; the session runs on
#: ``local[CPUS]``.
CPUS = 4

WORKLOADS: dict[str, Workload] = {
    "relational": Workload(RELATIONAL, clients=1, warmup_clients=CPUS),
    # The drain with the Python state function carries the streaming
    # layer: triggers, state-store writes and event-time timers.
    "mapreduce_llm": Workload(MAPREDUCE_LLM + ("stream_stateful_timers",), clients=1,
                              warmup_clients=CPUS),
    # Not listed in BENCHMARK.json, which keeps two workloads with long
    # windows: both streaming ops alone, and the mix of four clients,
    # whose serial warm-up pass alone takes about 24 s on a 4-core host
    # and a run about 55 s. Streaming stays out of the mix (see above).
    "streaming": Workload(STREAMING, clients=1, warmup_clients=1),
    "mixed_c4": Workload(RELATIONAL + MAPREDUCE_LLM, clients=CPUS, warmup_clients=1),
}


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a permutation fixed by (seed, pass)."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order

"""Driver-to-JVM chatter while an op BUILDS its plan (not while its
result is fetched): every py4j round trip costs a socket exchange with
the JVM, so an op that sends a large Python list as one ``F.lit`` per
element pays thousands of them before any job runs. This counts
``ClientServerConnection.send_command`` calls while each op of the
benchmark's two workloads is built on the bundled sf0.001 fixture.

Only calls made on the building thread count: py4j's finalizer thread
sends one delete message per freed JVM reference whenever Python's
garbage collector runs, which made a whole-process count drift by ~20%
between builds of one op. The asserts are still bounds, not equalities,
so a plan-neutral change in how an op is spelled does not fail them."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from pymapreduce_spark.registry import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from workloads import WORKLOADS  # noqa: E402

BUDGET_SF_DIR = os.path.join(ROOT, "perfbench", "fixtures", "bench_sf0.001")
#: Round trips any op of the two workloads may spend building its plan.
MAX_CALLS = 1500
#: join_bloom sends its 1024-long bitmap as one string literal.
MAX_CALLS_BLOOM = 600

OPS = sorted(
    set(WORKLOADS["relational"].ops) | set(WORKLOADS["mapreduce_llm"].ops)
)


def _build_calls(spark, op: str, monkeypatch) -> int:
    calls = 0
    send = ClientServerConnection.send_command
    building_thread = threading.get_ident()

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == building_thread
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        QUERIES[op](spark, BUDGET_SF_DIR)
    return calls


@pytest.mark.parametrize("op", OPS)
def test_construction_round_trip_budget(spark, op, monkeypatch):
    # The first build fills the table and probe memos a warm benchmark
    # pass reuses; the second is the one counted.
    QUERIES[op](spark, BUDGET_SF_DIR)
    calls = _build_calls(spark, op, monkeypatch)
    bound = MAX_CALLS_BLOOM if op == "join_bloom" else MAX_CALLS
    assert calls <= bound, (op, calls)

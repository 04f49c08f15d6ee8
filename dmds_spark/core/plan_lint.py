"""Plan-construction cost lint: count py4j round trips while a query
builder runs (guide §1.2 — fixed per-task and per-CALL overhead).

Every Column node built from Python is one or more py4j socket round
trips to the JVM; an expression tree assembled in a Python loop pays
that latency per node, BEFORE a single row is read. Round 15 measured
a constant-folding misstep whose 40 s was pure py4j expression
construction — invisible to .explain() and to the Spark UI, caught
only by wall clock. This module makes that failure mode testable:

    calls = py4j_call_count(lambda: build_query(spark, sf_dir))
    assert calls < BUDGET

The counter hooks ``GatewayClient.send_command`` — the single socket
boundary every py4j proxy call funnels through — so it counts real
JVM round trips, not Python-side sugar. Only the calling thread's
calls count: a concurrent thread (a flush daemon, a lease heartbeat)
shares the hook but not the builder's cost.
"""

from __future__ import annotations

import threading
from typing import Callable

from py4j.java_gateway import GatewayClient


def py4j_call_count(fn: Callable[[], object]) -> int:
    """Run ``fn`` and return the number of py4j JVM round trips the
    calling thread made while it ran. The hook is installed for the
    duration of the call only."""
    n = 0
    me = threading.get_ident()
    orig = GatewayClient.send_command

    def counted(self, *args, **kwargs):  # noqa: ANN001
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = counted
    try:
        fn()
    finally:
        GatewayClient.send_command = orig
    return n

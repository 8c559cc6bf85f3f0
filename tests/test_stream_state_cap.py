"""The state-partition cap of the bounded stateful streams.

Every bounded stateful stream starts under ``streaming.jobs.
_stream_confs``: its state store gets ``min(session shuffle partitions,
STREAM_STATE_PARTITIONS)`` partitions, and the session value is back
once the run ends. The engine's own progress reports are the witness:
each stateful operator's ``numShufflePartitions``.
"""

from __future__ import annotations

import os
import threading

#: the vendored sf0.001 tables
SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                  "perfbench", "data", "sf0.001")


def _state_listener(parts: dict, seen: dict, cond: threading.Condition):
    """Record each query's state-operator partition counts, and in
    ``seen`` the ids of the queries that started and that ended."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with cond:
                seen["started"].add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            with cond:
                parts.setdefault(str(p.id), set()).update(
                    o.numShufflePartitions for o in p.stateOperators or [])

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with cond:
                seen["ended"].add(str(event.id))
                cond.notify_all()

    return Listener()


def test_bounded_stream_state_partitions_capped(spark):
    from stock_data_warehouse_spark.plans.registry import query_fns
    from stock_data_warehouse_spark.streaming.jobs import (
        STREAM_STATE_PARTITIONS,
    )

    parts: dict = {}
    seen: dict = {"started": set(), "ended": set()}
    cond = threading.Condition()
    listener = _state_listener(parts, seen, cond)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.streams.addListener(listener)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        query_fns()["t8_stateful_dedup_stream"](spark, SF).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        # the listener bus is asynchronous; a query's progress events
        # are posted before its termination, and a query that started
        # before the listener (an earlier test's) is not counted
        with cond:
            assert cond.wait_for(lambda: any(
                parts.get(i) for i in seen["started"] & seen["ended"]),
                60), "no stateful query started and ended"
            stateful = {i: parts[i]
                        for i in seen["started"] & seen["ended"]
                        if parts.get(i)}
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert all(max(p) <= STREAM_STATE_PARTITIONS
               for p in stateful.values()), stateful

"""Streaming sessionization: custom stateful operator with event-time
timers.

The reference carries event-time but does no session analysis; the
persisted fact table exists so events "can be aggregated and analyzed
over longer periods" (reference: README.md:9-12). Batch sessionization
is plans/analytics.py::q_sessionize; this is the *streaming* twin: one
row per closed session, emitted as soon as the event-time watermark
passes the inactivity gap. Sessions need a *timer* — a session closes
when NO event arrives — so this cannot be a windowed aggregation; it is
the canonical use for keyed state + event-time timeout.

``sessionize_stream`` is applyInPandasWithState with
GroupStateTimeout.EventTimeTimeout, on either state store provider
(HDFS-backed or RocksDB).

State per key is one fixed-width tuple (start_us, end_us, n), dropped
on emit — O(open sessions), sharded by key hash across executors; no
driver-side state, no unbounded growth at 1000-executor scale.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = (
    "key string, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start_us long, end_us long, n long"


def _session_row(key: str, start_us: int, end_us: int, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "key": [key],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(end_us, unit="us")],
            "n_events": [n],
        }
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "timestamp",
    key_col: str = "lemma",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Closed sessions (key, session_start, session_end, n_events) over
    a streaming frame; a session closes ``gap`` of event-time after its
    last event (watermark-driven, so emission waits for the watermark
    to prove no extension can arrive)."""
    gap_ms = _duration_seconds(gap) * 1000

    gap_us = gap_ms * 1000

    def track(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield _session_row(key[0], s, e, n)
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value) // 1000 for t in pdf[ts_col])
        if not ts_us:
            return
        ts_us.sort()
        # segment by gap; an event within gap of the OPEN session's end
        # extends it, a farther one closes it (the timer is only the
        # no-more-events path — in-handler splitting keeps sessions
        # correct when the next event arrives before the timer fires)
        cur = list(state.get) if state.exists else None
        for t in ts_us:
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] <= gap_us:
                # a late-but-in-watermark event can PRECEDE the stored
                # session's start (it arrives in a later batch): the
                # start must move back or the emitted session diverges
                # from the batch twin
                cur[0] = min(cur[0], t)
                cur[1] = max(cur[1], t)
                cur[2] += 1
            else:
                yield _session_row(key[0], *cur)
                cur = [t, t, 1]
        state.update(tuple(cur))
        # close when the watermark passes last event + gap
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_ms)

    keyed = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias(ts_col),
    ).withWatermark(ts_col, watermark)
    return keyed.groupBy("key").applyInPandasWithState(
        track,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _duration_seconds(s: str) -> int:
    qty, unit = s.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[unit]
    return int(qty) * mult

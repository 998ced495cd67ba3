"""Streaming CDC state: keyed last-write-wins compaction as a custom
stateful operator — the streaming twin of ``plans.analytics.q_cdc_apply``.

The reference holds its mutable keyed state (the lemma dimension) in an
atom swapped per refresh (wbdb.clj:39-49); here the state is first-class
streaming state: one applyInPandasWithState GroupState per key,
updated by (ts, event_id)-ordered last-writer-wins. Deletes
(tombstones) are RETAINED in state rather than cleared — the stored
(ts, event_id) watermark is what rejects stale replays of pre-delete
records; clearing on delete would resurrect them (ADVICE r1). At
scale a delete-heavy stream therefore needs a state TTL/timeout to
eventually evict tombstoned keys. Output mode Update: each micro-batch
emits the new live state for every touched key, or a NULL-valued
tombstone row so a downstream sink can delete.

Runs on either state store provider (HDFS-backed or RocksDB).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# (ts_us, event_id, value) — the per-key live record
_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)

CDC_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("updated_at_us", LongType()),
        StructField("state_value", DoubleType()),  # NULL = tombstone
    ]
)


def latest_state_stream(
    events: DataFrame, delete_below: float = 10.0
) -> DataFrame:
    """Keyed LWW state over a stream of upserts/deletes.

    ``events`` needs columns (user_id, event_type, timestamp, event_id,
    value); a row with value < ``delete_below`` is a delete. Last
    writer by (timestamp, event_id) wins, including against the stored
    state — late arrivals older than the current state are ignored,
    which is what makes the operator safe under at-least-once replay.
    """
    def track(key, pdfs, state: GroupState):
        best = None
        for pdf in pdfs:
            for ts, eid, val in zip(
                pdf["timestamp"], pdf["event_id"], pdf["value"]
            ):
                cand = (int(ts.value) // 1000, int(eid), float(val))
                if best is None or cand[:2] > best[:2]:
                    best = cand
        if best is None:
            return
        if state.exists:
            cur = tuple(state.get)
            if cur[:2] >= best[:2]:
                return  # stale input — state already newer
        state.update(best)
        user_id, event_type = key
        deleted = best[2] < delete_below
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)],
                "event_type": [event_type],
                "updated_at_us": [best[0]],
                "state_value": [None if deleted else best[2]],
            }
        )

    keyed = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("timestamp"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        track,
        outputStructType=CDC_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


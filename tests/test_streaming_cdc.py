"""Streaming CDC last-write-wins state (streaming/cdc.py): upserts win
by (ts, event_id), deletes emit tombstones, stale replays are ignored
— the streaming twin of plans.analytics.q_cdc_apply."""

from __future__ import annotations

import json
import os
import time

from dwds_livestream_spark.streaming.cdc import latest_state_stream


def _row(eid: int, ts: str, uid: int, etype: str, value: float) -> str:
    return json.dumps(
        {"event_id": eid, "timestamp": ts, "user_id": uid,
         "event_type": etype, "value": value}
    )


def _read_stream(spark, srcdir):
    schema = (
        "event_id long, timestamp timestamp, user_id long, "
        "event_type string, value double"
    )
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(srcdir))
        .selectExpr(f"from_json(value, '{schema}') AS e")
        .select("e.*")
    )


def test_lww_upsert_delete_and_stale_replay(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: initial state for two keys
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _row(1, "2024-01-01T00:00:00Z", 1, "a", 50.0),
                _row(2, "2024-01-01T00:00:00Z", 2, "a", 60.0),
            ]
        )
    )
    # batch 2: newer upsert for key 1; tombstone (<10) for key 2;
    # stale replay (older ts) for key 1 in the same batch loses.
    (src / "b2.jsonl").write_text(
        "\n".join(
            [
                _row(3, "2024-01-01T00:01:00Z", 1, "a", 70.0),
                _row(1, "2024-01-01T00:00:00Z", 1, "a", 50.0),
                _row(4, "2024-01-01T00:01:00Z", 2, "a", 5.0),
            ]
        )
    )
    now = time.time()
    for i, f in enumerate(sorted(src.iterdir())):
        os.utime(f, (now + i, now + i))

    out = latest_state_stream(_read_stream(spark, src))
    rows: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda b, i: rows.append((i, b.collect())))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = [r for _, batch in rows for r in batch]
    by_batch_key = {(b, r.user_id): r for b, batch in rows for r in batch}
    # batch 1: both keys live
    assert by_batch_key[(0, 1)].state_value == 50.0
    assert by_batch_key[(0, 2)].state_value == 60.0
    # batch 2: key 1 upserted by the NEWER row (stale replay ignored),
    # key 2 tombstoned (NULL state_value)
    assert by_batch_key[(1, 1)].state_value == 70.0
    assert by_batch_key[(1, 2)].state_value is None
    assert len(emitted) == 4  # one state row per touched key per batch

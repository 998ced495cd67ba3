"""Streaming sessionization (streaming/sessions.py): sessions close
when the watermark passes the inactivity gap, extend across
micro-batches, and handle interleaved keys."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from dwds_livestream_spark.streaming.sessions import sessionize_stream


def _jsonl(ts: str, lemma: str) -> str:
    return json.dumps({"timestamp": ts, "lemma": lemma})


def _order_files(srcdir):
    now = time.time()
    for i, f in enumerate(sorted(srcdir.iterdir())):
        os.utime(f, (now + i, now + i))


def _read_stream(spark, srcdir):
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(srcdir))
        .selectExpr("from_json(value, 'timestamp timestamp, lemma string') AS e")
        .select("e.timestamp", "e.lemma")
    )


def _run_append(out, tmp_path, name):
    rows: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return rows


def _write_gap_fixture(src):
    src.mkdir()
    # key "a": two events 10s apart (one session); key "b": one event.
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:00Z", "a"),
                _jsonl("2024-01-01T10:00:10Z", "a"),
                _jsonl("2024-01-01T10:00:05Z", "b"),
            ]
        )
    )
    # second session for "a" well past the 60s gap
    (src / "b2.jsonl").write_text(_jsonl("2024-01-01T10:30:00Z", "a"))
    # watermark pushers so every open session closes
    (src / "b3.jsonl").write_text(_jsonl("2024-01-01T11:00:00Z", "c"))
    (src / "b4.jsonl").write_text(_jsonl("2024-01-01T12:00:00Z", "d"))
    _order_files(src)


def _check_gap_sessions(rows):
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    a = sorted(by_key["a"], key=lambda r: r.session_start)
    assert len(a) == 2
    assert a[0].n_events == 2
    assert a[0].session_start == dt.datetime(2024, 1, 1, 10, 0, 0)
    assert a[0].session_end == dt.datetime(2024, 1, 1, 10, 0, 10)
    assert a[1].n_events == 1
    assert len(by_key["b"]) == 1 and by_key["b"][0].n_events == 1
    assert len(by_key["c"]) == 1  # closed by d's watermark advance


def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    src = tmp_path / "src"
    _write_gap_fixture(src)
    out = sessionize_stream(
        _read_stream(spark, src), gap="1 minute", watermark="10 seconds"
    )
    _check_gap_sessions(_run_append(out, tmp_path, "gap"))


def test_sessionize_stream_extends_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # second batch arrives within the gap -> ONE session of 3 events
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:00Z", "x"),
                _jsonl("2024-01-01T10:00:20Z", "x"),
            ]
        )
    )
    (src / "b2.jsonl").write_text(_jsonl("2024-01-01T10:00:50Z", "x"))
    (src / "b3.jsonl").write_text(_jsonl("2024-01-01T11:00:00Z", "flush"))
    (src / "b4.jsonl").write_text(_jsonl("2024-01-01T12:00:00Z", "flush2"))
    _order_files(src)

    out = sessionize_stream(
        _read_stream(spark, src), gap="1 minute", watermark="5 seconds"
    )
    rows = _run_append(out, tmp_path, "extend")
    x = [r for r in rows if r.key == "x"]
    assert len(x) == 1
    assert x[0].n_events == 3
    assert x[0].session_end == dt.datetime(2024, 1, 1, 10, 0, 50)


def test_sessionize_stream_late_event_moves_session_start_back(
    spark, tmp_path
):
    """Review fix: a late-but-in-watermark event that PRECEDES the
    stored session's start must move session_start back, keeping
    parity with the batch sessionizer."""
    src = tmp_path / "src_late"
    src.mkdir()
    (src / "b1.jsonl").write_text(_jsonl("2024-01-01T10:00:00Z", "k"))
    # later batch, earlier event time: within the 10-minute watermark
    # and within the gap of the open session
    (src / "b2.jsonl").write_text(_jsonl("2024-01-01T09:59:40Z", "k"))
    (src / "b3.jsonl").write_text(_jsonl("2024-01-01T11:00:00Z", "flush"))
    (src / "b4.jsonl").write_text(_jsonl("2024-01-01T12:00:00Z", "flush2"))
    _order_files(src)

    out = sessionize_stream(
        _read_stream(spark, src), gap="1 minute", watermark="10 minutes"
    )
    rows = _run_append(out, tmp_path, "late_start")
    k = [r for r in rows if r.key == "k"]
    assert len(k) == 1
    assert k[0].n_events == 2
    assert k[0].session_start == dt.datetime(2024, 1, 1, 9, 59, 40)
    assert k[0].session_end == dt.datetime(2024, 1, 1, 10, 0, 0)

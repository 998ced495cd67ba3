"""Structured Streaming parity tests (SURVEY.md §3): live pipeline,
collector persistence with exactly-once restart, metrics listener."""

from __future__ import annotations

import datetime as dt
import json
import time

import pytest

from pyspark.sql import Row

from dwds_livestream_spark.functions.access_log import access_log_to_events
from dwds_livestream_spark.operators.enrich import enrich
from dwds_livestream_spark.functions.encode import to_json_events
from dwds_livestream_spark.schemas import DIMENSION
from dwds_livestream_spark.sinks.fact_sink import parquet_writer, start_fact_sink
from dwds_livestream_spark.streaming.metrics import ThroughputListener
from dwds_livestream_spark.streaming.pipeline import collector_stream, start_live_server

UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"


def log_line(lemma: str, sec: int) -> str:
    return (
        f'10.0.0.1 - - [08/Dec/2024:23:00:{sec:02d} +0000] '
        f'"GET /wb/{lemma} HTTP/1.1" 200 100 "-" "{UA}"'
    )


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(
        [
            Row(lemma="obskur", hidx=None, lemma_type="AR_G", form_type="Hauptform",
                article_type="Vollartikel", status="Red-f", source="WDG",
                date=dt.date(1974, 1, 1)),
        ],
        DIMENSION,
    ).drop("status")


def test_live_pipeline_end_to_end(spark, tmp_path, dim):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text(
        "\n".join([log_line("obskur", 1), log_line("unknown", 2)])
    )
    published: list[str] = []

    q = start_live_server(
        spark,
        str(logdir),
        dimension_loader=lambda: dim,
        checkpoint=str(tmp_path / "ckpt"),
        publish=lambda lines, bid: published.extend(lines),
        trigger={"availableNow": True},
    )
    q.awaitTermination(60)
    events = sorted(json.loads(x)["lemma"] for x in published)
    assert events == ["obskur", "unknown"]
    enriched = {json.loads(x)["lemma"]: json.loads(x) for x in published}
    assert enriched["obskur"]["source"] == "WDG"
    assert "source" not in enriched["unknown"]  # merge semantics

    # batch/stream parity (reference log->edn, server.clj:37-48): the
    # same transforms over read.text produce the same wire lines
    batch = to_json_events(
        enrich(access_log_to_events(spark.read.text(str(logdir))), dim)
    )
    assert sorted(r.value for r in batch.collect()) == sorted(published)


def test_collector_exactly_once_restart(spark, tmp_path):
    src = tmp_path / "jsonl"
    src.mkdir()
    out = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")

    def event(lemma, hidx=None):
        e = {"timestamp": "2024-12-08T23:00:18Z", "lemma": lemma,
             "lemma_type": "AR_G", "form_type": "Hauptform",
             "article_type": "Vollartikel", "source": "WDG",
             "date": "1974-01-01"}
        if hidx is not None:
            e["hidx"] = hidx
        return json.dumps(e)

    (src / "b1.jsonl").write_text("\n".join([event("obskur"), event("Band", 1)]))

    def run_once():
        q = start_fact_sink(
            collector_stream(spark, str(src)),
            parquet_writer(out),
            checkpoint=ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)

    run_once()
    first = {r.lemma for r in spark.read.parquet(out).collect()}
    assert first == {"obskur", "Band#1"}  # P8 encoding applied

    # restart with the same checkpoint + one new file: old rows not
    # re-written (exactly-once upgrade over the reference, SURVEY §1.4)
    (src / "b2.jsonl").write_text(event("neu"))
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.lemma for r in rows) == ["Band#1", "neu", "obskur"]
    r = {x.lemma: x for x in rows}["Band#1"]
    assert r.ts == dt.datetime(2024, 12, 8, 23, 0, 18)
    assert r.article_date == dt.date(1974, 1, 1)


def test_throughput_listener(spark, tmp_path, dim):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text("\n".join(log_line("obskur", s) for s in range(30)))
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        q = start_live_server(
            spark,
            str(logdir),
            dimension_loader=lambda: dim,
            checkpoint=str(tmp_path / "ckpt"),
            publish=lambda lines, bid: None,
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)
        deadline = time.time() + 10
        while time.time() < deadline and not listener.totals:
            time.sleep(0.2)
        assert sum(listener.totals.values()) >= 30  # meter counted the lines
    finally:
        spark.streams.removeListener(listener)


def test_malformed_lines_observed_and_dropped(spark, tmp_path):
    """The collector path counts malformed lines in observedMetrics
    (never silently) while dropping them from the typed stream."""
    import json as _json
    import time as _time

    from dwds_livestream_spark.streaming.metrics import ThroughputListener
    from dwds_livestream_spark.streaming.pipeline import collector_stream

    src = tmp_path / "jsonl"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"timestamp": "2024-12-08T23:00:18Z", "lemma": "obskur"}),
                "garbage {",
                _json.dumps({"lemma": "no-ts"}),
            ]
        )
    )
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        rows = []
        q = (
            collector_stream(spark, str(src))
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, i: rows.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is asynchronous
        for _ in range(50):
            if listener.totals.get("malformed"):
                break
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert [r.lemma for r in rows] == ["obskur"]
    assert listener.totals.get("malformed") == 2


def test_curation_operators_are_stream_generic(spark, tmp_path):
    """Design-stance proof (SURVEY.md §7): the quality batteries are
    pure DataFrame->DataFrame transforms, so the SAME function runs on
    a readStream frame — batch/stream parity without code changes."""
    import json

    from dwds_livestream_spark.operators.curation import (
        c4_clean,
        gopher_quality,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "A good sentence with five words here."},
        {"doc_id": 2, "text": "no"},
    ]
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    q = (
        c4_clean(gopher_quality(stream).join(
            stream.select("doc_id", "text"), "doc_id"
        ).select("doc_id", "text"))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(str(out)).collect()
    }
    batch = {
        r["doc_id"]: r
        for r in c4_clean(
            spark.read.schema("doc_id long, text string").json(str(src))
        ).collect()
    }
    assert set(got) == {1, 2}
    for k in got:
        assert got[k]["n_lines_kept"] == batch[k]["n_lines_kept"]
        assert got[k]["keep"] == batch[k]["keep"]

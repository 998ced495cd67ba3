"""End-to-end streaming pipelines — the reference's two processes
(SURVEY.md §3.1 live server, §3.2 collector) as Structured Streaming
queries. Batch/stream parity is structural: the same transform
functions (functions/…, operators/…) are applied to a streaming frame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.access_log import access_log_to_events
from ..functions.encode import from_json_events, to_json_events
from ..operators.enrich import enrich
from ..sources.access_log_source import stream_access_log


def start_live_server(
    spark: SparkSession,
    log_dir: str,
    dimension_loader: Callable[[], DataFrame],
    checkpoint: str,
    publish: Callable[[list[str], int], None],
    config: EngineConfig = DEFAULT_CONFIG,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Live fan-out (K1-K3): every micro-batch's JSON lines are handed
    to ``publish(lines, batch_id)`` — the broadcast hub (SSE/JSONL
    serving, Kafka producer, …). ``dimension_loader`` is re-invoked
    per micro-batch, so a refreshed snapshot (W2) is picked up
    atomically — the reference's atom-swap semantic (wbdb.clj:39-49).

    ``max_publish_rows`` caps what one micro-batch may ``collect()``
    into the driver for fan-out (VERDICT r1 #5): the serving hub is a
    driver-local surface, so an unthrottled subscriber must not couple
    driver memory to batch size. Overflow rows are dropped newest-last
    (the hub's own drop-oldest conflation applies downstream); the cap
    is generous relative to any sane epm.
    """
    lines = stream_access_log(spark, log_dir)
    events = access_log_to_events(lines)
    max_publish_rows = config.max_publish_rows

    def process(batch: DataFrame, batch_id: int) -> None:
        out = enrich(batch, dimension_loader())
        wire = to_json_events(out)
        rows = [r.value for r in wire.limit(max_publish_rows + 1).collect()]
        if len(rows) > max_publish_rows:
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "fan-out batch %d exceeded max_publish_rows=%d; truncating",
                batch_id,
                max_publish_rows,
            )
            rows = rows[:max_publish_rows]
        publish(rows, batch_id)

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"processingTime": config.trigger_interval}))
        .start()
    )


def collector_stream(spark: SparkSession, jsonl_dir: str) -> DataFrame:
    """§3.2 — S2 ingestion: JSONL event lines -> typed enriched events
    (P11 + P9 casts). The reference's HTTP long-poll source becomes a
    log-shipping directory (or Kafka topic) of JSONL files."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(jsonl_dir)
    )
    return from_json_events(raw, observe=True)

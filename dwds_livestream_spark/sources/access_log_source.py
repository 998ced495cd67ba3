"""S1/S4/S5 — access-log sources.

Reference S1 tails a single appended file with a 1000 ms poll, starting
at EOF, surviving rotation (src/dwds/livestream/access_log.clj:101-125).
Spark's file source ingests *new files*, not appended lines, so the
idiomatic equivalent is a log-shipping directory consumed by
``readStream.text`` with a 1 s processing-time trigger — rotation IS the
unit of delivery. S4 (batch replay of a whole log,
src/dwds/livestream/server.clj:37-48) is the same plan on ``read.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Admission bound standing in for the reference's 8192-event sliding
# buffer (collector.clj:127-128): Spark backpressures instead of
# shedding load (SURVEY.md §1.4, an intentional upgrade).
MAX_FILES_PER_TRIGGER = 16


def stream_access_log(spark: SparkSession, path: str) -> DataFrame:
    """S1 — unbounded read of a log-shipping directory (column ``value``)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(path)
    )

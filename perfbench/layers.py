"""Time the batch parse path layer by layer through the engine's public
functions, on the same access log and dimension the replay CLI reads.

Usage: python3 perfbench/launch.py perfbench/layers.py ACCESS_LOG DIMENSION OUT.json

Each stage's input is cached first, so a stage is timed on its own:
parse/filter over the raw lines, enrich over the parsed events, EDN
encoding over the enriched rows. A stage's time is the median of three
``noop`` writes.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

from dwds_livestream_spark.functions.access_log import access_log_to_events
from dwds_livestream_spark.functions.encode import to_edn_events
from dwds_livestream_spark.operators.enrich import enrich
from dwds_livestream_spark.session import build_session
from dwds_livestream_spark.sources.dimension import load_dimension_parquet


def seconds(df) -> float:
    runs = []
    for _ in range(3):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.time() - t0)
    return statistics.median(runs)


def cached(df):
    df = df.cache()
    df.count()
    return df


def main() -> None:
    log, dim_path, out = sys.argv[1:4]
    spark = build_session(app_name="perfbench-layers")
    spark.sparkContext.setLogLevel("ERROR")
    # each stage is timed before its own output is cached: the cache
    # manager would otherwise answer the timed plan from that cache
    lines = cached(spark.read.text(log))
    result = {"parse_filter_s": seconds(access_log_to_events(lines))}
    events = cached(access_log_to_events(lines))
    dim = cached(load_dimension_parquet(spark, dim_path))
    result["enrich_s"] = seconds(enrich(events, dim))
    result["wire_s"] = seconds(to_edn_events(cached(enrich(events, dim))))
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()

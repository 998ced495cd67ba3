"""Run repo entry points (script paths) with the benchmark's probes.

Usage:
  python3 perfbench/launch.py SCRIPT [ARGS...]
  python3 perfbench/launch.py --steps OUT_DIR SCRIPT [ARGS...] [--then SCRIPT [ARGS...]]...

Each script runs unchanged through ``runpy`` as ``__main__``; with
``--steps`` they run one after another in this one process (so they
share one JVM and its set-up), each with its stdout in
``OUT_DIR/<script stem>.out``. Before the first starts, a few public
functions of the engine package are wrapped so the benchmark can see
when the process is ready and when output leaves it. Each probe appends
one JSON object per line to ``$PERFBENCH_MARKS``:

- always: ``session`` (``build_session`` returned; its duration),
  ``go`` and ``done`` around each script (with its stem as ``step``),
  ``publish`` (every ``BroadcastHub.publish`` call: entry time, batch id,
  the published lines, the call's duration);
- with ``PERFBENCH_TRACE=1`` also: Spark's event log is switched on
  (``$PERFBENCH_EVENTLOG``), ``snapshot`` (each dimension snapshot build:
  seconds and rows out), ``sink_write`` (each fact-sink write call) and
  ``gc`` (cumulative JVM collection time: after each publish, and when
  each script returns).

The live server's file tail is started at a fixed offset (half a second)
from the whole-second grid its 1 s processing-time trigger fires on.
Both are 1 s timers, so their relative phase decides how long a spooled
file waits for the next trigger (0-1 s). Left to chance, that phase
differs from run to run and moves event latency by up to a second;
pinned to the midpoint, every run sees the expected wait of a randomly
phased deployment.
"""

from __future__ import annotations

import contextlib
import json
import os
import runpy
import sys
import threading
import time

TAIL_PHASE_S = 0.5

_marks_path = os.environ["PERFBENCH_MARKS"]
_trace = os.environ.get("PERFBENCH_TRACE") == "1"
_lock = threading.Lock()


def mark(kind: str, **fields) -> None:
    rec = json.dumps({"kind": kind, "t": time.time(), **fields}, ensure_ascii=False)
    with _lock, open(_marks_path, "a", encoding="utf-8") as fh:
        fh.write(rec + "\n")


def _gc_ms(spark) -> int | None:
    try:
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:  # noqa: BLE001 — JVM already gone
        return None


def install() -> None:
    from pyspark.sql import SparkSession

    from dwds_livestream_spark import session as session_mod
    from dwds_livestream_spark.sources.tail import FileTailShim
    from dwds_livestream_spark.streaming.hub import BroadcastHub

    build = session_mod.build_session

    def build_session(*args, **kwargs):
        if _trace:
            conf = dict(kwargs.get("extra_conf") or {})
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.environ["PERFBENCH_EVENTLOG"],
                "spark.eventLog.compress": "false",
            })
            kwargs["extra_conf"] = conf
        t0 = time.time()
        spark = build(*args, **kwargs)
        mark("session", build_s=time.time() - t0)
        return spark

    session_mod.build_session = build_session

    publish = BroadcastHub.publish

    def timed_publish(self, lines, batch_id):
        t0 = time.time()
        publish(self, lines, batch_id)
        mark("publish", t=t0, batch=batch_id, dur=time.time() - t0, lines=list(lines))
        if _trace:
            # the server never returns from awaitTermination, so its
            # collection time is read while it runs
            mark("gc", ms=_gc_ms(SparkSession.getActiveSession()))

    BroadcastHub.publish = timed_publish

    run_forever = FileTailShim.run_forever

    def phased_run_forever(self):  # the tail's own thread
        time.sleep((TAIL_PHASE_S - time.time()) % 1.0)
        return run_forever(self)

    FileTailShim.run_forever = phased_run_forever

    if not _trace:
        return

    from dwds_livestream_spark.sinks import fact_sink
    from dwds_livestream_spark.sources.dimension import DimensionSnapshot

    refresh = DimensionSnapshot.refresh

    def timed_refresh(self):
        t0 = time.time()
        refresh(self)
        dur = time.time() - t0
        mark("snapshot", s=dur, rows_out=self.current().count())

    DimensionSnapshot.refresh = timed_refresh

    writer_factory = fact_sink.parquet_writer

    def parquet_writer(path):
        write = writer_factory(path)

        def timed_write(batch, batch_id):
            t0 = time.time()
            write(batch, batch_id)
            mark("sink_write", batch=batch_id, ms=(time.time() - t0) * 1000)

        return timed_write

    fact_sink.parquet_writer = parquet_writer


def run_script(argv: list[str], stdout) -> None:
    step = os.path.splitext(os.path.basename(argv[0]))[0]
    sys.argv = argv
    mark("go", step=step)
    try:
        with contextlib.redirect_stdout(stdout):
            runpy.run_path(argv[0], run_name="__main__")
    finally:
        if _trace:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                mark("gc", step=step, ms=_gc_ms(spark))
        mark("done", step=step)


def main() -> None:
    args = sys.argv[1:]
    out_dir = None
    if args[0] == "--steps":
        out_dir, args = args[1], args[2:]
    steps, cur = [], []
    for a in args:
        if a == "--then":
            steps.append(cur)
            cur = []
        else:
            cur.append(a)
    steps.append(cur)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(steps[0][0]))))
    install()
    for argv in steps:
        if out_dir is None:
            run_script(argv, sys.stdout)
            continue
        stem = os.path.splitext(os.path.basename(argv[0]))[0]
        with open(os.path.join(out_dir, f"{stem}.out"), "w", encoding="utf-8") as fh:
            run_script(argv, fh)


if __name__ == "__main__":
    main()

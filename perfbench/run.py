"""The repo benchmark: the deployed entry points, end to end and by layer.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Every run drives all four deployed entry points (``local[<cores>]``,
2 GB driver heap) on inputs made from the seed by ``gen.py``:

1. live, in its own process: ``scripts/serve.py --tail-file`` tails one
   access log that ``loadgen.py`` (a separate process) appends to on an
   open-loop schedule at the reference 100 raw lines/s, with a 500k-row
   dimension; two unthrottled ``/api/jsonl`` subscribers and one
   ``/api/events?epm=45`` subscriber read the stream. Per-batch costs
   dominate here: tail poll, file discovery, trigger planning, the
   dimension broadcast rebuilt every batch, collect and publish.

Then, one after another in a second process that shares one JVM:

2. replay: ``scripts/replay_log.py`` (the reference's ``log->edn``) over
   a generated access log with the same dimension and traffic mix:
   prefilter, regex, bot alternation, enrich probe, EDN encoding and
   driver-side iteration per line, plus the one-off dimension dedup and
   broadcast.
3. collect: ``scripts/collect.py --once`` drains a JSONL backlog (the
   live wire format, with malformed lines and over-long lemmata) into
   the date-partitioned parquet fact table. The only write path.
4. inventory: a fixed slice of ``plans.QUERIES`` on generated tables
   with the schemas of the repo's testdata (sf0.01 sizes), each timed as plan
   construction plus ``count()`` after ``drop_leftover_state``.

The workload sets the size of the replay log (``WORKLOADS``): small
enough that the replay's one-off costs set ``replay_lines_per_s``, or
twelve times that, so that its per-row work moves it too. The other
three phases are the same in both. The batch inputs are written before
the first entry point starts. Every run checks every output against the
plain-Python ground truth of ``gen.py`` (row counts of the inventory
against DuckDB over ``plans.ORACLE_SQL``), reports every run as
measured, and prints one JSON object as the last line of stdout; a
human-readable table goes to stderr. ``--trace 1`` runs the same
composite with the probes of ``launch.py`` and Spark's event log on,
and reports the per-layer metrics, plus each end-to-end metric as
measured under tracing (``traced.<name>``): its difference from an
untraced run of the same seed is the tracing overhead.

Percentiles are nearest-rank and are only reported with at least ten
samples beyond them; a run that cannot meet that fails instead of
printing a number.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import socket
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import evlog  # noqa: E402
import gen  # noqa: E402
import procs  # noqa: E402

# workload -> copies of the generated replay block in the replay log (a
# directory of log files, one per copy). One copy (19.5k lines at 26 s):
# the dimension dedup and broadcast and the job start-up take nearly all
# of the replay. Twelve (234k lines): per-row parsing, enrichment, EDN
# encoding and driver-side iteration take a third or more of it.
WORKLOADS = {
    "live_reference_rate": 1,
    "log_replay": 12,
}
LIVE_RATE = 100.0  # raw access-log lines/s of the reference deployment (README:6-8)
ENTRY_POINTS = (
    "scripts/serve.py",
    "scripts/replay_log.py",
    "scripts/collect.py",
    "dwds_livestream_spark/plans/registry.py",
)
DRIVER_MEM = "2g"
LIVE_SHARE = 0.5  # share of --seconds given to the measured live window
LIVE_WARMUP_S = 2.0  # traffic before the window (checked, not timed)
LIVE_DRAIN_S = 3.0
REPLAY_LINES_PER_S = 750  # lines of the replay block per --seconds second
BACKLOG_LINES_PER_S = 1_000  # generated backlog lines per --seconds second,
BACKLOG_COPIES = 12  # each written this many times,
BACKLOG_FILES = 96  # into this many files: six collector batches of 16
# A fixed registry slice, sized to fit the run: the two pipeline-parity
# entries, the entries ROADMAP C1, C2, C4 and C5 name, and TPC-H Q1 (the
# ``__spark_entry__`` smoke query). Left out: dedup_clusters (C3), whose
# cost follows the diameter of the random near-duplicate graph (on
# generated documents, 3 s to past the run's time limit).
INVENTORY = (
    "access_log_parse",
    "events_enrich",
    "triangle_count",
    "dedup_yield_curve",
    "pagerank_trade",
    "ann_index_topk_fullprobe",
    "q1_pricing_summary",
)

E2E = {  # name -> unit
    "setup_s": "s",
    "event_latency_p50_s": "s",
    "event_latency_p95_s": "s",
    "delivery_latency_p50_s": "s",
    "replay_lines_per_s": "lines/s",
    "collect_rows_per_s": "rows/s",
    "inventory_s": "s",
}


class BenchError(Exception):
    """The benchmark itself could not produce a valid measurement."""


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; needs at least ten samples beyond it."""
    v = sorted(values)
    k = max(0, math.ceil(p * len(v)) - 1)
    if len(v) - 1 - k < 10:
        raise BenchError(f"p{p * 100:g} needs 10 samples beyond it; {len(v)} samples")
    return v[k]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def read_marks(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


class Checks:
    """Attempted and failed operations, with the first few failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{what}: {failed} of {attempted}")


class Composite:
    """One run over the four entry points: the live server in its own
    process, then the three batch entry points in a second one."""

    def __init__(self, trace: bool, work: str, inputs: dict, checks: Checks):
        self.trace, self.work, self.inputs, self.checks = trace, work, inputs, checks
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.serve_setup = self.batch_setup = 0.0
        self.gc_ms = 0
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    def spawn(self, name: str, argv: list[str]) -> procs.Child:
        d = os.path.join(self.work, name)
        os.makedirs(os.path.join(d, "eventlog"), exist_ok=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(os.cpu_count()),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONPATH=ROOT,
            TMPDIR=os.path.join(self.work, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "tmp"),
            # keep the JVM's temp files and perf-data file inside the checkout
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            PERFBENCH_MARKS=os.path.join(d, "marks.jsonl"),
            PERFBENCH_TRACE="1" if self.trace else "0",
            PERFBENCH_EVENTLOG=os.path.join(d, "eventlog"),
        )
        cmd = [sys.executable, os.path.join(HERE, "launch.py")] + argv
        return procs.Child(cmd, d, env, os.path.join(d, "stdout"), os.path.join(d, "stderr"))

    def marks(self, name: str) -> list[dict]:
        return read_marks(os.path.join(self.work, name, "marks.jsonl"))

    def events(self, name: str) -> list[dict]:
        return evlog.events(os.path.join(self.work, name, "eventlog"))

    def last_gc(self, name: str) -> None:
        gc = [m["ms"] for m in self.marks(name) if m["kind"] == "gc" and m["ms"] is not None]
        self.gc_ms += gc[-1] if gc else 0

    # -- phase 1: live ------------------------------------------------
    def live(self) -> tuple[dict, str, str]:
        """Serve, load and stop; returns the load generator's result and
        the server's spool and checkpoint directories."""
        d = os.path.join(self.work, "live")
        os.makedirs(d, exist_ok=True)
        log = os.path.join(d, "access.log")
        open(log, "w").close()
        spool, ckpt = os.path.join(d, "spool"), os.path.join(d, "checkpoint")
        port = free_port()
        serve = self.spawn("live", [
            os.path.join(ROOT, "scripts/serve.py"), spool, self.inputs["dimension"],
            "--port", str(port), "--tail-file", log, "--checkpoint", ckpt,
        ])
        try:
            self.serve_setup = serve.wait_for_output("serving http", 120) - serve.spawned
            measured = self.inputs["live_seconds"]
            lg_out, stop = os.path.join(d, "loadgen.json"), os.path.join(d, "loadgen.stop")
            loadgen = procs.Child(
                [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(self.inputs["seed"]),
                 "--rate", str(LIVE_RATE), "--warmup", str(LIVE_WARMUP_S),
                 "--seconds", str(measured), "--drain", str(LIVE_DRAIN_S), "--stop", stop,
                 "--log", log, "--port", str(port), "--out", lg_out],
                d, dict(os.environ), os.path.join(d, "loadgen.out"), os.path.join(d, "loadgen.err"),
            )
            try:
                # end the drain once every expected event is published
                n_kept = sum(e is not None for e in self.inputs["live"].expected)
                published = PublishCounter(os.path.join(d, "marks.jsonl"))
                while loadgen.proc.poll() is None:
                    if published.lines() >= n_kept:
                        time.sleep(0.2)  # the subscribers' last frames
                        open(stop, "w").close()
                        break
                    time.sleep(0.1)
                if loadgen.wait(measured + LIVE_WARMUP_S + LIVE_DRAIN_S + 60) != 0:
                    raise BenchError("load generator failed: " + open(os.path.join(d, "loadgen.err")).read()[-500:])
            finally:
                loadgen.kill()
        finally:
            serve.terminate(10)
        self.layer["live.peak_rss_mb"] = serve.peak_rss / 1e6
        with open(lg_out, encoding="utf-8") as fh:
            return json.load(fh), spool, ckpt

    def analyse_live(self, lg: dict, spool: str, ckpt: str) -> None:
        stamps = lg["stamps"]
        n = len(stamps)
        traffic = self.inputs["live"]
        if len(traffic.lines) != n:
            raise BenchError(f"load generator wrote {n} of {len(traffic.lines)} lines")
        lo = lg["t0"] + lg["warmup"]
        hi = lo + lg["seconds"]
        in_window = [lo <= s < hi for s in stamps]
        queues: dict[tuple, list[int]] = {}
        for i in reversed(range(n)):
            ev = traffic.expected[i]
            if ev is not None:
                queues.setdefault(gen.event_key(ev), []).append(i)
        n_expected = sum(len(q) for q in queues.values())
        publishes = [m for m in self.marks("live") if m["kind"] == "publish"]
        latency, wrong, line_event = [], 0, []
        for p in publishes:
            found = {}
            for line in p["lines"]:
                try:
                    q = queues.get(gen.event_key(json.loads(line)))
                except ValueError:
                    q = None
                if not q:
                    wrong += 1
                    continue
                i = q.pop()
                found[line] = i
                if in_window[i]:
                    latency.append(p["t"] - stamps[i])
            line_event.append(found)
        missing = sum(len(q) for q in queues.values())
        self.checks.add(n_expected, missing, "live: expected events never published")
        self.checks.add(sum(len(p["lines"]) for p in publishes), wrong, "live: published lines not expected")

        delivery, frames_unthrottled, epm_max = [], 0, 0
        for name, frames in lg["subscribers"].items():
            bad, seen = 0, set()
            for recv, text in frames:
                k = next((k for k in reversed(range(len(publishes)))
                          if publishes[k]["t"] <= recv and text in line_event[k]), None)
                if k is None or (k, text) in seen:
                    bad += 1
                    continue
                seen.add((k, text))
                i = line_event[k][text]
                if not name.startswith("sse") and in_window[i]:
                    delivery.append(recv - stamps[i])
            self.checks.add(len(frames), bad, f"live: {name} frames not published or repeated")
            if name.startswith("sse"):
                times = sorted(t for t, _ in frames)
                epm_max = max((sum(1 for u in times[j:] if u < t + 60) for j, t in enumerate(times)), default=0)
                self.checks.add(1, int(epm_max > 45), "live: epm=45 subscriber got more than 45 frames in a minute")
            else:
                frames_unthrottled += len(frames)

        self.e2e["event_latency_p50_s"] = percentile(latency, 0.50)
        self.e2e["event_latency_p95_s"] = percentile(latency, 0.95)
        self.e2e["delivery_latency_p50_s"] = percentile(delivery, 0.50)
        n_pub = sum(len(p["lines"]) for p in publishes)
        n_unthrottled = sum(1 for s in lg["subscribers"] if not s.startswith("sse"))
        hits = sum(1 for p in publishes for line in p["lines"] if '"article_type"' in line)
        self.layer.update({
            "samples.event_latency": len(latency),
            "live.event_latency_p99_s": percentile(latency, 0.99),
            "samples.delivery_latency": len(delivery),
            "loadgen.late_p99_s": lg["late_p99_s"],
            "streaming.hub.publish_ms": median(p["dur"] * 1000 for p in publishes),
            "streaming.hub.lines": n_pub,
            "operators.enrich.hit_ratio": hits / n_pub if n_pub else 0.0,
            "sinks.serving.frames_delivered": frames_unthrottled,
            "sinks.serving.delivery_ratio": frames_unthrottled / (n_pub * n_unthrottled) if n_pub else 0.0,
            "sinks.serving.epm_max_frames_per_min": epm_max,
        })
        self.layer.update(self.discovery(stamps, in_window, spool, ckpt))
        if self.trace:
            self.live_trace()
        self.last_gc("live")

    def discovery(self, stamps, in_window, spool: str, ckpt: str) -> dict:
        """Spool lag (line created -> tail spooled it) and discovery wait
        (spooled -> the trigger that read it started), from the spool
        file names and the query's checkpoint."""
        try:
            files = sorted((f for f in os.listdir(spool) if not f.startswith(".")),
                           key=lambda f: int(f.split("-")[1].split(".")[0]))
            spooled_at, lag, i = {}, [], 0
            for f in files:
                t = int(f.split("-")[0]) / 1e9
                spooled_at[f] = t
                with open(os.path.join(spool, f), "rb") as fh:
                    k = fh.read().count(b"\n")
                lag += [t - stamps[j] for j in range(i, i + k) if in_window[j]]
                i += k
            started, batch_of = checkpoint_batches(ckpt)
            # spool file -> seconds until the batch that read it started
            wait = [started[batch_of[f]] - t for f, t in spooled_at.items()
                    if batch_of.get(f) in started]
        except (OSError, ValueError, IndexError, KeyError):
            return {"sources.tail.spool_lag_p50_s": 0.0, "streaming.pipeline.discovery_wait_p50_s": 0.0}
        return {
            "sources.tail.spool_lag_p50_s": median(lag),
            "streaming.pipeline.discovery_wait_p50_s": median(wait),
        }

    def live_trace(self) -> None:
        evs = self.events("live")
        prog = progress_after_first(evlog.progress(evs))
        for ph in evlog.PHASES:
            self.layer[f"streaming.pipeline.{ph}_ms"] = median(p["durationMs"].get(ph, 0) for p in prog)
        bc = evlog.broadcasts(evs)[1:]  # the first build is cold
        self.layer["operators.enrich.broadcast_build_ms"] = median(b["build_ms"] for b in bc)
        self.layer["operators.enrich.broadcast_bytes"] = median(b["bytes"] for b in bc)
        snap = [m for m in self.marks("live") if m["kind"] == "snapshot"]
        self.layer["sources.dimension.snapshot_s"] = snap[0]["s"] if snap else 0.0
        self.layer["sources.dimension.rows_out"] = snap[0]["rows_out"] if snap else 0
        self.layer["sources.dimension.rows_in"] = self.inputs["dim_rows"]

    # -- phases 2-4: the batch entry points ----------------------------
    def start_batch(self) -> procs.Child:
        """Replay, collect and the inventory, one after another in one
        process: they share one JVM and its set-up."""
        steps = [
            [os.path.join(ROOT, "scripts/replay_log.py"), self.inputs["replay_log"],
             self.inputs["dimension"]],
            [os.path.join(ROOT, "scripts/collect.py"), self.inputs["backlog_dir"],
             os.path.join(self.work, "facts"), "--once",
             "--checkpoint", os.path.join(self.work, "collect-checkpoint")],
            [os.path.join(HERE, "inventory.py"), self.inputs["tables"],
             os.path.join(self.work, "inventory.json"), *INVENTORY],
        ]
        argv = ["--steps", os.path.join(self.work, "batch")]
        for i, step in enumerate(steps):
            argv += (["--then"] if i else []) + step
        return self.spawn("batch", argv)

    def check_batch(self, child: procs.Child) -> None:
        marks = self.marks("batch")
        ready = self.first_mark(marks, "session")
        self.batch_setup = ready - child.spawned
        for step in ("replay_log", "collect", "inventory"):
            # the first step builds the shared session: its time starts after
            start = max(ready, self.first_mark(marks, "go", step))
            self.layer[f"phase.{step}_s"] = self.first_mark(marks, "done", step) - start
        self.check_replay(self.layer["phase.replay_log_s"])
        self.check_collect()
        self.check_inventory()
        self.last_gc("batch")

    @staticmethod
    def first_mark(marks: list[dict], kind: str, step: str | None = None) -> float:
        for m in marks:
            if m["kind"] == kind and (step is None or m.get("step") == step):
                return m["t"]
        raise BenchError(f"no {kind} mark" + (f" for {step}" if step else ""))

    def check_replay(self, seconds: float) -> None:
        lines_in = self.inputs["replay_lines"]
        self.e2e["replay_lines_per_s"] = lines_in / seconds
        with open(os.path.join(self.work, "batch", "replay_log.out"), encoding="utf-8") as fh:
            got = Counter(fh.read().splitlines())
        want = self.inputs["replay_expected"]
        n_out = sum(got.values())
        self.checks.add(sum(want.values()), sum((want - got).values()), "replay: expected events missing")
        self.checks.add(n_out, sum((got - want).values()), "replay: unexpected output lines")
        self.layer.update({
            "functions.access_log.lines_in": lines_in,
            "functions.access_log.events_out": n_out,
            "functions.access_log.kept_ratio": n_out / lines_in,
        })

    def check_collect(self) -> None:
        backlog = self.inputs["backlog"]
        # input lines per second of each batch (start -> commit, from the
        # collector's checkpoint), median over every batch but the first:
        # that one starts the query and runs cold, ~2.5 s against ~0.5 s
        # warm, and a running collector pays it once
        ckpt = os.path.join(self.work, "collect-checkpoint")
        started, batch_of = checkpoint_batches(ckpt)
        warm = sorted(started)[1:]
        lines = Counter()
        for f, b in batch_of.items():
            lines[b] += backlog.file_lines[f]
        self.e2e["collect_rows_per_s"] = median(
            lines[b] / (os.stat(os.path.join(ckpt, "commits", str(b))).st_mtime - started[b]) for b in warm)
        rows, files, size = read_facts(os.path.join(self.work, "facts"))
        want = backlog.expected_rows()
        self.checks.add(sum(want.values()), sum((want - rows).values()), "collect: expected fact rows missing")
        self.checks.add(sum(rows.values()), sum((rows - want).values()), "collect: unexpected fact rows")
        self.layer.update({
            "sinks.fact_sink.files_written": files,
            "sinks.fact_sink.bytes_written": size,
            "sinks.fact_sink.rows_per_file": sum(rows.values()) / files if files else 0.0,
        })
        if self.trace:
            prog = evlog.progress(self.events("batch"))
            # the warm batches, as collect_rows_per_s counts them
            for ph in evlog.PHASES:
                self.layer[f"streaming.collector.{ph}_ms"] = sum(
                    p["durationMs"].get(ph, 0) for p in prog if p["batchId"] in warm)
            self.layer["sinks.fact_sink.write_ms"] = sum(
                m["ms"] for m in self.marks("batch") if m["kind"] == "sink_write" and m["batch"] in warm)
            n_bad = sum(evlog.observed(p, "parse").get("n_malformed", 0) for p in prog)
            self.layer["functions.encode.n_malformed"] = n_bad
            self.checks.add(1, int(n_bad != backlog.n_malformed * backlog.copies),
                            "collect: n_malformed differs from the malformed lines")

    def check_inventory(self) -> None:
        with open(os.path.join(self.work, "inventory.json"), encoding="utf-8") as fh:
            results = json.load(fh)
        bad = [r["name"] for r in results if "error" in r
               or (r["expected_rows"] is not None and r["rows"] != r["expected_rows"])]
        self.checks.add(len(results), len(bad), f"inventory: failed or mismatched {bad}")
        ok = [r for r in results if "error" not in r]
        self.e2e["inventory_s"] = sum(r["construct_s"] + r["action_s"] for r in ok)
        self.layer["plans.construct_s"] = sum(r["construct_s"] for r in ok)
        self.layer["plans.action_s"] = sum(r["action_s"] for r in ok)
        for r in results:  # a failed query reads 0
            self.layer[f"plans.{r['name']}.construct_s"] = r.get("construct_s", 0.0)
            self.layer[f"plans.{r['name']}.action_s"] = r.get("action_s", 0.0)
        if self.trace:
            jobs, stages, shuffle = evlog.jobs_stages_shuffle(
                self.events("batch"), [(r["start"], r["end"]) for r in ok])
            self.layer.update({"plans.jobs": jobs, "plans.stages": stages, "plans.shuffle_bytes": shuffle})

    def layers_probe(self) -> None:
        out = os.path.join(self.work, "layers.json")
        child = self.spawn("layers", [
            os.path.join(HERE, "layers.py"), self.inputs["replay_log"], self.inputs["dimension"], out,
        ])
        try:
            if child.wait(150) != 0:
                raise BenchError("layer probe failed")
        finally:
            child.kill()
        with open(out, encoding="utf-8") as fh:
            probe = json.load(fh)
        self.layer["functions.access_log.parse_filter_s"] = probe["parse_filter_s"]
        self.layer["functions.encode.wire_s"] = probe["wire_s"]
        self.layer["operators.enrich.probe_s"] = probe["enrich_s"]

    def run(self) -> None:
        t0 = time.time()
        lg, spool, ckpt = self.live()
        self.layer["phase.live_s"] = time.time() - t0
        # checked before the batch process starts: no harness work
        # overlaps a measured phase
        self.analyse_live(lg, spool, ckpt)
        batch = self.start_batch()
        try:
            if batch.wait(170) != 0:
                raise BenchError(f"batch exited with {batch.proc.returncode}: "
                                 + open(os.path.join(self.work, "batch", "stderr")).read()[-800:])
        finally:
            batch.kill()
        self.check_batch(batch)
        self.e2e["setup_s"] = self.serve_setup + self.batch_setup
        if self.trace:
            self.layers_probe()
            # the first build per process; later calls return its session
            self.layer["session.build_s"] = median(
                next(m["build_s"] for m in self.marks(n) if m["kind"] == "session")
                for n in ("live", "batch"))
            self.layer["jvm.gc_ms"] = self.gc_ms


def checkpoint_batches(ckpt: str) -> tuple[dict[int, float], dict[str, int]]:
    """From a file-source query's checkpoint: when each batch started
    (epoch seconds), and which batch read each input file (base name)."""
    started = {}
    for b in os.listdir(os.path.join(ckpt, "offsets")):
        if b.isdigit():
            with open(os.path.join(ckpt, "offsets", b), encoding="utf-8") as fh:
                started[int(b)] = json.loads(fh.read().split("\n")[1])["batchTimestampMs"] / 1000
    batch_of = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name), encoding="utf-8") as fh:
            for line in fh.read().split("\n")[1:]:
                if line.strip():
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = e["batchId"]
    return started, batch_of


class PublishCounter:
    """Lines published so far, read incrementally from a marks file."""

    def __init__(self, path: str):
        self.path, self.offset, self.count = path, 0, 0

    def lines(self) -> int:
        if os.path.exists(self.path):
            with open(self.path, "rb") as fh:
                fh.seek(self.offset)
                chunk = fh.read()
            done = chunk.rfind(b"\n") + 1
            self.offset += done
            for rec in chunk[:done].splitlines():
                m = json.loads(rec)
                if m["kind"] == "publish":
                    self.count += len(m["lines"])
        return self.count


def progress_after_first(prog: list[dict]) -> list[dict]:
    """Progress reports of batches that read data, minus the first
    (cold) one."""
    live = [p for p in prog if any(s.get("numInputRows", 0) for s in p.get("sources", []))]
    return live[1:] or live


def read_facts(path: str) -> tuple[Counter, int, int]:
    """Fact rows (as the ground truth spells them) with their counts,
    parquet files and bytes under the collector's output."""
    import pyarrow.dataset as ds

    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    if not files:
        return Counter(), 0, 0
    cols = ["ts", "lemma", "article_type", "article_source", "article_date"]
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    table = table.set_column(0, "ts", table.column("ts").cast("timestamp[s]").cast("int64"))
    counted = table.group_by(cols).aggregate([("ts", "count")]).to_pylist()
    rows = Counter()
    for r in counted:
        date = r["article_date"].isoformat() if r["article_date"] is not None else None
        rows[(r["ts"], r["lemma"], r["article_type"], r["article_source"], date)] += r["ts_count"]
    return rows, len(files), sum(os.path.getsize(f) for f in files)


def make_inputs(seed: int, seconds: int, replay_copies: int, work: str) -> dict:
    """Every input of a run, with its expected outputs; written before
    the first entry point starts."""
    d = os.path.join(work, "inputs")
    os.makedirs(d, exist_ok=True)
    dim = gen.Dimension(seed)
    dim_path = os.path.join(d, "dimension.parquet")
    dim.write_parquet(dim_path)
    live_seconds = round(seconds * LIVE_SHARE, 3)
    # what loadgen.py writes; it makes the same lines from the seed
    n_live = int(round((LIVE_WARMUP_S + live_seconds) * LIVE_RATE))
    live = gen.LogTraffic(dim, seed, n_live, LIVE_RATE, 0)
    replay = gen.LogTraffic(dim, seed, seconds * REPLAY_LINES_PER_S, LIVE_RATE, 1)
    # the copies are hard links: the same bytes on disk, one file each
    replay_log = os.path.join(d, "replay")
    os.makedirs(replay_log)
    first = os.path.join(replay_log, "access.log.000")
    with open(first, "w", encoding="utf-8") as fh:
        fh.write("".join(line + "\n" for line in replay.lines))
    for c in range(1, replay_copies):
        os.link(first, os.path.join(replay_log, f"access.log.{c:03d}"))
    backlog = gen.Backlog(dim, seed, seconds * BACKLOG_LINES_PER_S, copies=BACKLOG_COPIES)
    backlog.write(os.path.join(d, "backlog"), BACKLOG_FILES // BACKLOG_COPIES)
    gen.write_inventory_tables(seed, os.path.join(d, "tables"))
    return {
        "dimension": dim_path, "dim_rows": dim.n_rows,
        "seed": seed, "live": live, "live_seconds": live_seconds,
        "replay_log": replay_log,
        "replay_lines": len(replay.lines) * replay_copies,
        "replay_expected": Counter({line: k * replay_copies for line, k in Counter(
            gen.edn_line(e) for e in replay.expected if e is not None).items()}),
        "backlog_dir": os.path.join(d, "backlog"), "backlog": backlog,
        "tables": os.path.join(d, "tables"),
    }


def report(metrics: dict, units: dict, checks: Checks) -> None:
    out = sys.stderr
    for name, value in metrics.items():
        print(f"  {name:48s} {value:>16.6g} {units.get(name, '')}", file=out)
    rate = checks.failed / checks.attempted if checks.attempted else 0.0
    verdict = "correct" if checks.failed == 0 else "INCORRECT"
    print(f"  {'error_rate':48s} {rate:>16.6g} failed/attempted "
          f"({checks.failed}/{checks.attempted}) -> {verdict}", file=out)
    for note in checks.notes[:20]:
        print(f"  ! {note}", file=out)


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"), ("bytes_written", "bytes"),
                         ("_ratio", "ratio"), ("error_rate", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ENTRY_POINTS if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the engine (missing {', '.join(missing)}); run from its root",
              file=sys.stderr)
        return 2

    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    checks = Checks()
    try:
        inputs = make_inputs(args.seed, args.seconds, WORKLOADS[args.workload], work)
        run = Composite(bool(args.trace), work, inputs, checks)
        run.run()
        if args.trace:
            metrics = dict(sorted(run.layer.items()))
            metrics["error_rate"] = checks.failed / checks.attempted
            units = {n: layer_unit(n) for n in metrics}
            # the end-to-end metrics as measured with tracing on: their
            # difference from an untraced run is the tracing overhead
            for name, unit in E2E.items():
                metrics[f"traced.{name}"] = run.e2e[name]
                units[f"traced.{name}"] = unit
        else:
            metrics = {name: run.e2e[name] for name in E2E}
            units = E2E
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(metrics, units, checks)
    print(f"  run took {time.time() - started:.1f} s: serve set-up {run.serve_setup:.1f} s, "
          + ", ".join(f"{k[6:-2]} {v:.1f} s" for k, v in run.layer.items() if k.startswith("phase.")),
          file=sys.stderr)
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

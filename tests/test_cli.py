"""CLI entry points as subprocesses: scripts/collect.py with an
availableNow drain (JSONL in, typed homograph-encoded partitioned
parquet out), and scripts/serve.py's signal shutdown. (serve.py shares
every component with test_serving.py's full-topology test; its
wall-clock streaming loop is exercised there without subprocess timing
flakiness.)"""

from __future__ import annotations

import datetime as dt
import json
import os
import signal
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_collect_cli_once(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    events = [
        {"timestamp": "2024-12-08T23:00:18Z", "lemma": "obskur",
         "lemma-type": "AR_G", "form-type": "Hauptform",
         "article-type": "Vollartikel", "source": "WDG",
         "date": "1974-01-01"},
        {"timestamp": "2024-12-09T01:02:03Z", "lemma": "Haus", "hidx": 2,
         "lemma-type": "AR_G", "form-type": "Hauptform",
         "article-type": "Vollartikel", "source": "WDG",
         "date": "1999-01-01"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(e) for e in events))
    out = tmp_path / "fact"

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "collect.py"),
         str(src), str(out), "--once",
         "--checkpoint", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=240, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]

    con = duckdb.connect()  # keep the connection referenced while reading
    rows = con.sql(
        f"SELECT ts, lemma, article_source, article_date "
        f"FROM read_parquet('{out}/*/*.parquet') ORDER BY ts"
    ).fetchall()
    assert [r[1] for r in rows] == ["obskur", "Haus#2"]  # P8 encode
    assert str(rows[0][0]) == "2024-12-08 23:00:18"      # P9 cast
    assert str(rows[1][3]) == "1999-01-01"
    # date partitioning (the fact-table layout the indexes map to)
    assert any(p.name.startswith("date=") for p in out.iterdir())


def _live_group_members(pgid: int) -> list[int]:
    """Non-zombie processes whose process group is ``pgid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            pids.append(int(entry))
    return pids


def test_serve_cli_exits_cleanly_on_sigterm(tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    dim = tmp_path / "dim.parquet"
    pq.write_table(
        pa.table({
            "lemma": ["obskur"], "hidx": pa.array([None], pa.int32()),
            "lemma_type": ["AR_G"], "form_type": ["Hauptform"],
            "article_type": ["Vollartikel"], "status": ["Red-f"],
            "source": ["WDG"], "date": [dt.date(1974, 1, 1)],
        }),
        dim,
    )
    out_path = tmp_path / "serve.out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    with open(out_path, "w") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "scripts", "serve.py"),
             str(logs), str(dim), "--port", "0",
             "--checkpoint", str(tmp_path / "ckpt")],
            stdout=out, stderr=subprocess.STDOUT, env=env,
            start_new_session=True,
        )
    try:
        deadline = time.time() + 240
        while "serving http" not in out_path.read_text():
            assert proc.poll() is None, out_path.read_text()[-2000:]
            assert time.time() < deadline, "serve.py never started serving"
            time.sleep(0.2)
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(120) == 0, out_path.read_text()[-2000:]
        # the JVM exits once its Python parent is gone
        deadline = time.time() + 60
        while _live_group_members(proc.pid) and time.time() < deadline:
            time.sleep(0.2)
        assert _live_group_members(proc.pid) == []
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

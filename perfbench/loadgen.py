"""Open-loop load generator and HTTP subscribers, in one process.

Usage:
  python3 perfbench/loadgen.py --seed N --rate R --warmup W --seconds S \
      --drain D --stop STOP_FILE --log ACCESS_LOG --port P --out RESULT.json

Appends the seed's access-log lines (``gen.LogTraffic``) to ACCESS_LOG
on a due-time schedule: line ``i`` is due ``i / R`` seconds after the
start, whatever happened to earlier lines (open loop). A line's due time
is its creation stamp, so a stall of the generator itself is charged to
latency like any other wait; how late each write ran against its due
time is reported. W seconds of warm-up traffic precede
the S measured seconds; after the last line it keeps reading for D
seconds.

It stops early, once the file named by --stop exists, during the drain.

The same single thread serves the subscribers of the live server at
127.0.0.1:P: two unthrottled ``/api/jsonl`` readers and one
``/api/events?epm=45`` SSE reader (the viz default), multiplexed with
``selectors``. One thread plus three connections stays within a 4-core
host's core count. Every frame is stored with its receive time.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import time

import gen

SUBSCRIBERS = (
    ("jsonl_a", "/api/jsonl"),
    ("jsonl_b", "/api/jsonl"),
    ("sse_epm45", "/api/events?epm=45"),
)


class Subscriber:
    def __init__(self, name: str, path: str, port: int):
        self.name = name
        self.sse = path.startswith("/api/events")
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        self.sock.sendall(f"GET {path} HTTP/1.1\r\nHost: localhost\r\n\r\n".encode())
        buf = b""
        while b"\r\n\r\n" not in buf:  # response head, before any publish
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError(f"{name}: closed before headers")
            buf += chunk
        head, self.buf = buf.split(b"\r\n\r\n", 1)
        if b" 200 " not in head.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"{name}: {head[:80]!r}")
        self.sock.setblocking(False)
        self.frames: list[tuple[float, str]] = []
        self.closed = False

    def read(self) -> None:
        now = time.time()
        try:
            chunk = self.sock.recv(1 << 16)
        except BlockingIOError:
            return
        if not chunk:  # server closed the stream
            self.closed = True
            return
        self.buf += chunk
        sep = b"\n\n" if self.sse else b"\n"
        *done, self.buf = self.buf.split(sep)
        for raw in done:
            text = raw.decode("utf-8")
            if self.sse:
                if text.startswith("data: "):
                    self.frames.append((now, text[len("data: "):]))
            elif text:  # blank lines are heartbeats
                self.frames.append((now, text))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--warmup", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--drain", type=float, required=True)
    ap.add_argument("--stop", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    n = int(round((args.warmup + args.seconds) * args.rate))
    lines = gen.LogTraffic(gen.Dimension(args.seed), args.seed, n, args.rate, 0).lines
    payload = [(ln + "\n").encode("utf-8") for ln in lines]

    subs = [Subscriber(name, path, args.port) for name, path in SUBSCRIBERS]
    sel = selectors.DefaultSelector()
    for s in subs:
        sel.register(s.sock, selectors.EVENT_READ, s)

    fd = os.open(args.log, os.O_WRONLY | os.O_APPEND)
    late = [0.0] * n
    t0 = time.time() + 0.2
    i = 0
    end = None
    while True:
        now = time.time()
        if i < n:
            due = t0 + i / args.rate
            if now >= due:
                j = i
                while j < n and t0 + j / args.rate <= now:
                    j += 1
                os.write(fd, b"".join(payload[i:j]))
                written = time.time()
                for k in range(i, j):
                    late[k] = written - (t0 + k / args.rate)
                i = j
                if i == n:
                    end = written + args.drain
                continue
            timeout = due - now
        else:
            if now >= end or os.path.exists(args.stop):
                break
            timeout = min(end - now, 0.05)
        for key, _ in sel.select(timeout):
            key.data.read()
            if key.data.closed:
                sel.unregister(key.fileobj)
    os.close(fd)
    for s in subs:
        if not s.closed:
            sel.unregister(s.sock)
        s.sock.close()
    sel.close()

    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "t0": t0,
                "rate": args.rate,
                "warmup": args.warmup,
                "seconds": args.seconds,
                "stamps": [t0 + k / args.rate for k in range(n)],
                "late_p99_s": sorted(late)[min(n - 1, int(n * 0.99))],
                "subscribers": {s.name: s.frames for s in subs},
            },
            fh,
            ensure_ascii=False,
        )


if __name__ == "__main__":
    main()

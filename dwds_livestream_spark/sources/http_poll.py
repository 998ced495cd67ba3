"""HTTP long-poll → spool-directory shim: S2 transport parity.

The reference's collector opens a long-poll HTTP connection to the live
server's JSONL endpoint, reads lines forever, and reconnects on
IOException with exponential backoff (reference collector.clj:39-74:
3 s base doubling to a 60 s cap, reset after a successful read). Spark's
idiomatic streaming source is a file/Kafka directory — so this shim is
the bridge: a plain-Python reconnecting line reader that spools
received lines into the directory ``collector_stream`` consumes
(streaming/pipeline.py). Files are written whole and atomically
renamed into place (tmp suffix → final), so a half-written file is
never visible to the Spark file source; names are monotonic
(wall-clock ns + sequence) so file-source ordering follows arrival
order.

Delivery is at-least-once across reconnects (a line read but not yet
spooled when the connection dies is gone — same as the reference; a
line spooled twice because the server replays is deduplicated
downstream by the collector's idempotent batch ledger,
sinks/fact_sink.py). No Spark dependency here: the shim runs as a
sidecar thread of the collector process.
"""

from __future__ import annotations

import os
import threading
import time
import urllib.request
from collections.abc import Callable

__all__ = ["HttpLinePoller"]


class HttpLinePoller:
    """Reconnecting HTTP line reader spooling to ``spool_dir``.

    Parameters mirror the reference's source-retry constants
    (collector.clj:48-53, 3 s / 60 s): backoff starts
    at ``base_backoff_s``, doubles per consecutive failure, caps at
    ``max_backoff_s``, and resets once a line is successfully read.

    ``flush_lines`` / ``flush_interval_s`` bound spool-file granularity:
    a file is closed out when either trips, so the Spark side sees
    fresh data at least every flush interval under load and promptly
    when the stream is quiet.
    """

    def __init__(
        self,
        url: str,
        spool_dir: str,
        *,
        flush_lines: int = 512,
        flush_interval_s: float = 1.0,
        base_backoff_s: float = 3.0,
        max_backoff_s: float = 60.0,
        connect_timeout_s: float = 30.0,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.url = url
        self.spool_dir = spool_dir
        self.flush_lines = flush_lines
        self.flush_interval_s = flush_interval_s
        self.base_backoff_s = base_backoff_s
        self.max_backoff_s = max_backoff_s
        self.connect_timeout_s = connect_timeout_s
        self._sleep = sleep
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._seq = 0
        self.lines_spooled = 0
        self.reconnects = 0
        os.makedirs(spool_dir, exist_ok=True)

    # ------------------------------------------------------ lifecycle
    def start(self) -> HttpLinePoller:
        self._thread = threading.Thread(
            target=self.run_forever, name="http-line-poller", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, timeout: float = 10.0) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)

    # ------------------------------------------------------ main loop
    def run_forever(self) -> None:
        backoff = self.base_backoff_s
        while not self._stop.is_set():
            got_any = self._drain_one_connection()
            if got_any:
                # reset once lines were read — even if the connection
                # then died mid-stream (collector.clj reset-on-read
                # parity); an error-terminated-but-productive
                # connection must not escalate to the cap
                backoff = self.base_backoff_s
            if self._stop.is_set():
                return
            self._sleep(backoff)
            backoff = min(backoff * 2, self.max_backoff_s)
            self.reconnects += 1

    def _drain_one_connection(self) -> bool:
        """Read one connection until EOF/error; spool lines in batches.
        Returns True if at least one line was read. Never raises: any
        connect/read failure (socket OR HTTP-framing — IncompleteRead
        on a dropped chunked stream is an HTTPException, not an
        OSError) ends this connection attempt; the caller's backoff
        loop owns retry. An unexpected error must not kill the daemon
        thread silently — spooling would stop forever."""
        import http.client  # noqa: PLC0415

        buf: list[str] = []
        last_flush = time.monotonic()
        got_any = False
        try:
            with urllib.request.urlopen(
                self.url, timeout=self.connect_timeout_s
            ) as resp:
                for raw in resp:
                    line = raw.decode("utf-8", "replace").rstrip("\r\n")
                    if line:
                        buf.append(line)
                        got_any = True
                    now = time.monotonic()
                    if (
                        len(buf) >= self.flush_lines
                        or (buf and now - last_flush >= self.flush_interval_s)
                    ):
                        self._flush(buf)
                        buf, last_flush = [], now
                    if self._stop.is_set():
                        break
        except (OSError, http.client.HTTPException, ValueError):
            pass  # dead/garbled connection: keep what we read, reconnect
        finally:
            self._flush(buf)  # connection died or stop: keep what we have
        return got_any

    # ---------------------------------------------------------- spool
    def _flush(self, buf: list[str]) -> None:
        if not buf:
            return
        self._seq += 1
        name = f"{time.time_ns():020d}-{self._seq:08d}.jsonl"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        final = os.path.join(self.spool_dir, name)
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(buf) + "\n")
        os.replace(tmp, final)  # atomic: Spark never sees partials
        self.lines_spooled += len(buf)

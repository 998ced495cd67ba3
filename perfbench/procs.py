"""Child-process handling for the benchmark: every entry point runs in
its own session (process group) so the JVM it spawns is found, measured
and stopped with it."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def group_rss_bytes(pgid: int) -> int:
    """Resident memory of every live process in a process group."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
            if int(fields[2]) != pgid:  # field 5: pgrp
                continue
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
    return total


class Child:
    """A child process in its own process group, with its spawn time,
    its stdout/stderr in files and a sampler of its group's peak RSS."""

    def __init__(self, argv: list[str], cwd: str, env: dict, out: str, err: str):
        self.out_path = out
        self._out = open(out, "wb")
        self._err = open(err, "wb")
        self.spawned = time.time()
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=self._out, stderr=self._err,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        self.peak_rss = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, group_rss_bytes(self.proc.pid))
            self._stop.wait(0.2)

    def wait_for_output(self, needle: str, timeout: float) -> float:
        """Time at which ``needle`` first appears in the child's stdout."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with open(self.out_path, "r", encoding="utf-8", errors="replace") as fh:
                if needle in fh.read():
                    return time.time()
            if self.proc.poll() is not None:
                raise RuntimeError(f"child exited ({self.proc.returncode}) before {needle!r}")
            time.sleep(0.02)
        raise TimeoutError(f"no {needle!r} within {timeout:.0f} s")

    def wait(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            raise

    def terminate(self, timeout: float) -> None:
        """SIGTERM the entry point and wait; SIGKILL the group after
        ``timeout``."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                pass
        self.kill()

    def kill(self) -> None:
        """Stop the whole group (the JVM outlives a killed driver) and
        reap the direct child."""
        self._stop.set()
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.time() + 10
        while group_rss_bytes(self.proc.pid) and time.time() < deadline:
            time.sleep(0.05)
        self._sampler.join()
        self._out.close()
        self._err.close()

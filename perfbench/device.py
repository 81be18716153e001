"""The harness-owned device: a ``fetch_fn`` with fixed latency.

Its reading is a pure function of ``(seed, ip)``, so the benchmark can
compute the expected transform on its own.  With a log directory it
appends ``start end task ip`` per call (monotonic seconds, shared by every
process on the host), one file per worker process; the traced run derives
``extract.peak_inflight``, ``extract.fetches_per_row`` and
``extract.tasks`` from these logs."""

from __future__ import annotations

import os
import threading
import time
import zlib

#: share of numeric fields the device reports as unparsable text, which the
#: transform must cast to 0.0
MALFORMED_SHARE = 0.03
FIELDS = ("p_idle", "p_user", "p_sys", "p_irq", "p_nice")

#: this worker process's open log, keyed by path; Python workers outlive
#: tasks, and a new pass logs to a new directory
_LOG: dict[str, object] = {}
_LOG_LOCK = threading.Lock()


def reading(seed: int, ip: str) -> dict:
    """The device's CpuStats payload: numerics as strings, some malformed."""
    out = {"cpu_number": str(zlib.crc32(f"{seed}/cpu/{ip}".encode()) % 8)}
    for field in FIELDS:
        h = zlib.crc32(f"{seed}/{field}/{ip}".encode())
        if h % 10_000 < MALFORMED_SHARE * 10_000:
            out[field] = ("n/a", "", "12,5")[h % 3]
        else:
            out[field] = f"{(h >> 8) % 10_000 / 100:.2f}"
    return out


class Device:
    """Picklable fetch function: sleeps ``latency_s``, returns the reading."""

    def __init__(self, seed: int, latency_s: float, log_dir: str | None = None):
        self.seed = seed
        self.latency_s = latency_s
        self.log_dir = log_dir

    def __call__(self, ip: str, hostname: str) -> dict:
        start = time.monotonic()
        if self.latency_s:
            time.sleep(self.latency_s)
        out = reading(self.seed, ip)
        if self.log_dir:
            self._log(start, time.monotonic(), ip)
        return out

    def _log(self, start: float, end: float, ip: str) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        task = ctx.taskAttemptId() if ctx is not None else -1
        path = os.path.join(self.log_dir, f"device-{os.getpid()}.log")
        with _LOG_LOCK:
            fh = _LOG.get(path)
            if fh is None:
                for old in _LOG.values():
                    old.close()
                _LOG.clear()
                fh = _LOG[path] = open(path, "a", buffering=1)  # noqa: SIM115
            fh.write(f"{start:.6f} {end:.6f} {task} {ip}\n")


def read_logs(log_dir: str) -> list[tuple[float, float, int, str]]:
    calls = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("device-"):
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    s, e, task, ip = line.split()
                    calls.append((float(s), float(e), int(task), ip))
    return calls

"""Open-loop load generation: a fixed send schedule that does not slow
down when the system under test does, and the lateness of the sender
against it."""

from __future__ import annotations

import math
import socket
import threading
import time


class Schedule:
    """Message ``i`` is due at ``t0 + i / rate``."""

    def __init__(self, rate: float, total: int, t0: float):
        if rate <= 0 or total < 0:
            raise ValueError("rate must be positive and total non-negative")
        self.rate = rate
        self.total = total
        self.t0 = t0

    def due(self, i: int) -> float:
        return self.t0 + i / self.rate

    def due_by(self, now: float) -> int:
        """How many messages are due at ``now`` (message 0 is due at t0)."""
        if now < self.t0:
            return 0
        return min(self.total, math.floor((now - self.t0) * self.rate + 1e-9) + 1)


def lateness(schedule: Schedule, sent_at: list[float]) -> list[float]:
    """Seconds each message left after its due time (never negative:
    the sender does not send early)."""
    return [max(0.0, t - schedule.due(i)) for i, t in enumerate(sent_at)]


class LineSender(threading.Thread):
    """One TCP connection; sends line ``i`` of ``make_line(i, due)`` at its
    due time, and every line that is due at once in one write when it
    falls behind. ``sent_at[i]`` is when line ``i`` was handed to the
    socket. Times are wall-clock, the clock of the sink files' commit
    times that latencies are measured against."""

    def __init__(self, host: str, port: int, rate: float, total: int, make_line,
                 connect_timeout: float = 60.0):
        super().__init__(name="perfbench-sender", daemon=True)
        self.host, self.port = host, port
        self.rate, self.total = rate, total
        self.make_line = make_line
        self.connect_timeout = connect_timeout
        self.schedule: Schedule | None = None
        self.sent_at: list[float] = []
        self.error: Exception | None = None
        self._stop_flag = threading.Event()

    def _connect(self) -> socket.socket:
        deadline = time.monotonic() + self.connect_timeout
        while True:
            try:
                return socket.create_connection((self.host, self.port), timeout=5)
            except OSError:
                if time.monotonic() > deadline or self._stop_flag.is_set():
                    raise
                time.sleep(0.02)

    def run(self) -> None:
        try:
            with self._connect() as sock:
                self.schedule = Schedule(self.rate, self.total, time.time())
                sent = 0
                while sent < self.total and not self._stop_flag.is_set():
                    now = time.time()
                    n = self.schedule.due_by(now)
                    if n > sent:
                        payload = "".join(
                            self.make_line(i, self.schedule.due(i)) + "\n" for i in range(sent, n)
                        ).encode()
                        sock.sendall(payload)
                        t = time.time()
                        self.sent_at.extend([t] * (n - sent))
                        sent = n
                    if sent < self.total:
                        wait = self.schedule.due(sent) - time.time()
                        if wait > 0:
                            time.sleep(wait)
        except Exception as e:  # reported by the workload as failures
            self.error = e

    def stop(self) -> None:
        self._stop_flag.set()

"""Open-loop event generator and its latency clock.

Events are due on a fixed schedule (``rate`` per second for ``seconds``
per phase) whether or not the system keeps up, as independent users
send them.  Latency is timed from an event's *due* time, so a stalled
generator or a backlog is charged to the events that waited; how late
the generator itself ran (sent - due) is reported on its own.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Due:
    event_id: int
    phase: str
    due: float


def schedule(t0: float, phases: list[tuple[str, float, float]]) -> list[Due]:
    """Due times for ``phases`` = [(name, rate_per_s, seconds)], back to
    back from wall time ``t0``; event ids count up from 0."""
    out: list[Due] = []
    start = t0
    for name, rate, seconds in phases:
        n = int(round(rate * seconds))
        out.extend(Due(len(out), name, start + i / rate) for i in range(n))
        start += seconds
    return out


class Generator(threading.Thread):
    """Calls ``send(event)`` for each scheduled event at (not before) its
    due time and records when each send returned."""

    def __init__(self, plan: list[Due], send: Callable[[Due], None],
                 clock: Callable[[], float] = time.time,
                 sleep: Callable[[float], None] = time.sleep):
        super().__init__(name="open-loop-generator", daemon=True)
        self.plan = plan
        self.send = send
        self.clock = clock
        self.sleep = sleep
        self.sent: dict[int, float] = {}
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        try:
            for ev in self.plan:
                if self._stop_evt.is_set():
                    return
                wait = ev.due - self.clock()
                if wait > 0:
                    self.sleep(wait)
                self.send(ev)
                self.sent[ev.event_id] = self.clock()
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc

    def stop(self) -> None:
        self._stop_evt.set()


def latencies_ms(plan: list[Due], done: dict[int, float]) -> dict[str, list[float]]:
    """Per phase, ``done - due`` in ms for every delivered event."""
    out: dict[str, list[float]] = {}
    for ev in plan:
        if ev.event_id in done:
            out.setdefault(ev.phase, []).append((done[ev.event_id] - ev.due) * 1e3)
    return out


def lateness_ms(plan: list[Due], sent: dict[int, float]) -> list[float]:
    """How late the generator sent each event, in ms (never negative)."""
    return [max(0.0, (sent[ev.event_id] - ev.due) * 1e3)
            for ev in plan if ev.event_id in sent]

"""Progress arithmetic (SURVEY §2.4 A4).

Reference: percent-complete + ETA extrapolation over task-status counts
(data_copier.go:146-175, web_server.go:60-84). The driver-side arithmetic
is all the engine needs here: per-batch apply counters are
streaming/cdc.py's ApplyStats.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Progress:
    """A4 arithmetic (data_copier.go:146-175): percent + ETA."""

    completed: int
    total: int
    started_at: float

    @property
    def percent(self) -> float:
        return 100.0 * self.completed / self.total if self.total else 100.0

    def eta_seconds(self, now: float | None = None) -> float | None:
        """remaining-time extrapolation: elapsed / completed * remaining"""
        if not self.completed:
            return None
        elapsed = (now or time.time()) - self.started_at
        return elapsed / self.completed * (self.total - self.completed)

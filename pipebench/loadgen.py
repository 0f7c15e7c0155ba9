"""Open-loop ratings generator.

One thread drops an ``events`` parquet file into a watched directory on a
fixed schedule: tick ``k`` is due at ``start + k * tick_s`` and carries
``rate * tick_s`` events stamped with the wall-clock time at which they
were created. The schedule never waits for the engine — a stalled stream
makes the backlog grow instead of slowing the offered load (the
coordinated-omission trap of closed-loop load). When the generator itself
runs late (a busy box), it writes the overdue ticks immediately and
records how late each was, so a run whose load was not actually offered
on time can be recognised.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from pipebench import datagen


class OpenLoopGenerator:
    def __init__(
        self, out_dir: str, rate_eps: int, tick_s: float, n_cust: int,
        seed: int, first_id: int = 0, prefix: str = "ev", clock=time.time,
    ):
        self.out_dir = out_dir
        self.per_tick = max(1, int(round(rate_eps * tick_s)))
        self.tick_s = tick_s
        self.n_cust = n_cust
        self.rng = np.random.default_rng([seed, 2])
        self.next_id = first_id
        self._clock = clock
        self.prefix = prefix
        # (tick, first event id, n events, ts_us, lateness_s) per file
        self.ticks: list[tuple[int, int, int, int, float]] = []
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None
        self._k = 0
        os.makedirs(out_dir, exist_ok=True)

    def emit(self, scheduled_s: float) -> None:
        """Create and publish one tick's file; lateness is measured from
        the tick's due time to the creation stamp."""
        now = self._clock()
        ts_us = int(now * 1e6)
        table = datagen.rating_batch(
            self.rng, self.next_id, self.per_tick, ts_us, self.n_cust
        )
        name = f"{self.prefix}-{self._k:07d}.parquet"
        tmp = os.path.join(self.out_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        # rename within the directory: the file source never lists a
        # half-written file (dot-prefixed names are hidden from it)
        os.replace(tmp, os.path.join(self.out_dir, name))
        self.ticks.append((self._k, self.next_id, self.per_tick, ts_us, now - scheduled_s))
        self.next_id += self.per_tick
        self._k += 1

    def _loop(self, start: float) -> None:
        while not self._stop.is_set():
            due = start + self._k * self.tick_s
            wait = due - self._clock()
            if wait > 0:
                if self._stop.wait(wait):
                    return
            self.emit(due)

    def start(self) -> None:
        start = self._clock()
        self._thread = threading.Thread(target=self._loop, args=(start,), daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def events_emitted(self) -> int:
        return sum(t[2] for t in self.ticks)

    def created_at_us(self) -> "dict[int, int]":
        """First event id of each file -> creation stamp (µs)."""
        return {t[1]: t[3] for t in self.ticks}

    def lateness_s(self) -> "list[float]":
        return [t[4] for t in self.ticks]

"""Pieces shared by the workloads: the op ledger and the run context."""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from .tracing import Tracer


@dataclass
class Ledger:
    """Attempted and failed ops. An op fails when it raises or when any
    check of its output fails; checks run outside every timer."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def _tally(self, problems: list[str]) -> None:
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.problems.extend(problems)

    def op(self, what: str, fn, check=None):
        """Run ``fn``; then ``check(result)``, which returns a list of
        problems. Returns the result, or None when ``fn`` raised."""
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is a data point
            traceback.print_exc()
            self._tally([f"{what}: {e!r}"])
            return None
        try:
            bad = check(out) if check is not None else []
        except Exception as e:  # noqa: BLE001 — so is output that cannot be checked
            traceback.print_exc()
            bad = [f"check raised {e!r}"]
        self._tally([f"{what}: {b}" for b in bad])
        return out

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Run:
    """Everything a workload needs: the session, its dirs and options."""

    spark: object
    work: str  # scratch root of this run
    seed: int
    seconds: float
    scale: str
    tracer: Tracer
    plant: bool = False  # plant a wrong expected answer (self-test)
    ledger: Ledger = field(default_factory=Ledger)
    phases: dict[str, float] = field(default_factory=dict)  # name → seconds
    _n: int = 0

    @contextmanager
    def phase(self, name: str):
        """Time a coarse phase for the report (setup breakdown, loop,
        maintenance)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        d = os.path.join(self.work, "state", f"{prefix}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


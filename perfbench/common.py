"""Helpers shared by the benchmark's modules."""

from __future__ import annotations

import statistics
import sys
import time
import traceback


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def timed_iteration(w) -> tuple[float, list[str]]:
    """reset (untimed) -> run (timed) -> rerun with nothing new and
    check (untimed). Returns (run_s, errors)."""
    w.reset()
    t0 = time.perf_counter()
    res = w.run()
    run_s = time.perf_counter() - t0
    errs = w.check(res, w.noop())
    log(f"run_s {run_s:.3f}, check done")
    return run_s, errs


class Tally:
    """Checked iterations: how many were attempted and how many raised
    or failed their output check."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def iterate(self, w) -> float | None:
        """One `timed_iteration`; its run_s, or None if it failed."""
        self.attempted += 1
        try:
            run_s, errs = timed_iteration(w)
        except Exception:
            self.failed += 1
            log("run raised:\n" + traceback.format_exc())
            return None
        if errs:
            self.failed += 1
            log("output check failed: " + "; ".join(errs[:5]))
            return None
        return run_s


def warm_up(w, tally: Tally) -> None:
    """The workload's untimed warm-up iterations, checked like the
    timed ones."""
    for _ in range(w.warmup_iterations):
        tally.iterate(w)

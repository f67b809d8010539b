"""Closed-loop job driver and the summary statistics the benchmark
reports. Spark-free, so the tests exercise it with plain callables."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

TAIL_BEYOND = 10


@dataclass
class LoopResult:
    times: list[float] = field(default_factory=list)  # successful jobs, in order
    items: int = 0  # records / docs completed by successful jobs
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    outputs: list = field(default_factory=list)  # (job index, output) of successful jobs


def closed_loop(
    job: Callable[[int], object],
    check: Callable[[int, object], list[str]],
    items: Callable[[int], int],
    seconds: float,
    min_jobs: int,
    max_wall: float,
    clock: Callable[[], float] = time.perf_counter,
    on_timed: Callable[[bool], None] = lambda active: None,
    prepare: Callable[[int], None] = lambda i: None,
) -> LoopResult:
    """One client, one job at a time: job i+1 starts only after job i
    and its output check are done. Runs until the timed job seconds
    reach ``seconds`` and at least ``min_jobs`` jobs ran, or until
    ``max_wall`` wall seconds passed. ``prepare(i)`` runs before job i,
    outside the timed region (it clears what an earlier job left behind).

    A job fails if it raises or if ``check`` (run outside the timed
    region) returns errors or raises."""
    res = LoopResult()
    timed = 0.0
    wall0 = clock()
    i = 0
    while (timed < seconds or i < min_jobs) and clock() - wall0 < max_wall:
        prepare(i)
        on_timed(True)
        t0 = clock()
        try:
            out, err = job(i), None
        except Exception as exc:  # a failing job is a measured outcome
            out, err = None, f"raised {type(exc).__name__}: {exc}"
            traceback.print_exc()
        dt = clock() - t0
        on_timed(False)
        timed += dt
        if err is None:
            try:
                errs = check(i, out)
            except Exception as exc:  # a crashing check is a wrong output
                errs = [f"check raised {type(exc).__name__}: {exc}"]
            err = "; ".join(errs) if errs else None
        res.attempted += 1
        if err is None:
            res.times.append(dt)
            res.items += items(i)
            res.outputs.append((i, out))
        else:
            res.failed += 1
            res.errors.append(f"job {i}: {err}")
        i += 1
    return res


def median(xs: list[float]) -> float:
    """Median, or 0.0 for no samples (the JSON result stays valid when
    every job failed; ``correct`` is false then)."""
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it:
    (value, percentile, samples, samples beyond). With too few samples
    for any such percentile the maximum is returned, with 0 beyond."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0, 0
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n, 0
    idx = n - TAIL_BEYOND - 1
    return s[idx], 100.0 * (idx + 1) / n, n, n - 1 - idx

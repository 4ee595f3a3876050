"""Workload protocol: stage inputs, warm up, then run checked ops."""

from __future__ import annotations

import time
from pathlib import Path

from spans import Tracer


class Workload:
    """One benchmark workload over a live Spark session.

    A subclass stages its inputs from the seed (`stage`), warms up
    (`warmup`: one untimed, checked op unless overridden), then runs `op`
    in a closed loop until the time is up. `check` validates an op's
    result outside its timed region, may complete the result's counts
    from what it reads back, and returns the problems it found; an op
    that raises or has problems counts as failed."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = spark.sparkContext.defaultParallelism

    # ------------------------------------------------------ subclass API

    def stage(self) -> None:
        raise NotImplementedError

    def op(self, tr: Tracer) -> dict:
        """Run one op; return at least {"rows": int, "points": int}."""
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def has_next(self) -> bool:
        return True

    def extra_metrics(self) -> dict:
        """Workload-only end-to-end metrics (printed, not in the contract
        line, which carries only metrics every workload defines)."""
        return {}

    def layer_metrics(self, tracer: Tracer) -> dict:
        return {}

    def close(self) -> None:
        """Stop anything the workload started (streaming queries)."""

    # ------------------------------------------------------- measurement

    def warmup(self) -> None:
        problems = self.check(self.op(Tracer(enabled=False)))
        if problems:
            raise RuntimeError(f"warm-up op failed its check: {problems}")

    def measure(self, seconds: float, tracer: Tracer) -> list[dict]:
        """Closed loop: the next op starts when the previous one and its
        check are done. A traced run alternates untraced and traced ops."""
        off = Tracer(enabled=False)
        min_ops = 2 if tracer.enabled else 1
        ops = []
        end = time.monotonic() + seconds
        i = 0
        while self.has_next():
            traced = tracer.enabled and i % 2 == 1
            tr = tracer if traced else off
            t = time.monotonic()
            try:
                with tr.span("op", op=i):
                    res = self.op(tr)
                wall = time.monotonic() - t
                problems = self.check(res)
            except Exception as e:  # an op failure is a result, not a crash
                wall = time.monotonic() - t
                res, problems = {"rows": 0, "points": 0}, [f"op {i}: {e!r}"]
            ops.append({"i": i, "wall_s": wall, "rows": res["rows"],
                        "points": res["points"], "traced": traced,
                        "ok": not problems, "problems": problems})
            i += 1
            if time.monotonic() >= end and len(ops) >= min_ops:
                break
        return ops

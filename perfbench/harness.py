"""Shared run bookkeeping: timed ops, failures, samples and metric maths."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from tracer import COUNTERS, Tracer


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile that keeps at least
    ten samples beyond it, or (None, None) with fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return None, None
    pct = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return pct, s[min(n - 1, math.ceil(pct / 100 * n) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    """One workload run: the timed ops, their checks and their metrics.

    ``call`` runs one library operation as a traced op. Timed ops feed the
    end-to-end samples; the clock of the timed window only runs inside
    :meth:`window`, so checks between ops never count as work.
    """

    def __init__(self, spark, *, trace: bool, seed: int, size: dict, seconds: int, tmp: str):
        self.spark = spark
        self.tracer = Tracer(spark, trace)
        self.trace = trace
        self.seed = seed
        self.size = size
        self.seconds = seconds
        self.tmp = tmp
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_ids: dict[str, list[str]] = defaultdict(list)
        self.setup_s: list[float] = []
        self.wall = 0.0
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple] = {}
        self.layer: dict[str, tuple] = {}
        self._n = 0

    # -- ops ------------------------------------------------------------

    def call(self, kind: str, fn, *, timed: bool = True):
        """Run ``fn`` as one op named ``kind``; return its result, or None
        when it raised (counted as a failed op when timed)."""
        op_id = f"{kind}#{self._n}"
        self._n += 1
        if timed:
            self.attempted += 1
        try:
            with self.tracer.op(op_id) as o:
                res = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            if timed:
                self.failed += 1
            return None
        if timed:
            self.samples[kind].append(o["ms"])
            self.op_ids[kind].append(op_id)
        return res

    def span(self, name: str):
        return self.tracer.span(name)

    def in_span(self, name: str, fn):
        """``fn`` wrapped to run inside span ``name``."""
        def op():
            with self.tracer.span(name):
                return fn()
        return op

    def fail(self, what: str, n: int = 1) -> None:
        """An answer failed its check: ``n`` more failed ops."""
        print(f"CHECK FAILED: {what}", file=sys.stderr)
        self.failed += n

    def window(self):
        """Context manager adding its elapsed time to the timed wall."""
        run = self

        class _W:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                run.wall += time.perf_counter() - self.t0

        return _W()

    def check_jobs_unchanged(self, kind: str, fn) -> None:
        """Run ``fn`` untraced, then traced, and require the same number of
        Spark jobs: tracing must launch none of its own."""
        if not self.trace:
            return
        tr = self.tracer
        tr.enabled = False
        before = tr.jobs_without_group()
        self.call(kind, fn, timed=False)
        untraced = len(tr.jobs_without_group() - before)
        tr.enabled = True
        op_id = f"{kind}#{self._n}"
        self.call(kind, fn, timed=False)
        traced = tr.totals(tr.op_span_ids(op_id))["jobs"]
        self.layer["trace.jobs_untraced." + kind] = (untraced, "count")
        self.layer["trace.jobs_traced." + kind] = (traced, "count")
        if traced != untraced:
            self.fail(f"{kind}: {traced} jobs traced vs {untraced} untraced")

    # -- metrics --------------------------------------------------------

    def ops(self) -> int:
        return sum(len(v) for v in self.samples.values())

    def end_to_end(self) -> dict:
        meds = [median(v) for v in self.samples.values() if v]
        gmean = math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else float("nan")
        return {
            "setup_s": (median(self.setup_s), "s"),
            "ops_per_s": (self.ops() / self.wall if self.wall else float("nan"), "1/s"),
            "op_p50_gmean_ms": (gmean, "ms"),
        }

    def per_layer(self, layers: list[str]) -> dict:
        """Time inside each layer's spans and Spark counters, per timed op,
        over traced ops. A layer a workload never calls reads 0."""
        tr = self.tracer
        ids = [i for ks in self.op_ids.values() for i in ks]
        n = max(1, len(ids))
        out = {f"{layer}.ms_per_op": (sum(tr.span_ms(i, layer) for i in ids) / n, "ms")
               for layer in layers}
        tot = dict.fromkeys(COUNTERS, 0.0)
        for i in ids:
            for k, v in tr.totals(tr.op_span_ids(i)).items():
                tot[k] += v
        units = {"jobs": "count", "stages": "count", "tasks": "count",
                 "input_records": "count", "task_run_ms": "ms", "task_cpu_ms": "ms"}
        for k, v in tot.items():
            out[f"spark.{k}_per_op"] = (v / n, units.get(k, "bytes"))
        # share of the cores' time inside the ops that Spark tasks ran:
        # near 1 when an op is throughput-bound, near 0 when per-job
        # planning and scheduling overhead dominates
        op_ms = sum(sum(v) for v in self.samples.values())
        out["spark.core_busy_frac"] = (
            tot["task_run_ms"] / (op_ms * self.cores()) if op_ms else None, "ratio")
        return out

    def cores(self) -> int:
        return self.spark.sparkContext.defaultParallelism

    def kind_counters(self, kind: str) -> dict:
        """Spark counters per op of ``kind``."""
        tr = self.tracer
        ids = self.op_ids.get(kind, [])
        tot = dict.fromkeys(COUNTERS, 0.0)
        for i in ids:
            for k, v in tr.totals(tr.op_span_ids(i)).items():
                tot[k] += v
        return {k: v / max(1, len(ids)) for k, v in tot.items()}

    def kind_span_ms(self, kind: str, span: str) -> list[float]:
        return [self.tracer.span_ms(i, span) for i in self.op_ids.get(kind, [])]

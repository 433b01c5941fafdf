"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. It starts a local Spark session over every
core, runs one workload (see ``perfbench/spec.json``) on inputs generated
from ``--seed``, checks every answer against an independent numpy
reference, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans go to ``.perfbench_out/``. The line before it,
``perfbench-detail: {...}``, carries every named detail metric of the
workload. All scratch files live in ``.perfbench_tmp/`` and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and put the library on the Python workers' path (the
    mapInPandas kernels import it there)."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # -XX:-UsePerfData: no hsperfdata files under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --driver-java-options "
        f"'-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}' pyspark-shell"
    )


def _descendants(pid: int) -> set[int]:
    """Pids of every live process below ``pid`` (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers exit once the JVM's pipes close; they are not our
    # children, so poll for them
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)


def _clean(metrics: dict) -> dict:
    return {
        k: {"value": v, "unit": u}
        for k, (v, u) in metrics.items()
        if v is not None and not (isinstance(v, float) and math.isnan(v))
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="size preset in spec.json")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "comet_spark", "__init__.py")):
        print(f"perfbench: no comet_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    size = spec["workloads"][args.workload]["sizes"][args.size]

    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _env(work)
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)

    from comet_spark.session import get_spark
    from harness import Run
    from workloads import LAYERS, REPORTED, WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=str(os.cpu_count() or 1))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run = Run(spark, trace=bool(args.trace), seed=args.seed, size=size,
                  seconds=args.seconds, tmp=os.path.join(work, "data"))
        WORKLOADS[args.workload](run)
        run.layer["session.start_s"] = (session_s, "s")
        run.e2e["failed_ops_frac"] = (run.failed / max(1, run.attempted), "ratio")
        if args.trace:
            n = max(1, run.ops())
            layers = run.per_layer(list(LAYERS))
            metrics = {k: v for k, v in layers.items() if k in REPORTED}
            run.layer.update({k: v for k, v in layers.items() if k not in REPORTED})
            metrics["trace.tag_ms_per_op"] = (run.tracer.tag_s * 1e3 / n, "ms")
            metrics["trace.attribute_ms_per_op"] = (run.tracer.attribute_s * 1e3 / n, "ms")
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = run.end_to_end()
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "end_to_end": _clean(run.e2e), "per_layer": _clean(run.layer),
                  "op_samples_ms": {k: v for k, v in run.samples.items()}}
        print("perfbench-detail: " + json.dumps(detail), flush=True)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": _clean(metrics),
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Outside-in tracing: spans around the benchmark's calls into each layer,
plus Spark job/stage/task counters attributed to those spans.

Nothing here reaches into the library. A span records its name, start,
end, parent span and op id in memory; :meth:`Tracer.dump` writes them as
JSON when the run ends. With tracing on, every span also tags the Spark
jobs it triggers with ``setJobGroup("<op>|<span>")``; after the op's timer
stops, the jobs of each group are read back from the status tracker and
each job's stages from ``statusStore().lastStageAttempt``: tasks, executor
run and CPU time, shuffle bytes, input records, output bytes and spill.
Tagging sets a thread-local property and launches no job.

With tracing off, :meth:`Tracer.span` only yields, and :meth:`Tracer.op`
only times the op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records", "output_bytes",
)
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._op_spans: list[int] = []
        # tracing's own cost: inside op timers (job-group tagging) and
        # after them (reading counters back)
        self.tag_s = 0.0
        self.attribute_s = 0.0

    # -- recording ------------------------------------------------------

    @contextmanager
    def op(self, op_id: str):
        """One timed operation; yields a dict that receives ``ms`` (the
        op's wall time, tracing bookkeeping excluded)."""
        out: dict = {}
        self._op, self._op_spans = op_id, []
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                yield out
        finally:
            out["ms"] = (time.perf_counter() - t0) * 1e3
            self._op = None
            if self.enabled:
                t1 = time.perf_counter()
                self.sc.setLocalProperty(_GROUP, None)
                self._attribute(self._op_spans)
                self.attribute_s += time.perf_counter() - t1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        self._op_spans.append(idx)
        self.spans.append(Span(name, self._op or "", parent, 0.0))
        self.sc.setLocalProperty(_GROUP, self._group(idx))
        self.spans[idx].start = t1 = time.perf_counter()
        self.tag_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self.spans[idx].end = t2
            self._stack.pop()
            if self._stack:
                self.sc.setLocalProperty(_GROUP, self._group(self._stack[-1]))
            self.tag_s += time.perf_counter() - t2

    def _group(self, idx: int) -> str:
        return f"{self.spans[idx].op_id}|{idx}"

    # -- Spark counters -------------------------------------------------

    def _attribute(self, idxs: list[int]) -> None:
        """Fill each span's own (not its children's) Spark counters."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for idx in idxs:
            jobs = tracker.getJobIdsForGroup(self._group(idx))
            self.spans[idx].counters = _job_counters(tracker, store, jobs)

    def jobs_without_group(self) -> set[int]:
        """Ids of retained jobs that carry no job group (untraced work)."""
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    # -- queries over recorded spans ------------------------------------

    def op_span_ids(self, op_id: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.op_id == op_id]

    def totals(self, idxs) -> dict:
        """Summed Spark counters of the given spans."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for i in idxs:
            for k, v in self.spans[i].counters.items():
                out[k] += v
        return out

    def span_ms(self, op_id: str, name: str) -> float:
        """Wall time of the op's spans named ``name`` (outermost only)."""
        total, spans = 0.0, self.spans
        for i in self.op_span_ids(op_id):
            s = spans[i]
            if s.name != name:
                continue
            p = s.parent
            while p is not None and spans[p].name != name:
                p = spans[p].parent
            if p is None:
                total += (s.end - s.start) * 1e3
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "op": s.op_id, "parent": s.parent,
                     "start": s.start, "end": s.end, "counters": s.counters}
                    for s in self.spans
                ],
                f,
            )


def _job_counters(tracker, store, job_ids, timeout_s: float = 5.0) -> dict:
    """Sum the stage metrics of ``job_ids``. The status store fills in
    from Spark's listener bus, so wait (bounded) until every job and every
    stage that ran reports all its tasks complete."""
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = float(len(job_ids))
    deadline = time.monotonic() + timeout_s
    stage_ids: set[int] = set()
    for j in job_ids:
        while True:
            info = tracker.getJobInfo(j)
            if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.005)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        st = status = None
        while True:
            try:
                st = store.lastStageAttempt(sid)
                status = st.status().toString()
            except Py4JJavaError:  # not in the status store yet
                st = status = None
            if status == "SKIPPED" or (
                status in ("COMPLETE", "FAILED")
                and st.numCompleteTasks() + st.numFailedTasks() >= st.numTasks()
            ):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.005)
        if st is None or status == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["task_run_ms"] += st.executorRunTime()
        out["task_cpu_ms"] += st.executorCpuTime() / 1e6
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_records"] += st.inputRecords()
        out["output_bytes"] += st.outputBytes()
    return out

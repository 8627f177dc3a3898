"""Tracing from the benchmark's side of each layer boundary.

Spans are recorded around the calls the benchmark makes into the engine's
public functions and kept in memory until the run ends. Counts come from
two places outside the engine: a counter on the py4j client's
``send_command`` (installed on the client instance, below any
``py4j_fastpath`` cache, so it counts the commands actually sent), and
Spark's ``AppStatusStore``, read per job group after the work finished.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict


class Tracer:
    """In-memory spans plus per-layer counters. A disabled tracer records
    nothing and costs one attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.py4j_commands = 0
        self._ids = itertools.count(1)
        self._stack: list[tuple[dict, list[float]]] = []  # (span, child time)

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str = ""):
        """Record ``name`` around the block; yields the span record, whose
        ``end`` is set when the block exits. Child spans share their
        parent's trace id. Adds the span's duration to ``<name>_s`` and its
        self time (duration minus child spans) to ``<name>_self_s``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1][0] if self._stack else {"id": 0, "trace": ""}
        rec = {"id": next(self._ids), "parent": parent["id"],
               "trace": trace_id or parent["trace"], "name": name,
               "start": time.perf_counter(), "end": None}
        self._stack.append((rec, [0.0]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            _, children = self._stack.pop()
            dur = rec["end"] - rec["start"]
            if self._stack:
                self._stack[-1][1][0] += dur
            self.spans.append(rec)
            self.counts[name + "_s"] += dur
            self.counts[name + "_self_s"] += dur - children[0]

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def install_py4j_counter(self, spark) -> None:
        """Count every command the Python driver sends to the JVM."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_commands += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def job_group_metrics(spark, group: str) -> dict[str, float]:
    """Jobs, stages and tasks of one job group, from the AppStatusStore.

    ``job_s`` sums job wall times; ``task_skew`` is the largest ratio of a
    stage's slowest task to its median task over stages of 2+ tasks.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    m = defaultdict(float)
    m["task_skew"] = 1.0
    for job_id in tracker.getJobIdsForGroup(group):
        m["jobs"] += 1
        job = store.job(job_id)
        if job.completionTime().isDefined():
            m["job_s"] += (
                job.completionTime().get().getTime()
                - job.submissionTime().get().getTime()
            ) / 1e3
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # stage evicted from the store or never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue
            tasks = st.numCompleteTasks()
            m["tasks"] += tasks
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["input_bytes"] += st.inputBytes()
            m["output_records"] += st.outputRecords()
            m["output_bytes"] += st.outputBytes()
            if st.inputBytes() > 0:
                m["scan_tasks"] += tasks
            if tasks >= 2:
                summary = store.taskSummary(stage_id, st.attemptId(), quantiles)
                if summary.isDefined():
                    dur = summary.get().duration()
                    median, top = dur.apply(0), dur.apply(1)
                    if median > 0:
                        m["task_skew"] = max(m["task_skew"], top / median)
    return dict(m)


def query_phases(df) -> dict[str, float]:
    """Force the physical plan and return Catalyst's phase times (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def cached_bytes(spark) -> int:
    return sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )

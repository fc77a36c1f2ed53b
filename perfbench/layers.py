"""Per-layer spans measured from outside the engine.

A span wraps one call into a layer's public function plus the action that
materializes its output. Inside the span every Spark job carries the span's
job group; ``Tracer.finish``, called after the timed repetition so that the
reading costs no span time, reads the counters back per group:

- jobs and stages from ``SparkContext.statusTracker()``;
- task time, shuffle, spill, output bytes and failed tasks per stage from the
  JVM app status store (populated with ``spark.ui.enabled=false``);
- Python crossings and exchanges from the AQE-final plan graph of every SQL
  execution the span ran. A physical node is keyed by its metric
  accumulator ids and counted only by the first span whose executions show
  it, so a cached plan is charged to the span that built it, not to every
  later span that reads the cache.

Spans nest: a child span's jobs, stages and wall are its own, and the
parent reports self values (its totals minus the children's).
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
COUNTERS = (
    "wall_s", "jobs", "stages", "task_busy_s", "shuffle_write_bytes",
    "spill_bytes", "failed_tasks", "rows_out", "python_crossings", "exchanges",
)
# read from the status store too: the rows_out of a layer that writes to
# storage, and catalog.bytes_written
_WRITE_COUNTERS = ("output_bytes", "output_records")


def _seq(scala_seq) -> list:
    """Py4J view of a Scala Seq as a Python list."""
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Collects per-layer counters for one traced run of a workload."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTERS + _WRITE_COUNTERS, 0)
        )
        # workload-specific ratios and counts, filled by the harness
        self.extras: dict[str, float] = {}
        self._stack: list[str] = []
        self._child_wall: list[float] = []
        self._spans: list[tuple[str, str]] = []  # (layer, job group), in order
        self._seen_nodes: set[tuple] = set()
        self._done_execs: set[int] = set()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._first_exec = max((e.executionId() for e in _seq(self._sql.executionsList())), default=-1) + 1
        self._id = uuid.uuid4().hex[:8]
        self._n = 0

    @contextmanager
    def span(self, layer: str):
        """Time ``layer`` and attribute the Spark work run inside it."""
        self._n += 1
        group = f"perfbench-{self._id}-{self._n}-{layer}"
        self._stack.append(group)
        self._child_wall.append(0.0)
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield self.totals[layer]
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            child_wall = self._child_wall.pop()
            if self._child_wall:
                self._child_wall[-1] += wall
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self._jsc.clearJobGroup()
            self.totals[layer]["wall_s"] += wall - child_wall
            self._spans.append((layer, group))

    def finish(self) -> None:
        """Read every span's counters; call once, after the repetition."""
        # the status store is fed by the listener bus: drain it first so the
        # last span's jobs and stages are already recorded
        self._jsc.listenerBus().waitUntilEmpty()
        for layer, group in self._spans:
            self._collect(layer, group)
        # a layer whose output goes to storage: the records it wrote
        for t in self.totals.values():
            if not t["rows_out"]:
                t["rows_out"] = t["output_records"]

    def _collect(self, layer: str, group: str) -> None:
        t = self.totals[layer]
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        t["jobs"] += len(job_ids)
        store = self._jsc.statusStore()
        for job_id in job_ids:
            info = self.sc.statusTracker().getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue  # never submitted (skipped)
                if st.status().toString() == "SKIPPED":
                    continue
                t["stages"] += 1
                t["task_busy_s"] += st.executorRunTime() / 1000.0
                t["shuffle_write_bytes"] += st.shuffleWriteBytes()
                t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                t["failed_tasks"] += st.numFailedTasks()
                t["output_bytes"] += st.outputBytes()
                t["output_records"] += st.outputRecords()
        self._count_plan_nodes(t, job_ids)

    def _count_plan_nodes(self, t: dict, job_ids: set) -> None:
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid < self._first_exec or eid in self._done_execs:
                continue
            jobs = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
            if not jobs & job_ids:
                continue
            self._done_execs.add(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                is_py = name in PYTHON_NODES
                is_ex = name.endswith("Exchange") and name != "ReusedExchange"
                if not (is_py or is_ex):
                    continue
                key = tuple(sorted(m.accumulatorId() for m in _seq(node.metrics())))
                if not key or key in self._seen_nodes:
                    continue
                self._seen_nodes.add(key)
                t["python_crossings" if is_py else "exchanges"] += 1

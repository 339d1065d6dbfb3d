"""Per-layer tracing from outside the engine.

The benchmark calls into the engine at four boundaries: the registry
load, the session start, each builder ``(spark, dir)`` and the forcing
``noop`` write. In a traced run every builder call and every write runs
under its own Spark job group, so the jobs each one launched can be read
back from Spark's status store, and the DataFrame's Catalyst phase
times are read from its ``QueryExecution`` tracker. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

# Engine modules that register the workloads' keys; build and exec
# times are reported per module.
MODULES = (
    "sql_queries",
    "graph",
    "features",
    "similarity",
    "dedup",
    "text",
    "multimodal",
    "record_ops",
    "scans",
    "cdc",
    "joins",
)
PHASES = ("analysis", "optimization", "planning")
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    key: str | None = None


class Tracer:
    """Job groups, status-store reads and spans for one traced session."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.spans: list[Span] = []

    def span(self, name, start, end, parent=None, key=None) -> None:
        self.spans.append(Span(name, start, end, parent, key))

    def group(self, group_id: str) -> None:
        """Tag the jobs the calling thread launches from now on."""
        self._sc.setJobGroup(group_id, group_id)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def plan(df) -> dict[str, float]:
        """Plan ``df`` and return its Catalyst phase times in ms.

        Analysis ran when the builder created ``df``; optimization and
        planning run here, so the traced write plans twice (counted in
        the trace overhead).
        """
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in PHASES:
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def jobs(self, group_id: str) -> dict[str, float]:
        """Sum the status-store metrics of the stages a job group ran."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group_id)
        out["jobs"] = float(len(job_ids))
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never got an attempt
                continue
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

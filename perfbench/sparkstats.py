"""What Spark did for one phase of an execution, read from outside.

The benchmark runs each traced phase under its own job group, then asks
the driver's status stores: the job ids of the group (``statusTracker``),
each job's submission and completion times and stages
(``AppStatusStore``), and the plan graph of every SQL execution the phase
started (``SQLAppStatusStore``).  Nothing inside the engine is changed.
"""

from __future__ import annotations

import dataclasses
import re

#: plan-graph node names counted by the census, by metric
_PLAN_NODES = {
    "exchanges": re.compile(r"^(Exchange|BroadcastExchange)$"),
    "sorts": re.compile(r"^Sort$"),
    "windows": re.compile(r"^Window"),
    "python_nodes": re.compile(r"Python|Pandas|InArrow"),
    "cached_relations": re.compile(r"^InMemoryTableScan$"),
}


@dataclasses.dataclass
class Job:
    id: int
    start: float
    end: float


@dataclasses.dataclass
class PhaseStats:
    jobs: list[Job] = dataclasses.field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0
    plan: dict[str, int] = dataclasses.field(
        default_factory=lambda: dict.fromkeys(_PLAN_NODES, 0)
    )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkProbe:
    """Job-group bookkeeping and status-store reads for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # py4j cannot fill in Scala default arguments; fetch them once
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)
        ]
        self._next_sql_id = 0
        self._pending_sql: list[int] = []
        self.drain()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> list[int]:
        """Wait for the listener bus, then return the ids of the SQL
        executions started since the last call."""
        self._bus.waitUntilEmpty()
        new = []
        while self._sql.execution(self._next_sql_id).isDefined():
            new.append(self._next_sql_id)
            self._next_sql_id += 1
        return new

    def collect(self, group: str, census: bool) -> PhaseStats:
        """Stats of every job run under ``group``; with ``census``, also
        the plan-node counts of the SQL executions that ran those jobs."""
        self._pending_sql += self.drain()
        out = PhaseStats()
        seen_stages: set[int] = set()
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            out.jobs.append(
                Job(
                    jid,
                    sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                )
            )
            for sid in _seq(job.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for st in _seq(self._store.stageData(sid, *self._stage_defaults)):
                    if st.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += st.numCompleteTasks()
                    out.shuffle_read_bytes += st.shuffleReadBytes()
                    out.shuffle_write_bytes += st.shuffleWriteBytes()
                    out.shuffle_write_records += st.shuffleWriteRecords()
                    out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out.executor_cpu_s += st.executorCpuTime() / 1e9
        if census:
            for eid in self._pending_sql:
                jobs = self._sql.execution(eid).get().jobs()
                if not any(jobs.contains(j) for j in job_ids):
                    continue
                for node in _seq(self._sql.planGraph(eid).allNodes()):
                    name = node.name().strip()
                    for metric, pattern in _PLAN_NODES.items():
                        if pattern.search(name):
                            out.plan[metric] += 1
            self._pending_sql = []
        return out

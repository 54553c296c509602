"""Reader for Spark's driver-side status store, over py4j.

Spark sessions here run with the UI disabled, so there is no REST API;
the same records live in the driver's AppStatusStore
(`sc._jsc.sc().statusStore()`). `jobsList(None)` lists every retained
job with its job group and stage ids; `lastStageAttempt(id)` gives the
stage's task metrics. (`stageList` does not exist in Spark 4.x.)

Counts read here (jobs, tasks, CPU time, records, shuffle bytes) do not
change when the host is throttled, unlike wall-clock times.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else float(d.getTime())


@dataclass
class Work:
    """Work of a set of jobs, summed over their stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    submit_to_first_task_ms: float = 0.0
    intervals: list = field(default_factory=list)  # (submitted_ms, completed_ms) per job


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event."""
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JJavaError:
            time.sleep(0.5)

    def jobs(self) -> list[dict]:
        out = []
        js = self._store.jobsList(None)
        for i in range(js.size()):
            j = js.apply(i)
            sids = j.stageIds()
            out.append({
                "group": _opt(j.jobGroup()),
                "submitted_ms": _ms(j.submissionTime()),
                "completed_ms": _ms(j.completionTime()),
                "stage_ids": [sids.apply(k) for k in range(sids.size())],
            })
        return out

    def work(self, jobs: list[dict]) -> Work:
        w = Work(jobs=len(jobs))
        for j in jobs:
            w.intervals.append((j["submitted_ms"], j["completed_ms"]))
            first_launch = None
            for sid in j["stage_ids"]:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # stage never attempted
                if st.status().toString() == "SKIPPED":
                    continue
                w.stages += 1
                w.tasks += st.numTasks()
                w.cpu_s += st.executorCpuTime() / 1e9
                w.gc_s += st.jvmGcTime() / 1e3
                w.input_records += st.inputRecords()
                w.shuffle_read_mb += st.shuffleReadBytes() / MB
                w.shuffle_write_mb += st.shuffleWriteBytes() / MB
                w.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                launched = _ms(st.firstTaskLaunchedTime())
                if launched is not None:
                    first_launch = launched if first_launch is None else min(first_launch, launched)
            if first_launch is not None and j["submitted_ms"] is not None:
                w.submit_to_first_task_ms += max(0.0, first_launch - j["submitted_ms"])
        return w

    def work_by_group(self) -> dict[str, Work]:
        """Work per job group, over every retained job that has one."""
        by: dict[str, list] = {}
        for j in self.jobs():
            if j["group"] is not None:
                by.setdefault(j["group"], []).append(j)
        return {g: self.work(js) for g, js in by.items()}

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def cache_mb(self) -> float:
        """Storage memory held by persisted RDDs."""
        return sum(i.memSize() for i in self._sc._jsc.sc().getRDDStorageInfo()) / MB


"""Spans around calls into a layer, with the Spark stage metrics they caused.

A span runs its body under a Spark job group of its own.  Reading it back
waits for the listener bus to drain, then walks group -> jobs -> stages and
reads each stage's last attempt from the status store, which Spark keeps
with ``spark.ui.enabled=false`` too.  Spans stay in memory until written.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# stage counters summed per span: status-store field -> span key
_STAGE_FIELDS = {
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "jvm_cpu_ns",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "inputRecords": "input_records",
    "shuffleReadRecords": "shuffle_read_records",
}


@dataclass
class Span:
    layer: str
    name: str
    op: int  # op index; spans of one op share it
    start: float
    end: float
    group: str
    jobs: int = 0
    stages: int = 0  # executed stages; stages skipped for reused shuffles not counted
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str, op: int):
        group = f"perfbench:{layer}:{name}:{op}:{len(self.spans)}"
        self.sc.setJobGroup(group, group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(layer, name, op, start, end, group))

    def collect(self, spans: list[Span]) -> None:
        """Fill in the stage metrics of ``spans`` (call outside timing)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(job_ids)
            s.counters = dict.fromkeys(_STAGE_FIELDS.values(), 0.0)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = store.lastStageAttempt(sid)
                    if str(st.status()) != "COMPLETE":
                        continue
                    s.stages += 1
                    s.tasks += st.numCompleteTasks()
                    for attr, key in _STAGE_FIELDS.items():
                        s.counters[key] += getattr(st, attr)()

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

"""Spans around the harness's calls into each module, plus Spark
counters read from outside the engine.

A span records name, start, end, its parent span and the run id, and
the job-id and stage-id high-water marks of the DAG scheduler at entry
and exit. Every job submitted while the span was open -- job groups
included, which ``statusTracker().getJobIdsForGroup(None)`` misses --
has an id in ``[job_lo, job_hi)``, and every stage created for those
jobs an id in ``[stage_lo, stage_hi)``. After the run, one status-store
read (``stageList``) attributes each stage's ``shuffleWriteBytes``,
``executorRunTime`` and failed-task count to the innermost span that
created it. Spans live in memory and are written out when the run ends.

With tracing off every span is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import median


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    job_lo: int
    stage_lo: int
    end: float = 0.0
    job_hi: int = 0
    stage_hi: int = 0
    # filled by Tracer.finish() from the status store
    shuffle_write_bytes: int = 0
    executor_run_ms: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0

    @property
    def secs(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.cost_s = 0.0  # time spent reading counters at span edges
        self.failed_tasks = 0  # over every stage of the run
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def _marks(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        j, s = self._marks()
        sp = Span(name, time.perf_counter(),
                  self._stack[-1] if self._stack else None, self.run_id, j, s)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.cost_s += sp.start - t
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            sp.job_hi, sp.stage_hi = self._marks()
            self._stack.pop()
            self.cost_s += time.perf_counter() - sp.end

    def finish(self) -> None:
        """Attribute stage counters and compute self times. Call once,
        after the traced work and before the SparkContext stops."""
        if not self.enabled:
            return
        jvm = self._sc._jvm
        stages = self._sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        per_stage: dict[int, list[int]] = {}
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            acc = per_stage.setdefault(int(st.stageId()), [0, 0, 0])
            acc[0] += int(st.shuffleWriteBytes())
            acc[1] += int(st.executorRunTime())
            acc[2] += int(st.numFailedTasks())
            self.failed_tasks += int(st.numFailedTasks())
        for sid, (wb, rt, ft) in per_stage.items():
            owner = self._owner(sid)
            if owner is None:
                continue
            # a stage counts toward its creating span and all enclosing ones
            while owner is not None:
                sp = self.spans[owner]
                sp.shuffle_write_bytes += wb
                sp.executor_run_ms += rt
                sp.failed_tasks += ft
                owner = sp.parent
        child_s = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] += sp.secs
        for i, sp in enumerate(self.spans):
            sp.self_s = sp.secs - child_s[i]

    def _owner(self, stage_id: int) -> int | None:
        """Innermost span whose stage range holds ``stage_id``."""
        best = None
        for i, sp in enumerate(self.spans):
            if sp.stage_lo <= stage_id < sp.stage_hi:
                best = i  # later spans opened inside earlier ones
        return best

    def find(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def medians(self, name: str) -> dict[str, float]:
        """Per-span medians over every span called ``name``; zeros when
        the layer did not run."""
        sps = self.find(name)
        if not sps:
            return {"s": 0.0, "jobs": 0.0, "shuffle_write_mb": 0.0}
        return {
            "s": median([sp.secs for sp in sps]),
            "jobs": median([sp.jobs for sp in sps]),
            "shuffle_write_mb": median([sp.shuffle_write_bytes for sp in sps]) / 1e6,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "counter_read_s": self.cost_s,
                       "spans": [dict(asdict(sp), secs=sp.secs, jobs=sp.jobs)
                                 for sp in self.spans]}, f, indent=1)

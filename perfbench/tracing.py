"""In-memory span tracing around the engine's public layer entry points.

A span is (name, layer, start, end, parent, op id). Spans are opened by
wrappers the tracer installs over public functions and methods for the
duration of a traced run, and by the benchmark around each operation it
times. Nothing is written until the run ends.

Spark runtime counters come from the status store: every span records
the highest job id known at its start and end, so the jobs a span
launched are the ids in between (one client thread, so the attribution
is exact), and each job's stages are read with
``statusStore().lastStageAttempt(id)`` once the operation has finished.
"""

from __future__ import annotations

import functools
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

#: Spark runtime counters read per job, with their units
SPARK_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "input_bytes": "B",
}


@dataclass
class Span:
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = -1
    job_hi: int = -1
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id = 0
        #: op id -> seconds the tracer spent inside that operation's timed region
        self.cost: dict[int, float] = {}
        self._tracker = spark.sparkContext.statusTracker()
        self._jsc = spark.sparkContext._jsc.sc()
        self._stage_cache: dict[int, dict] = {}

    # -- spans ---------------------------------------------------------
    def _max_job(self) -> int:
        ids = self._tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    def begin(self, name: str, layer: str) -> Span:
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, self.op_id, parent, 0.0)
        sp.job_lo = self._max_job()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        self._charge(sp, sp.start - t_in)
        return sp

    def end(self, sp: Span, at: float | None = None) -> None:
        t_in = time.perf_counter()
        sp.end = t_in if at is None else at
        self._stack.pop()
        sp.job_hi = self._max_job()
        self._charge(sp, time.perf_counter() - t_in)

    def _charge(self, sp: Span, secs: float) -> None:
        """Book the tracer's own time to the operation it ran inside. The
        benchmark's operation spans open before and close after the timed
        region, so only the layer spans' bookkeeping counts."""
        if sp.layer != "bench":
            self.cost[sp.op_id] = self.cost.get(sp.op_id, 0.0) + secs

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`unpatch`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, layer))

    def patch_all(self, points) -> None:
        for owner, attr, name, layer in points:
            self.patch(owner, attr, name, layer)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- Spark runtime counters ----------------------------------------
    def _stage(self, sid: int) -> dict:
        if sid not in self._stage_cache:
            try:
                sd = self._jsc.statusStore().lastStageAttempt(sid)
            except Py4JError:  # skipped stage: never attempted
                self._stage_cache[sid] = {}
            else:
                self._stage_cache[sid] = {
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "input_bytes": sd.inputBytes(),
                }
        return self._stage_cache[sid]

    def _counters(self, job_ids) -> dict:
        out = dict.fromkeys(SPARK_UNITS, 0)
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                for k, v in self._stage(sid).items():
                    out[k] += v
        return out

    def settle(self, first_span: int) -> None:
        """Attach self-attributed Spark counters to spans[first_span:]; call
        after an operation ends, outside its timed region."""
        self._jsc.listenerBus().waitUntilEmpty()
        spans = self.spans[first_span:]
        child_jobs: dict[int, set] = {}
        for i, sp in enumerate(spans, first_span):
            if sp.parent is not None:
                child_jobs.setdefault(sp.parent, set()).update(
                    range(sp.job_lo + 1, sp.job_hi + 1)
                )
        for i, sp in enumerate(spans, first_span):
            own = set(range(sp.job_lo + 1, sp.job_hi + 1)) - child_jobs.get(i, set())
            sp.spark = self._counters(sorted(own))

    # -- reporting -----------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return [sp.dur - c for sp, c in zip(self.spans, child)]

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def op_spark(self, span: Span) -> dict:
        """Counters of every span of ``span``'s operation (inclusive)."""
        out = dict.fromkeys(SPARK_UNITS, 0)
        for sp in self.spans:
            if sp.op_id == span.op_id:
                for k, v in sp.spark.items():
                    out[k] += v
        return out

    def layer_table(self) -> dict[str, dict]:
        """Per layer: span count and total self time."""
        out: dict[str, dict] = {}
        for sp, st in zip(self.spans, self.self_times()):
            row = out.setdefault(sp.layer, {"spans": 0, "self_s": 0.0})
            row["spans"] += 1
            row["self_s"] += st
        return out

    def dump(self) -> dict:
        return {
            "spans": [
                {
                    "name": sp.name,
                    "layer": sp.layer,
                    "op_id": sp.op_id,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": st,
                    "spark": sp.spark,
                }
                for sp, st in zip(self.spans, self.self_times())
            ],
            "layers": self.layer_table(),
        }


def median_ms(spans: list[Span]) -> float:
    return statistics.median(sp.dur for sp in spans) * 1e3 if spans else 0.0

"""Run plumbing shared by the workloads: host sizing, the Spark session,
the closed-loop operation recorder, and the size/memory probes."""

from __future__ import annotations

import math
import os
import resource
import sys
import time
import traceback

import duckdb
import pyarrow as pa


class CheckError(AssertionError):
    """An operation's output differs from the benchmark's model."""


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap() -> str:
    """Driver heap from /proc/meminfo: an eighth of the host's memory,
    between 1 and 4 GiB (the inputs here need well under 1 GiB)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mib = int(line.split()[1]) // 1024
                return f"{min(4096, max(1024, mib // 8))}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_session(tmp: str):
    """The engine's own session factory, sized from the host, with every
    scratch path inside ``tmp``. The driver JVM runs with its default
    flags (all JIT tiers, heap grown on demand), as it would be deployed."""
    from weather_etl_docker_airflow_project_spark.session import build_session as engine_build

    n = host_cpus()
    return engine_build(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": host_heap(),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def live_mem_mb(spark) -> float:
    """Memory the run holds at its end: the driver JVM's heap still live
    after a full collection, plus its non-heap pools in use (metaspace,
    code cache), plus this Python process's peak resident set. The JVM's
    resident set and its pools' peak usage are not used: both follow the
    collector's sizing decisions, which differ between runs of the same
    work."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    held = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    return (held + py) / 2**20


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters, in ticks (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of all CPU time since ``before`` that the hypervisor ran other
    guests on this VM's vCPUs. On a shared host it sets most of the
    spread of wall-clock figures between runs, so it is printed beside
    them."""
    d = [b - a for a, b in zip(before, cpu_ticks())]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def json_bytes(tbl: pa.Table) -> int:
    """Bytes of ``tbl`` as JSON lines (one object per row plus newline):
    the storage model's denominator."""
    con = duckdb.connect()
    try:
        con.register("t", tbl)
        n = con.execute(
            "SELECT coalesce(sum(strlen(CAST(to_json(t) AS VARCHAR)) + 1), 0) FROM t"
        ).fetchone()[0]
    finally:
        con.close()
    return int(n)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; an infinite value (a failed
    operation) sorts beyond every finite one."""
    xs = sorted(values)
    if not xs:
        return math.inf
    pos = q * (len(xs) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if xs[hi] == math.inf:
        return math.inf
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Op:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.latency: float | None = None

    def stop(self) -> None:
        """End the timed region; output checks run after this."""
        if self.latency is None:
            self.latency = time.perf_counter() - self.t0


class Recorder:
    """Closed-loop operation log: one client thread, each operation timed
    from its call to its last output row; a failed operation (an exception
    or an output mismatch) is recorded with infinite latency."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        #: per kind, the tracer's own seconds inside each traced operation
        self.cost: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def op(self, kind: str):
        return _OpContext(self, kind)

    def kinds(self, *kinds: str) -> list[float]:
        return [x for k in kinds for x in self.lat.get(k, [])]


class _OpContext:
    def __init__(self, rec: Recorder, kind: str):
        self.rec = rec
        self.kind = kind

    def __enter__(self) -> Op:
        tr = self.rec.tracer
        if tr is not None:
            tr.op_id += 1
            self.first = len(tr.spans)
            self.span = tr.begin(f"op.{self.kind}", "bench")
        self.op = Op()
        return self.op

    def __exit__(self, exc_type, exc, tb):
        self.op.stop()
        tr = self.rec.tracer
        if tr is not None:
            tr.end(self.span, at=self.span.start + self.op.latency)
            tr.settle(self.first)
        self.rec.attempted += 1
        lat = self.op.latency
        if exc_type is not None:
            if not issubclass(exc_type, Exception):
                return False
            self.rec.failed += 1
            lat = math.inf
            print(f"operation {self.kind} failed:", file=sys.stderr)
            traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
        self.rec.lat.setdefault(self.kind, []).append(lat)
        if tr is not None:
            self.rec.cost.setdefault(self.kind, []).append(tr.cost.get(tr.op_id, 0.0))
        return True

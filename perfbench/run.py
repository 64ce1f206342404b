"""Benchmark entry point for the engine.

    python3 perfbench/run.py --workload etl_microbatch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client thread drives the engine's
public API in a closed loop on ``local[<cpus>]`` for ``--seconds``, checks
every output, and prints the end-to-end metrics by name (``--trace 0``).
``--trace 1`` runs the same loop traced, reports the per-layer metrics and
the tracing overhead, and writes every span to ``perfbench/out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Scratch data lives in a temporary directory inside the checkout that is
removed at exit; nothing outside the checkout is read or written.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "etl_microbatch": ("etl", "EtlMicrobatch"),
    "lakehouse_mixed": ("lakehouse", "LakehouseMixed"),
    "analytics_batch": ("analytics", "AnalyticsBatch"),
}
#: written in place of a percentile that a failed operation pushed to infinity
FAILED_LATENCY = 1e12


def _workload(name: str):
    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)


def _loop(w, rec, seconds: float) -> float:
    """Closed loop over a fixed number of rounds: ``seconds`` divided by the
    workload's nominal round time on a 4-vCPU host, rounded up. A fixed
    count, not a deadline: with rounds of several seconds, a deadline makes
    the number of rounds (and how warm the last one is) jump between runs.
    Returns the storage amplification after the workload's
    ``storage_rounds`` rounds, so that it does not depend on run length."""
    rounds = math.ceil(seconds / w.round_s)
    amp = None
    for i in range(rounds):
        w.round(rec)
        if i + 1 == min(rounds, w.storage_rounds):
            amp = w.storage_amp()
    return amp


def _end_to_end(lat: dict[str, list[float]]) -> dict:
    """End-to-end figures of one loop's latencies, per operation kind.
    ``op_p50_ms`` is the median latency of each kind (a cycle; a merge,
    append, lookup, scan or snapshot; one registry query), then the
    geometric mean across kinds: every kind moves it, by its share, where a
    pooled median over a fixed mix would sit on one kind's samples."""
    from harness import quantile

    kinds = {k: xs for k, xs in lat.items() if k != "warmup"}
    all_lat = [x for xs in kinds.values() for x in xs]
    p50 = [quantile(xs, 0.5) for xs in kinds.values()]
    total = sum(all_lat)
    return {
        "op_p50_ms": (math.prod(p50) ** (1 / len(p50)) * 1e3 if p50 else math.inf, "ms"),
        "ops_per_s": (len(all_lat) / total if all_lat and total < math.inf else 0.0, "1/s"),
        "ops": (len(all_lat), "count"),
        "op_kinds": (len(kinds), "count"),
    }


def _traced(args, spark, w, tmp: str, rec, recs: list) -> tuple[float, dict, list[str]]:
    """Run the loop with every layer entry point wrapped, then one traced
    round of each other workload at probe size, so that every layer's
    metrics exist on every workload. Returns the loop's storage
    amplification, the per-layer metrics and the lines to print.

    The tracing overhead is the traced end-to-end figures minus the same
    figures of the same operations with the tracer's own time (its
    bookkeeping and status-store calls inside each timed region) taken
    out, so both sides see the same state and the same JIT."""
    import harness
    from harness import Recorder
    from tracing import SPARK_UNITS, Tracer

    tracer = Tracer(spark)
    points = [p for name in WORKLOADS for p in _workload(name).trace_points()]
    rec.tracer = tracer
    tracer.patch_all(points)
    try:
        amp = _loop(w, rec, args.seconds)
        main_ops = tracer.op_id
        layer = w.layer_metrics(tracer)
        for other in WORKLOADS:
            if other == args.workload:
                continue
            tracer.unpatch()
            probe = _workload(other)(spark, tmp, args.seed, probe=True)
            recs.append(Recorder())
            probe.setup(recs[-1])
            tracer.patch_all(points)
            recs.append(Recorder(tracer))
            probe.round(recs[-1])
            layer = {**probe.layer_metrics(tracer), **layer}
    finally:
        tracer.unpatch()

    traced = _end_to_end(rec.lat)
    untraced = _end_to_end(
        {k: [x - c for x, c in zip(xs, rec.cost[k])] for k, xs in rec.lat.items() if k in rec.cost}
    )
    main = [sp for sp in tracer.spans if sp.op_id <= main_ops]
    busy = sum(x for k, xs in rec.lat.items() if k != "warmup" for x in xs)
    for k, unit in SPARK_UNITS.items():
        layer[f"spark.{k}"] = (sum(sp.spark.get(k, 0) for sp in main), unit)
    run_s = layer["spark.executor_run_s"][0]
    layer["spark.cpu_busy_share"] = (run_s / (busy * harness.host_cpus()) if busy else 0.0, "ratio")
    layer["trace.overhead_p50_ms"] = (traced["op_p50_ms"][0] - untraced["op_p50_ms"][0], "ms")
    layer["trace.overhead_ops_per_s"] = (traced["ops_per_s"][0] - untraced["ops_per_s"][0], "1/s")

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    out = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, **tracer.dump(),
                   "per_layer": {k: v[0] for k, v in layer.items()}}, f, indent=1)
    lines = [f"trace written to {os.path.relpath(out, ROOT)}"]
    for name, row in sorted(tracer.layer_table().items()):
        lines.append(f"layer {name:10s} spans={row['spans']:5d} self={row['self_s']:.3f} s")
    lines += [f"without tracer time {k} = {v:.4f} {unit}" for k, (v, unit) in untraced.items()]
    return amp, layer, lines


def run(args, tmp: str) -> tuple[dict, list[str]]:
    import harness
    from harness import Recorder

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t0 = time.perf_counter()
    spark = harness.build_session(tmp)
    build_s = time.perf_counter() - t0
    try:
        w = _workload(args.workload)(spark, tmp, args.seed)
        rec = Recorder()
        recs = [rec]
        w.setup(rec)
        setup_s = time.perf_counter() - t0
        lines = [f"session build {build_s:.2f} s of set-up {setup_s:.2f} s"]
        ticks = harness.cpu_ticks()
        if args.trace:
            amp, layer, traced_lines = _traced(args, spark, w, tmp, rec, recs)
            layer["session.build_s"] = (build_s, "s")
            lines += traced_lines
        else:
            amp = _loop(w, rec, args.seconds)
        lines.append(f"host CPU steal during the loop {harness.steal_share(ticks):.3f}")
        metrics = {"setup_s": (setup_s, "s"), "storage_amp": (amp, "ratio"), **_end_to_end(rec.lat)}
        summary = w.summary(rec)
        problems = w.finish()
        metrics["live_mem_mb"] = (harness.live_mem_mb(spark), "MB")
    finally:
        _stop(spark)
    lines += [f"CHECK FAILED: {p}" for p in problems]
    lines += [f"{args.workload} {k} = {v:.4f} {unit}" for k, (v, unit) in {**summary, **metrics}.items()]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    chosen = layer if args.trace else metrics
    missing = [m["name"] for m in wanted if m["name"] not in chosen]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    failed = sum(r.failed for r in recs)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": sum(r.attempted for r in recs),
        "failed": failed,
        "metrics": {
            m["name"]: {
                "value": v if math.isfinite(v := chosen[m["name"]][0]) else FAILED_LATENCY,
                "unit": m["unit"],
            }
            for m in wanted
        },
    }
    return result, lines


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while listing
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def _stop(spark) -> None:
    """Stop Spark, then wait for the driver JVM and every process it started
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no /tmp/hsperfdata_<user> files from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            importlib.import_module("weather_etl_docker_airflow_project_spark.session")
        except ImportError as exc:
            print(f"the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        result, lines = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""``lakehouse_mixed``: writes beside reads on a ``VersionedTable`` seeded
with the shipped sf0.1 ``events`` table (100,000 rows, loaded through the
engine's ``io.load_table``; 8 ``event_id`` buckets, ``event_id``/``ts``
statistics columns).

Each step makes one write, alternating a ``merge_upsert`` of a seeded
2,000-key range with a blind ``commit`` of 2,000 new ids, then a
``read_at_keys`` point lookup (every other one on keys the last write
touched) and a ``read_where`` range scan; a time-travel
``read(version=...)`` closes every block of two steps. Every result is
compared with the benchmark's in-memory model of the operation sequence.
"""

from __future__ import annotations

import calendar
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from weather_etl_docker_airflow_project_spark.io import load_table
from weather_etl_docker_airflow_project_spark.operators import versioned
from weather_etl_docker_airflow_project_spark.operators.versioned import VersionedTable

from gen import event_rows, rng
from harness import CheckError, dir_bytes, json_bytes, quantile
from tracing import median_ms

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
WRITE_ROWS = 2000
LOOKUP_KEYS = 5
SCAN_IDS = 5000
SNAPSHOT_IDS = 2000
BLOCK_STEPS = 2
READS = ("lookup", "scan", "snapshot")
WRITES = ("merge", "append")


def _row_key(r) -> tuple:
    ts = r["ts"]
    us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
    return (r["event_id"], us, r["user_id"], r["event_type"], r["value"], r["props"])


class LakehouseMixed:
    name = "lakehouse_mixed"
    round_s = 4.5  # one block: merge, append, four reads, time travel
    warmup_rounds = 1  # the first block plans and compiles cold
    storage_rounds = 1  # the table after one block of writes

    def __init__(self, spark, tmp: str, seed: int, probe: bool = False):
        self.spark = spark
        self.seed = seed
        self.dir = f"{tmp}/lakehouse-events"
        self.data = os.path.join(DATA, "sf0.01" if probe else "sf0.1")
        self.probe = probe
        self.step_no = 0
        self.write_amp = [0, 0]  # bytes written, source-batch JSON bytes
        self.scan_ratio: list[float] = []
        self.total_dirs = 0

    @staticmethod
    def trace_points():
        return [
            (versioned, "merge_upsert", "versioned.merge_upsert", "versioned"),
            (VersionedTable, "commit", "versioned.commit", "versioned"),
            (VersionedTable, "read", "versioned.read", "versioned"),
            (VersionedTable, "read_where", "versioned.read_where", "versioned"),
            (VersionedTable, "read_at_keys", "versioned.read_at_keys", "versioned"),
        ]

    # -- model ------------------------------------------------------------
    def _apply(self, tbl: pa.Table) -> dict:
        cols = [tbl.column(c).to_pylist() for c in COLS]
        cols[1] = tbl.column("ts").cast(pa.int64()).to_pylist()
        ch = {row[0]: row for row in zip(*cols)}
        self.cur.update(ch)
        return ch

    def _model_at(self, version: int, lo: int, hi: int) -> set:
        state = {k: v for k, v in self.base.items() if lo <= k < hi}
        for ver, ch in self.changes:
            if ver > version:
                break
            state.update((k, v) for k, v in ch.items() if lo <= k < hi)
        return set(state.values())

    def _expect(self, keys) -> set:
        return {self.cur[k] for k in keys if k in self.cur}

    # -- workload ---------------------------------------------------------
    def setup(self, rec) -> None:
        events = pq.read_table(f"{self.data}/events.parquet").select(COLS)
        self.n_events = events.num_rows
        self.n_users = pc.max(events.column("user_id")).as_py() + 1
        self.table = VersionedTable(self.spark, self.dir)
        self.table.set_layout(["event_id"], 8)
        self.table.set_stats_columns(["event_id", "ts"])
        self.table.commit(load_table(self.spark, self.data, "events"))
        self.cur: dict = {}
        self.base = dict(self._apply(events))
        self.changes: list[tuple[int, dict]] = []
        self.versions = [self.table.latest_version()]
        self.max_id = pc.max(events.column("event_id")).as_py()
        self.last_keys = np.arange(WRITE_ROWS)
        if not self.probe:
            for _ in range(self.warmup_rounds):
                self.round(rec, warmup=True)

    def _write(self, rec, r, kind: str) -> None:
        if kind == "merge":
            k0 = int(r.integers(0, self.max_id - WRITE_ROWS + 1))
            ids = np.arange(k0, k0 + WRITE_ROWS)
        else:
            ids = np.arange(self.max_id + 1, self.max_id + 1 + WRITE_ROWS)
        batch = event_rows(r, ids, self.n_users)
        size_before = dir_bytes(self.dir) if rec.tracer else 0
        with rec.op(kind) as op:
            src = self.spark.createDataFrame(batch)
            if kind == "merge":
                versioned.merge_upsert(self.table, src, ["event_id"])
            else:
                self.table.commit(src)
            op.stop()
        v = self.table.latest_version()
        if v != self.versions[-1]:
            self.changes.append((v, self._apply(batch)))
            self.versions.append(v)
            self.last_keys = ids
            self.max_id = max(self.max_id, int(ids[-1]))
        if rec.tracer:
            self.write_amp[0] += dir_bytes(self.dir) - size_before
            self.write_amp[1] += json_bytes(batch)

    def _lookup(self, rec, r, kind: str) -> None:
        pool = self.last_keys if self.step_no % 2 else np.arange(self.max_id + 1)
        keys = [int(k) for k in r.choice(pool, LOOKUP_KEYS, replace=False)]
        with rec.op(kind) as op:
            kdf = self.spark.createDataFrame([(k,) for k in keys], "event_id long")
            rows = self.table.read_at_keys(kdf, ["event_id"]).collect()
            op.stop()
            if {_row_key(x) for x in rows} != self._expect(keys) or len(rows) != len(keys):
                raise CheckError(f"lookup of {keys} differs from the model")

    def _scan(self, rec, r, kind: str) -> None:
        lo = int(r.integers(0, self.max_id - SCAN_IDS + 1))
        with rec.op(kind) as op:
            df, report = self.table.read_where(
                [("event_id", ">=", lo), ("event_id", "<", lo + SCAN_IDS)]
            )
            rows = df.collect()
            op.stop()
            if {_row_key(x) for x in rows} != self._expect(range(lo, lo + SCAN_IDS)) or len(rows) != SCAN_IDS:
                raise CheckError(f"range scan [{lo}, {lo + SCAN_IDS}) differs from the model")
            if kind != "warmup":
                self.scan_ratio.append(report.scanned_dirs / report.total_dirs)
            self.total_dirs = report.total_dirs

    def _snapshot(self, rec, r, kind: str) -> None:
        v = int(r.choice(self.versions[:-1]))
        lo = int(r.integers(0, self.n_events - SNAPSHOT_IDS + 1))
        with rec.op(kind) as op:
            df = self.table.read(version=v)
            rows = df.filter((F.col("event_id") >= lo) & (F.col("event_id") < lo + SNAPSHOT_IDS)).collect()
            op.stop()
            if {_row_key(x) for x in rows} != self._model_at(v, lo, lo + SNAPSHOT_IDS) or len(rows) != SNAPSHOT_IDS:
                raise CheckError(f"version {v} of [{lo}, {lo + SNAPSHOT_IDS}) differs from the model")

    def _step(self, rec, writes, snapshot: bool, warmup: bool = False) -> None:
        r = rng(self.seed, f"step{self.step_no}")
        for w in writes:
            self._write(rec, r, "warmup" if warmup else w)
        self._lookup(rec, r, "warmup" if warmup else "lookup")
        self._scan(rec, r, "warmup" if warmup else "scan")
        if snapshot:
            self._snapshot(rec, r, "warmup" if warmup else "snapshot")
        self.step_no += 1

    def round(self, rec, warmup: bool = False) -> None:
        """One block of two steps (a merge, then an append), each followed
        by a lookup and a scan; a time-travel read closes the block. Every
        round has the same mix of operations."""
        for i in range(BLOCK_STEPS):
            self._step(rec, WRITES[i % 2 : i % 2 + 1], snapshot=i == BLOCK_STEPS - 1, warmup=warmup)

    def summary(self, rec) -> dict:
        w, rd = rec.kinds(*WRITES), rec.kinds(*READS)
        return {
            "write_p50_ms": (quantile(w, 0.5) * 1e3, "ms"),
            "write_p90_ms": (quantile(w, 0.9) * 1e3, "ms"),
            "read_p50_ms": (quantile(rd, 0.5) * 1e3, "ms"),
            "read_p90_ms": (quantile(rd, 0.9) * 1e3, "ms"),
        }

    def storage_amp(self) -> float:
        ids = sorted(self.cur)
        live = pa.table({c: [self.cur[k][i] for k in ids] for i, c in enumerate(COLS)})
        live = live.set_column(1, "ts", live.column("ts").cast(pa.timestamp("us")))
        return dir_bytes(self.dir) / json_bytes(live)

    def finish(self) -> list[str]:
        problems = []
        got = self.table.read().select(*COLS).toArrow()
        cols = [got.column(c).to_pylist() for c in COLS]
        cols[1] = got.column("ts").cast(pa.int64()).to_pylist()
        rows = set(zip(*cols))
        if rows != set(self.cur.values()) or got.num_rows != len(self.cur):
            problems.append(
                f"final snapshot holds {got.num_rows} rows, {len(rows ^ set(self.cur.values()))} differ from the model"
            )
        return problems

    def layer_metrics(self, tracer) -> dict:
        def ops(*kinds):
            return [sp for k in kinds for sp in tracer.by_name(f"op.{k}")]

        def per_op(spans, field):
            vals = [tracer.op_spark(sp)[field] for sp in spans]
            return float(np.mean(vals)) if vals else 0.0

        return {
            "versioned.merge_ms": (median_ms(ops("merge")), "ms"),
            "versioned.append_ms": (median_ms(ops("append")), "ms"),
            "versioned.lookup_ms": (median_ms(ops("lookup")), "ms"),
            "versioned.scan_ms": (median_ms(ops("scan")), "ms"),
            "versioned.snapshot_ms": (median_ms(ops("snapshot")), "ms"),
            "versioned.jobs_per_write": (per_op(ops(*WRITES), "jobs"), "count"),
            "versioned.jobs_per_read": (per_op(ops(*READS), "jobs"), "count"),
            "versioned.read_input_bytes": (per_op(ops(*READS), "input_bytes"), "B"),
            "versioned.write_amp": (self.write_amp[0] / self.write_amp[1] if self.write_amp[1] else 0.0, "ratio"),
            "versioned.dirs_scanned_ratio": (float(np.mean(self.scan_ratio)) if self.scan_ratio else 0.0, "ratio"),
            "versioned.manifest_dirs": (self.total_dirs, "count"),
        }

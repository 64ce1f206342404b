"""``analytics_batch``: read-only rounds over two fixed query lists from
the engine's registry, one SQL-shaped pass and one LLM-pipeline pass per
round, on the shipped sf0.01 test tables (``perfbench/data/sf0.01``). The
seed sets only the query order within each pass.

Every result is collected (an action that materialises every output
column; ``count()`` would let Catalyst prune unused aggregates) and its
order-insensitive hash is compared with DuckDB running the registry's
oracle SQL over the same files, computed once during set-up.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import statistics

import duckdb
import pyarrow.parquet as pq

from weather_etl_docker_airflow_project_spark.plans import catalog

import gen
from harness import CheckError, dir_bytes, json_bytes

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# On 4 vCPUs a warm pass over all 21 registry queries the issue lists
# takes about 15 s at sf0.01 and the first pass 38 s; set-up, a warm-up
# past the JIT's steepest phase and five measured rounds must fit a run of
# under a minute. l2_minhash_lsh_pairs (1.2-2.1 s warm, the slowest and
# most variable of the candidates) is left out for that budget.
SQL = [
    "q1_pricing_summary",
    "tpch_q21_waiting_suppliers",
]
LLM = [
    "l3_knn_multiquery",
]
GROUPS = (("sql", SQL), ("llm", LLM))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(rows) -> tuple[str, int]:
    """Order-insensitive digest over every column of every row."""
    keys = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest(), len(keys)


class AnalyticsBatch:
    name = "analytics_batch"
    round_s = 2.0  # one pass over each list
    # the first pass generates and compiles every plan; the JIT keeps
    # compiling about a core's worth through the next two
    warmup_rounds = 3
    storage_rounds = 1  # read-only: the inputs never change

    def __init__(self, spark, tmp: str, seed: int, probe: bool = False):
        self.spark = spark
        self.seed = seed
        self.data = DATA
        self.probe = probe
        self.groups = tuple((g, q[:1]) for g, q in GROUPS) if probe else GROUPS
        self.round_no = 0
        self.passes: dict[str, list[float]] = {"sql": [], "llm": []}

    @staticmethod
    def trace_points():
        return []  # the registry call and the action are spanned in _query

    def setup(self, rec) -> None:
        files = sorted(glob.glob(f"{self.data}/*.parquet"))
        self.json_bytes = sum(json_bytes(pq.read_table(f)) for f in files)
        oracles = catalog.all_oracles()
        self.expected: dict[str, tuple[str, int]] = {}
        self.row_counts: dict[str, int] = {}  # queries without an oracle
        con = duckdb.connect()
        try:
            for f in files:
                t = os.path.basename(f).removesuffix(".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
            for _g, names in self.groups:
                for q in names:
                    if q in oracles:
                        self.expected[q] = result_hash(con.execute(oracles[q]).fetchall())
        finally:
            con.close()
        if not self.probe:
            for _ in range(self.warmup_rounds):
                self.round(rec, warmup=True)

    def _query(self, rec, group: str, q: str, warmup: bool = False) -> float:
        tr = rec.tracer
        with rec.op("warmup" if warmup else q) as op:
            sp = tr.begin(f"plans.{group}.call", "plans") if tr else None
            try:
                df = catalog.REGISTRY[q].fn(self.spark, self.data)
            finally:
                if sp:
                    tr.end(sp)
            sp = tr.begin(f"plans.{group}.action", "plans") if tr else None
            try:
                rows = df.collect()
            finally:
                if sp:
                    tr.end(sp)
            op.stop()
            got = result_hash(rows)
            if q in self.expected:
                if got != self.expected[q]:
                    raise CheckError(
                        f"{q}: {got[1]} rows, result differs from the DuckDB oracle "
                        f"({self.expected[q][1]} rows)"
                    )
            elif got[1] == 0 or got[1] != self.row_counts.setdefault(q, got[1]):
                raise CheckError(f"{q} returned {got[1]} rows, expected {self.row_counts[q]} > 0")
        return op.latency

    def round(self, rec, warmup: bool = False) -> None:
        """One pass over each list, in a seeded order."""
        for group, names in self.groups:
            order = gen.rng(self.seed, f"{group}{self.round_no}").permutation(len(names))
            secs = sum(self._query(rec, group, names[i], warmup) for i in order)
            if not warmup:
                self.passes[group].append(secs)
        self.round_no += 1

    def summary(self, rec) -> dict:
        out = {f"{q}_s": (statistics.median(rec.lat[q]), "s") for _g, qs in self.groups for q in qs if q in rec.lat}
        for g, _ in self.groups:
            out[f"{g}_pass_s"] = (statistics.median(self.passes[g]) if self.passes[g] else 0.0, "s")
        return out

    def storage_amp(self) -> float:
        return dir_bytes(self.data) / self.json_bytes

    def finish(self) -> list[str]:
        return []

    def layer_metrics(self, tracer) -> dict:
        """Per pass of each group: time building the lazy plans (including
        any eager checkpoints) and time executing them."""
        out = {}
        for g, names in self.groups:
            for part in ("call", "action"):
                spans = tracer.by_name(f"plans.{g}.{part}")
                per_pass = sum(sp.dur for sp in spans) * len(names) / len(spans) if spans else 0.0
                out[f"plans.{g}.{part}_s"] = (per_pass, "s")
        return out

"""``etl_microbatch``: the reference job itself. ``run_cycle`` runs back to
back on seeded OpenWeatherMap-shaped batches against a parquet sink that
is pre-loaded with history.

Each batch offers about 2,000 observations from 500 cities: 80% are
observations never delivered before, 20% re-deliver earlier ones, and 2%
repeat a row of the same batch. The generator knows exactly how many
distinct new keys it offered, which is what ``run_cycle`` must append.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from weather_etl_docker_airflow_project_spark.operators.upsert import upsert_parquet
from weather_etl_docker_airflow_project_spark.streaming import pipeline

import reference
from gen import WeatherSource, rng
from harness import CheckError, dir_bytes, dir_files, json_bytes, quantile
from tracing import median_ms

SLOTS_PER_CYCLE = 4


class EtlMicrobatch:
    name = "etl_microbatch"
    round_s = 1.8  # one cycle
    warmup_rounds = 2  # the first cycles plan and compile cold
    storage_rounds = 4  # history plus four cycles' appended files

    def __init__(self, spark, tmp: str, seed: int, probe: bool = False):
        self.spark = spark
        self.seed = seed
        self.sink = f"{tmp}/etl-sink"
        self.staging = f"{tmp}/etl-history"
        self.probe = probe
        self.n_cities = 50 if probe else 500
        self.history_slots = 20 if probe else 200
        self.n_new = int(0.8 * SLOTS_PER_CYCLE * self.n_cities // 1)
        self.n_redeliver = self.n_new // 4
        self.n_dups = self.n_new // 40
        self.cycle_no = 0
        self.offered = 0
        self.appended = 0
        self.files_written: list[int] = []

    @staticmethod
    def trace_points():
        return [
            (pipeline, "extract", "sources.extract", "sources"),
            (pipeline, "transform_weather", "functions.transform_weather", "functions"),
            (pipeline, "upsert_parquet", "upsert.upsert_parquet", "upsert"),
        ]

    def setup(self, rec) -> None:
        self.src = WeatherSource(self.seed, self.n_cities)
        city = np.repeat(np.arange(self.n_cities), self.history_slots)
        slot = np.tile(np.arange(self.history_slots), self.n_cities)
        hist = self.src.flat_table(city, slot)
        os.makedirs(self.staging)
        pq.write_table(hist, f"{self.staging}/history.parquet")
        upsert_parquet(self.spark, self.spark.read.parquet(self.staging), self.sink, pipeline.DEDUP_KEYS)
        self.delivered = [(city, slot)]
        self.live = [hist]
        if not self.probe:
            for _ in range(self.warmup_rounds):
                self.round(rec, warmup=True)

    def _next_batch(self):
        c = self.cycle_no
        self.cycle_no += 1
        r = rng(self.seed, f"cycle{c}")
        cand = r.choice(self.n_cities * SLOTS_PER_CYCLE, self.n_new, replace=False)
        new_city = cand // SLOTS_PER_CYCLE
        new_slot = self.history_slots + c * SLOTS_PER_CYCLE + cand % SLOTS_PER_CYCLE
        old_city = np.concatenate([d[0] for d in self.delivered])
        old_slot = np.concatenate([d[1] for d in self.delivered])
        pick = r.choice(len(old_city), self.n_redeliver, replace=False)
        city = np.concatenate([new_city, old_city[pick]])
        slot = np.concatenate([new_slot, old_slot[pick]])
        dup = r.choice(len(city), self.n_dups, replace=False)
        order = r.permutation(len(city) + self.n_dups)
        city = np.concatenate([city, city[dup]])[order]
        slot = np.concatenate([slot, slot[dup]])[order]
        return self.src.records(city, slot), (new_city, new_slot)

    def round(self, rec, warmup: bool = False) -> None:
        kind = "warmup" if warmup else "cycle"
        batch, new = self._next_batch()
        files_before = dir_files(self.sink) if rec.tracer else 0
        n = 0
        with rec.op(kind) as op:
            n = pipeline.run_cycle(self.spark, lambda: batch, self.sink)
            op.stop()
            if n != len(new[0]):
                raise CheckError(f"cycle appended {n} rows, expected {len(new[0])}")
        # the cycle's keys count as delivered even if it failed: a failure
        # is reported, and later re-deliveries of them stay idempotent
        self.delivered.append(new)
        self.live.append(self.src.flat_table(*new))
        if not warmup:
            self.offered += len(batch)
            self.appended += n
        if rec.tracer:
            self.files_written.append(dir_files(self.sink) - files_before)

    def summary(self, rec) -> dict:
        lat = rec.lat.get("cycle", [])
        return {
            "cycle_p50_ms": (quantile(lat, 0.5) * 1e3, "ms"),
            "cycle_p90_ms": (quantile(lat, 0.9) * 1e3, "ms"),
            "ingest_rows_per_s": (self.offered / sum(lat) if lat else 0.0, "rows/s"),
        }

    def storage_amp(self) -> float:
        return dir_bytes(self.sink) / json_bytes(pa.concat_tables(self.live))

    def finish(self) -> list[str]:
        """Sink-wide checks; returns the problems found."""
        problems = []
        live = pa.concat_tables(self.live)
        con = duckdb.connect()
        try:
            src = f"read_parquet('{self.sink}/*.parquet')"
            n, nd = con.execute(
                f"SELECT count(*), count(DISTINCT (city, utc)) FROM {src}"
            ).fetchone()
            if n != nd:
                problems.append(f"sink holds {n - nd} duplicate (city, utc) rows")
            if n != live.num_rows:
                problems.append(f"sink holds {n} rows, expected {live.num_rows}")
            # only keys the cycles delivered: the history went in through
            # the benchmark's own column-wise generator, not the transform
            city = np.concatenate([d[0] for d in self.delivered[1:]])
            slot = np.concatenate([d[1] for d in self.delivered[1:]])
            pick = rng(self.seed, "sample").choice(len(city), min(200, len(city)), replace=False)
            expect = {}
            for rec in self.src.records(city[pick], slot[pick]):
                row = reference.transform(rec)
                expect[(row[0], row[7])] = row
            con.register("keys", pa.table({"c": [k[0] for k in expect], "u": [k[1] for k in expect]}))
            got = con.execute(
                "SELECT city, temperature, weather, humidity, pressure, wind_speed, lt, utc "
                f"FROM {src} s JOIN keys ON s.city = keys.c AND s.utc = keys.u"
            ).fetchall()
            got_map = {(g[0], g[7]): tuple(g) for g in got}
            bad = [k for k, row in expect.items() if got_map.get(k) != row]
            if bad or len(got) != len(expect):
                problems.append(f"{len(bad)} sampled sink rows differ from the reference transform")
        finally:
            con.close()
        return problems

    def layer_metrics(self, tracer) -> dict:
        ups = tracer.by_name("upsert.upsert_parquet")

        def mean(field):
            return float(np.mean([sp.spark[field] for sp in ups])) if ups else 0.0

        return {
            "sources.extract_ms": (median_ms(tracer.by_name("sources.extract")), "ms"),
            "functions.transform_ms": (median_ms(tracer.by_name("functions.transform_weather")), "ms"),
            "upsert.wall_ms": (median_ms(ups), "ms"),
            "upsert.spark_jobs": (mean("jobs"), "count"),
            "upsert.input_bytes": (mean("input_bytes"), "B"),
            "upsert.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
            "upsert.sink_files": (dir_files(self.sink), "count"),
            "upsert.files_written": (float(np.mean(self.files_written)) if self.files_written else 0.0, "count"),
            "upsert.rows_offered": (self.offered, "count"),
            "upsert.rows_appended": (self.appended, "count"),
            "upsert.useful_ratio": (self.appended / self.offered if self.offered else 0.0, "ratio"),
        }

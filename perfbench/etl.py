"""ETL catch-up workload: wave-by-wave landing, bronze and rollup.

A closed loop with one wave in flight: the next wave lands only after
the previous one is readable in the rollup store, as a scheduled
catch-up job runs. One round is ``WAVES_PER_ROUND`` waves followed by
one ``compact_rollup``, so every round starts from a compacted store
and read cost stays stationary. Per wave:

1. land the wave's events as JSON lines (``ingest.writers.write_entity``);
2. ``incremental_to_bronze`` with ``availableNow``;
3. ``streaming_rollup_maintain`` with ``availableNow``;
4. read the store back with ``rollup_view`` and check it.

A wave's latency runs from the start of landing to the collected view.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import defaultdict

import numpy as np

import gen

# Sized from traced runs at 5k, 20k and 80k events per wave
# (README.md): at 80k the row-proportional work (landing, bronze
# addBatch) is about a quarter of a wave and the per-trigger commit and
# offset protocol about a tenth; at 20k the rows were under a tenth.
WAVE_EVENTS = 80_000
WAVES_PER_ROUND = 4
# user_id range only; the rollup groups by (day, event_type)
N_USERS = 1_500
TINY_WAVE_EVENTS = 500
TINY_WAVES_PER_ROUND = 2
STREAM_TIMEOUT_S = 120
JOB_DATE = "20240201"


def _progress_ms(query, keys: tuple[str, ...]) -> float:
    return float(sum(sum(p["durationMs"].get(k, 0) for k in keys) for p in query.recentProgress))


class EtlCatchup:
    # The cold round and one more round are eight waves; wave latency
    # levels off after about that many.
    WARMUP_ROUNDS = 1

    def __init__(self, run):
        self.run = run
        self.wave_events = TINY_WAVE_EVENTS if run.tiny else WAVE_EVENTS
        self.waves_per_round = TINY_WAVES_PER_ROUND if run.tiny else WAVES_PER_ROUND
        self.lake = run.path("lake")
        self.bronze = run.path("lake", "bronze", "events")
        self.store = run.path("rollup")
        self.wave = 0
        # expected rollup of everything landed: (day, event_type) -> [n, sum]
        self.expected: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
        self.landed = {"n": 0, "id_sum": 0, "user_sum": 0, "ts_sum": 0, "value_sum": 0.0}
        self.setup_layers = {"stores.ensure_s": 0.0, "stores.built": 0}

    def setup(self) -> None:
        from etl_jlp_spark.ingest import writers
        from etl_jlp_spark.streaming import pipeline, rollup_sink

        self.writers, self.pipeline, self.sink = writers, pipeline, rollup_sink
        self.run.tracer.wrap("etl_jlp_spark.catalog.load_table", "catalog.load_table")

    def _next_wave(self):
        """The next wave's events as a Spark DataFrame, and their
        expected contribution to the rollup (not timed)."""
        rng = np.random.default_rng([self.run.seed, self.wave])
        table = gen.events_table(rng, self.wave_events, N_USERS, first_id=self.wave * self.wave_events)
        pdf = table.to_pandas()
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        day = pdf["ts"].dt.date
        agg = pdf.assign(day=day).groupby(["day", "event_type"])["value"].agg(["count", "sum"])
        landed = {
            "n": len(pdf),
            "id_sum": int(pdf["event_id"].sum()),
            "user_sum": int(pdf["user_id"].sum()),
            "ts_sum": int((ts_us - gen.EVENTS_T0_US).sum()) + len(pdf) * gen.EVENTS_T0_US,
            "value_sum": float(pdf["value"].sum()),
        }
        df = self.run.spark.createDataFrame(pdf, schema=self.pipeline.EVENTS_SCHEMA)
        self.wave += 1
        return self.wave - 1, df, agg, landed

    def _await(self, query, what: str) -> bool:
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            query.stop()
            self.run.fail(f"{what}: no termination within {STREAM_TIMEOUT_S}s")
            return False
        if query.exception() is not None:
            self.run.fail(f"{what}: {query.exception()}")
            return False
        return True

    def _stream_metrics(self, query, prefix: str) -> None:
        tracer = self.run.tracer
        if not (tracer.enabled and tracer.recording):
            return
        tracer.count(f"{prefix}.trigger_ms", _progress_ms(query, ("triggerExecution",)))
        tracer.count(f"{prefix}.add_batch_ms", _progress_ms(query, ("addBatch",)))
        tracer.count(f"{prefix}.commit_ms", _progress_ms(query, ("walCommit", "commitOffsets")))
        tracer.count(f"{prefix}.latest_offset_ms", _progress_ms(query, ("latestOffset",)))

    def _one_wave(self, wave: int, df) -> list | None:
        """Run one wave; the rollup rows, or None if a step failed."""
        run, tracer, spark = self.run, self.run.tracer, self.run.spark
        src = self.writers.medallion_path(self.lake, "landzone", "events", "jsonline", JOB_DATE)
        before = len(os.listdir(src)) if tracer.recording and os.path.isdir(src) else 0
        with tracer.span("ingest.write_s"):
            self.writers.write_entity(
                df, self.lake, "landzone", "events", "jsonline", JOB_DATE, mode="append"
            )
        if tracer.recording:
            tracer.count("ingest.files_out", len(os.listdir(src)) - before)
        with tracer.span("streaming.pipeline.run_s"):
            q = self.pipeline.incremental_to_bronze(
                spark, src, self.bronze, run.path("ckpt", "bronze"), fmt="json"
            )
            ok = self._await(q, f"wave {wave} bronze")
        self._stream_metrics(q, "streaming.pipeline")
        if not ok:
            return None
        with tracer.span("streaming.rollup_sink.run_s"):
            q = self.sink.streaming_rollup_maintain(
                spark, self.bronze, self.store, run.path("ckpt", "rollup")
            )
            ok = self._await(q, f"wave {wave} rollup")
        self._stream_metrics(q, "streaming.rollup_sink")
        if not ok:
            return None
        with tracer.span("streaming.rollup_sink.view_s"):
            return self.sink.rollup_view(spark, self.store).collect()

    def round(self, i: int) -> tuple[float, list[float], int]:
        t0 = time.perf_counter()
        waves = [self._next_wave() for _ in range(self.waves_per_round)]
        t_gen = time.perf_counter() - t0
        lat, wall = [], 0.0
        for wave, df, agg, landed in waves:
            t0 = time.perf_counter()
            try:
                rows = self._one_wave(wave, df)
            except Exception as exc:  # a broken wave is counted, the loop goes on
                rows = None
                self.run.fail(f"wave {wave}: {type(exc).__name__}: {str(exc)[:300]}")
            dt = time.perf_counter() - t0
            wall += dt
            lat.append(dt)
            for (day, etype), (n, s) in agg.iterrows():
                e = self.expected[(day, etype)]
                e[0] += int(n)
                e[1] += float(s)
            for k, v in landed.items():
                self.landed[k] += v
            if rows is not None:
                self._check_view(wave, rows)
        t0 = time.perf_counter()
        with self.run.tracer.span("streaming.rollup_sink.compact_s"):
            try:
                self.sink.compact_rollup(self.run.spark, self.store)
            except Exception as exc:
                self.run.fail(f"compact after wave {self.wave - 1}: {type(exc).__name__}: {exc}")
        wall += time.perf_counter() - t0
        waves_s = " ".join(f"{x:.2f}" for x in lat)
        print(f"perfbench: round {i} waves {waves_s}s, generated in {t_gen:.2f}s", file=sys.stderr)
        return wall, lat, len(waves)

    def _check_view(self, wave: int, rows) -> None:
        got = {(r["day"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows}
        want = {k: v for k, v in self.expected.items() if v[0]}
        bad = set(got) ^ set(want) or [
            k
            for k, (n, s) in got.items()
            if n != want[k][0] or not math.isclose(s, want[k][1], rel_tol=1e-9, abs_tol=1e-6)
        ]
        if bad:
            self.run.fail(f"wave {wave}: rollup_view differs from the landed events at {sorted(bad)[:3]}")

    def verify(self) -> None:
        """Bronze holds exactly the landed events (not timed)."""
        from pyspark.sql import functions as F

        got = (
            self.run.spark.read.parquet(self.bronze)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("event_id").alias("distinct"),
                F.sum("event_id").alias("id_sum"),
                F.sum("user_id").alias("user_sum"),
                F.sum(F.unix_micros("ts").cast("decimal(38,0)")).alias("ts_sum"),
                F.sum("value").alias("value_sum"),
            )
            .first()
            .asDict()
        )
        want = dict(self.landed, distinct=self.landed["n"])
        for k, v in want.items():
            ok = math.isclose(got[k], v, rel_tol=1e-9) if k == "value_sum" else got[k] == v
            if not ok:
                self.run.fail(f"bronze {k}: {got[k]} != landed {v}")

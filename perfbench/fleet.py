"""Query-fleet workloads: registered ``queries()`` run to the noop sink.

One round is one sweep over the run's query list. Each query is built
by its registered function (the builder, which may run eager jobs of
its own) and then written to the ``noop`` sink, so the whole plan runs
and nothing is collected. Outputs are checked once per run, in the
cold sweep, against the query's DuckDB oracle; the check is not timed.
"""

from __future__ import annotations

import os
import random
import sys
import time

import check
import gen
from tracing import module_group

# Light queries, one or two from each engine module group, plus one
# served from a persisted store. Every seed runs the same list, in its
# own order on its own inputs: a seed-drawn sample spread far wider than
# any useful bound (README.md).
OVERHEAD = (
    "cdc_merge",
    "weekday_seasonality_index",
    "token_count",
    "benford_digit_report",
    "ingest_full_load_csv",
    "media_metadata_report",
    "mann_whitney_ab",
    "revenue_gini_by_nation",
    "rollup_incremental",
)
OVERHEAD_SF = 0.1
# Persisted stores the list builds on first use; set-up builds them, so
# no timed round pays for it.
OVERHEAD_STORES = ("etl_jlp_spark.operators.rollup.ensure_rollup_store",)

# Compute-bound queries from the perf queue. Run by hand only: not in
# BENCHMARK.json, whose time budget does not fit a third workload
# (README.md).
HEAVY = (
    "ann_pq_topk",
    "spearman_corr_matrix",
    "fuzzy_join_editdist",
)
HEAVY_SF = 0.01
HEAVY_STORES = ("etl_jlp_spark.operators.linkage.ensure_fuzzy_store",)

TINY_SF = 0.001
TINY_QUERIES = 3


class Fleet:
    # Warm sweeps kept getting faster for three sweeps after the cold one
    # (for example 7.1, 6.4, 5.5, 5.3 s) before they levelled off.
    WARMUP_ROUNDS = 3

    def __init__(self, run):
        self.run = run
        heavy = run.workload == "fleet_heavy"
        names = list(HEAVY if heavy else OVERHEAD)
        random.Random(run.seed).shuffle(names)
        if run.tiny:
            names = names[:TINY_QUERIES]
        self.names = names
        self.stores = HEAVY_STORES if heavy else OVERHEAD_STORES
        self.sf = TINY_SF if run.tiny else (HEAVY_SF if heavy else OVERHEAD_SF)
        self.sf_dir = run.path("sf")
        self.setup_layers: dict[str, float] = {}
        self.oracle = None

    def setup(self) -> None:
        import importlib

        import __spark_entry__ as ent

        run, tracer = self.run, self.run.tracer
        warehouse = os.path.join(run.root, "spark-warehouse")
        t0 = time.perf_counter()
        gen.write_tables(run.seed, self.sf, self.sf_dir)
        run.untimed_setup_s += time.perf_counter() - t0
        self.fns, self.oracles = ent.queries(), ent.oracle_sql()
        tracer.wrap("etl_jlp_spark.catalog.load_table", "catalog.load_table")
        t0, built = time.perf_counter(), 0
        for qualname in self.stores:
            mod, attr = qualname.rsplit(".", 1)
            before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()
            getattr(importlib.import_module(mod), attr)(run.spark, self.sf_dir)
            new = set(os.listdir(warehouse)) - before
            run.stores.extend(os.path.join(warehouse, name) for name in new)
            built += bool(new)
        self.setup_layers = {"stores.ensure_s": time.perf_counter() - t0, "stores.built": built}

    def round(self, i: int) -> tuple[float, list[float], int]:
        run, tracer, spark = self.run, self.run.tracer, self.run.spark
        lat, t_round, t_check = [], time.perf_counter(), 0.0
        for name in self.names:
            fn = self.fns[name]
            group = module_group(fn)
            t0 = time.perf_counter()
            try:
                run.job_group("build")
                with tracer.span("registry.build_s"):
                    df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                tracer.catalyst(df)
                run.job_group("exec")
                t2 = time.perf_counter()
                with tracer.span("exec.run_s"):
                    df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
            except Exception as exc:  # a broken query is counted, the sweep goes on
                run.fail(f"round {i} {name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            lat.append(t3 - t0)
            print(f"perfbench: round {i} {name} {t1 - t0:.2f}+{t3 - t1:.2f}s", file=sys.stderr)
            tracer.count(f"{group}.build_s", t1 - t0)
            tracer.count(f"{group}.exec_s", t3 - t2)
            if i == 0:
                self._check(name, df)
                t_check += time.perf_counter() - t3
        return time.perf_counter() - t_round - t_check, lat, len(self.names)

    def _check(self, name: str, df) -> None:
        try:
            if self.oracle is None:  # only the untimed checks need DuckDB
                self.oracle = check.Oracle(self.sf_dir)
            why = check.check_query(df, self.oracle, self.oracles[name])
        except Exception as exc:
            why = f"{type(exc).__name__}: {str(exc)[:300]}"
        if why:
            self.run.fail(f"check {name}: {why}")

    def verify(self) -> None:
        if self.oracle is not None:
            self.oracle.close()

"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
around the public calls the workloads make, and around
``catalog.load_table``, which the tracer wraps in place in every engine
module that imported it. Engine-side counters come from the JVM
(Catalyst phase tracker, codegen counters) and, after the session
stops, from Spark's event log (jobs, stages, task time, GC, shuffle,
spill). Spans stay in memory and are summed per traced round when the
run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict

# Module groups reported as ``<group>.build_s`` / ``<group>.exec_s``.
MODULE_GROUPS = ("operators", "plans", "quality", "ingest", "multimodal")

CATALYST_PHASES = ("analysis", "optimization", "planning")


def module_group(fn) -> str:
    """``etl_jlp_spark.plans.nonparam`` -> ``plans``."""
    parts = getattr(fn, "__module__", "").split(".")
    return parts[1] if len(parts) > 2 and parts[1] in MODULE_GROUPS else "other"


def read_steal_s() -> float:
    """Host CPU steal so far, summed over CPUs, from ``/proc/stat``."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class Tracer:
    """Span and counter store for one process. ``enabled=False`` makes
    every method a no-op, so the workloads run one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._jvm = None
        self.recording = False  # only spans inside traced rounds are summed

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.recording):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled and self.recording:
            self.counts[name] += value

    def span_totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _ in self.spans:
            out[name] += t1 - t0
        return out

    # -- wrapping engine functions ------------------------------------
    def wrap(self, qualname: str, prefix: str) -> None:
        """Wrap function ``qualname`` (``pkg.mod.fn``) in every engine
        module that imported it by name, recording ``<prefix>_s`` and
        ``<prefix>_calls``."""
        if not self.enabled:
            return
        mod_name, attr = qualname.rsplit(".", 1)
        orig = getattr(sys.modules[mod_name], attr)
        tracer = self

        def traced(*args, **kwargs):
            tracer.count(prefix + "_calls")
            with tracer.span(prefix + "_s"):
                return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith("etl_jlp_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    # -- JVM counters --------------------------------------------------
    def attach(self, spark) -> None:
        if self.enabled:
            self._jvm = spark.sparkContext._jvm

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile seconds) since JVM start."""
        if self._jvm is None:
            return 0, 0.0
        cg = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen
        compiled = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(compiled.getCount()), cg.CodeGenerator.compileTime() / 1e9

    def catalyst(self, df) -> None:
        """Plan ``df`` (analysis is already done) and add its Catalyst
        phase durations. Planning here repeats in the write that follows;
        that repeat is part of the tracing overhead."""
        if not (self.enabled and self.recording):
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in CATALYST_PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                self.counts[f"catalyst.{phase}_s"] += opt.get().durationMs() / 1000.0


def parse_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum job, stage and task metrics of the jobs submitted inside the
    traced rounds' wall-clock ``windows`` (epoch ms). Windows rather than
    job groups, because streaming jobs run on their own threads. Jobs in
    the ``build`` job group also count as build jobs."""
    out: dict[str, float] = defaultdict(float)
    traced_stages: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    if not any(a <= t <= b for a, b in windows):
                        continue
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out["exec.jobs"] += 1
                    if group == "build":
                        out["registry.build_jobs"] += 1
                    traced_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in traced_stages and "Completion Time" in ev["Stage Info"]:
                        out["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in traced_stages:
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["exec.task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["exec.shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out

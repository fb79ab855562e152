"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. One process, one ``local[nproc]``
session built by the engine's own ``get_spark``. The run generates its
inputs from ``--seed`` under a fresh temp root inside the checkout,
measures a cold round, runs untimed warm-up rounds, measures warm
rounds for ``--seconds``, checks
every output untimed, deletes what it wrote, and prints one JSON
object as the last line of stdout. See README.md for the workloads and
metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Tracer, parse_event_log, read_steal_s  # noqa: E402

WORKLOADS = ("fleet_overhead", "fleet_heavy", "etl_catchup")
MIN_WARM_ROUNDS = 2


class Run:
    """Everything one benchmark run owns: paths, session, tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tiny: bool):
        self.workload, self.seed, self.seconds, self.tiny = workload, seed, seconds, tiny
        self.root = ROOT
        self.tmp = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.windows: list[tuple[float, float]] = []  # traced rounds, epoch ms
        self.spark = None
        self.failures: list[str] = []
        # benchmark-side set-up work (input generation), left out of setup_s
        self.untimed_setup_s = 0.0
        self.stores: list[str] = []  # store dirs this run made the engine build

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    # -- session ------------------------------------------------------
    def start_session(self) -> None:
        """Environment first: the JVM and its Python workers inherit it."""
        os.environ["TZ"] = "UTC"
        time.tzset()
        tmpdir = self.path("tmp")
        os.makedirs(tmpdir)
        os.environ["TMPDIR"] = tmpdir
        tempfile.tempdir = tmpdir
        # Python workers import etl_jlp_spark (mapInPandas, UDFs)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        # every JVM (the launcher's and Spark's): temp files in the run's
        # root, no hsperfdata under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmpdir} -XX:-UsePerfData"
        confs = {
            "spark.local.dir": self.path("spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            os.makedirs(self.path("eventlog"))
            confs["spark.eventLog.enabled"] = "true"
            confs["spark.eventLog.dir"] = self.path("eventlog")
            confs["spark.eventLog.compress"] = "false"
            confs["spark.eventLog.rolling.enabled"] = "false"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
        )
        from etl_jlp_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{os.cpu_count()}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- measuring ----------------------------------------------------
    def job_group(self, name: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def measure(self, one_round, warmup_rounds: int) -> dict:
        """Cold round, ``warmup_rounds`` untimed rounds, then warm rounds
        until ``seconds`` have passed. ``one_round(i)`` returns (wall_s,
        op_latencies_s, attempted). In the traced run warm rounds
        alternate untraced and traced."""
        t_setup = time.perf_counter() - T_PROCESS - self.untimed_setup_s
        cold, _, attempted = one_round(0)
        # JIT compilation is still settling after the cold round; timing
        # rounds before it settles makes the median follow the trend.
        for i in range(1, 1 + warmup_rounds):
            attempted += one_round(i)[2]
        warm, ops, traced = [], [], []
        deadline = time.perf_counter() + self.seconds
        i = 1 + warmup_rounds
        while (
            time.perf_counter() < deadline
            or len(warm) < MIN_WARM_ROUNDS
            or (self.tracer.enabled and len(traced) < MIN_WARM_ROUNDS)
        ):
            trace_this = self.tracer.enabled and i % 2 == 0
            self.tracer.recording = trace_this
            c0 = self.tracer.codegen()
            t0 = time.time() * 1000.0
            wall, lat, n = one_round(i)
            if trace_this:
                self.windows.append((t0, time.time() * 1000.0))
                c1 = self.tracer.codegen()
                self.tracer.count("codegen.classes", c1[0] - c0[0])
                self.tracer.count("codegen.compile_s", c1[1] - c0[1])
                traced.append(wall)
            else:
                warm.append(wall)
                ops.extend(lat)
            self.tracer.recording = False
            attempted += n
            i += 1
        return {
            "setup_s": t_setup,
            "cold_s": cold,
            "wall_s": statistics.median(warm),
            "op_p50_s": statistics.median(ops),
            "attempted": attempted,
            "traced_rounds": len(traced),
            "trace_overhead_s": (statistics.median(traced) - statistics.median(warm))
            if traced
            else 0.0,
        }


def per_layer(run: Run, res: dict, setup_layers: dict, steal_s: float) -> dict[str, float]:
    """Per-layer metrics: traced-round ones per traced round, set-up
    ones per run. A layer the workload never entered reads 0."""
    n = max(1, res["traced_rounds"])
    vals: dict[str, float] = dict(run.tracer.counts)
    for name, total in run.tracer.span_totals().items():
        vals[name] = vals.get(name, 0.0) + total
    for k, v in parse_event_log(run.path("eventlog"), run.windows).items():
        vals[k] = vals.get(k, 0.0) + v
    out = {k: v / n for k, v in vals.items()}
    out.update(setup_layers)
    out["cold_s"] = res["cold_s"]
    out["host.steal_s"] = steal_s
    out["trace.overhead_s"] = res["trace_overhead_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001, few queries and waves (smoke test)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # The engine under test; missing engine files fail the run here.
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401

    import etl
    import fleet

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    steal0 = read_steal_s()
    try:
        os.makedirs(run.tmp)
        run.start_session()
        workload = etl.EtlCatchup(run) if args.workload == "etl_catchup" else fleet.Fleet(run)
        workload.setup()
        res = run.measure(workload.round, workload.WARMUP_ROUNDS)
        workload.verify()
        run.stop_session()
        steal_s = read_steal_s() - steal0
        summary = dict(
            res,
            workload=args.workload,
            seed=args.seed,
            steal_s=steal_s,
            generate_s=run.untimed_setup_s,
            **workload.setup_layers,
        )
        print("perfbench: summary " + json.dumps(summary), file=sys.stderr)
        if run.tracer.enabled:
            values = per_layer(run, res, workload.setup_layers, steal_s)
            metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: (res[m["name"]], m["unit"]) for m in spec["end_to_end"]}
        failed = len(run.failures)
        result = {
            "correct": failed == 0,
            "attempted": res["attempted"],
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        run.stop_session()
        shutil.rmtree(run.tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(run.tmp))
        # stores the engine persisted for this run's (fresh) inputs
        for store in run.stores:
            shutil.rmtree(store, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still deletes its temp root and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

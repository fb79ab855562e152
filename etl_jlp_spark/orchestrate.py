"""Minimal DAG orchestration for the medallion pipeline.

Reference: the Airflow deployment (dwh_lab/airflow.cfg, dwh_dag in
logs/scheduler/) chains ingest → preprocess → quality jobs. Spark
doesn't need an external scheduler for the intra-job graph — Catalyst
already executes the widest correct plan — so this orchestrator covers
the *inter*-job layer only: ordered steps with dependencies, per-step
timing/row-count metrics, and fail-fast with a job report (the
reference's quality-report JSON, generalized).

Steps are plain callables returning a DataFrame (materialized with a
count) or None (side-effecting writers). This is deliberately thin:
on a real deployment each `Step` maps 1:1 onto an Airflow/dbt task
invoking `spark-submit`; nothing here assumes a scheduler.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Step:
    name: str
    fn: Callable[..., DataFrame | None]
    depends_on: tuple[str, ...] = ()
    # Airflow-task retry args (reference DAG dags/dwh_dag.py:180-250
    # sets retries/retry_delay per task): a transient failure re-runs
    # the step up to ``retries`` extra times with exponential backoff
    # (retry_backoff_sec, ×2 per attempt) before the DAG fail-fasts.
    retries: int = 0
    retry_backoff_sec: float = 0.0


@dataclass
class StepResult:
    name: str
    status: str
    seconds: float
    rows: int | None = None
    error: str | None = None
    attempts: int = 1


@dataclass
class Pipeline:
    name: str
    steps: list[Step] = field(default_factory=list)

    def step(
        self,
        name: str,
        depends_on: tuple[str, ...] = (),
        retries: int = 0,
        retry_backoff_sec: float = 0.0,
    ):
        def deco(fn):
            self.steps.append(Step(name, fn, depends_on, retries, retry_backoff_sec))
            return fn

        return deco

    def _ordered(self) -> list[Step]:
        done: list[Step] = []
        names: set[str] = set()
        pending = list(self.steps)
        while pending:
            progressed = False
            for s in list(pending):
                if all(d in names for d in s.depends_on):
                    done.append(s)
                    names.add(s.name)
                    pending.remove(s)
                    progressed = True
            if not progressed:
                cycle = [s.name for s in pending]
                raise ValueError(f"dependency cycle or missing dep among {cycle}")
        return done

    def run(self, on_error: Callable[[str, str], None] | None = None, **context) -> dict:
        """Execute in dependency order; fail-fast; return a job report.

        ``on_error(step_name, message)`` is the alert channel — the
        analog of the reference's send_email (general_lib.py:187-222) +
        log_etl_errors (quality_report.py:155-157). It fires once per
        failed step; the report carries the same messages under
        ``errors`` so a scheduler can route them without re-parsing
        step results. Alert failures are swallowed (an unreachable
        mail relay must not mask the real failure)."""
        results: list[StepResult] = []
        outputs: dict[str, DataFrame | None] = {}
        errors: list[dict] = []
        ok = True
        for s in self._ordered():
            if not ok:
                results.append(StepResult(s.name, "skipped", 0.0))
                continue
            t0 = time.perf_counter()
            msg = None
            for attempt in range(1, s.retries + 2):
                try:
                    out = s.fn(**context, upstream=outputs)
                    rows = out.count() if isinstance(out, DataFrame) else None
                    outputs[s.name] = out
                    results.append(
                        StepResult(
                            s.name,
                            "success",
                            round(time.perf_counter() - t0, 3),
                            rows,
                            attempts=attempt,
                        )
                    )
                    msg = None
                    break
                except Exception as e:
                    msg = str(e)[:500]
                    if attempt <= s.retries and s.retry_backoff_sec > 0:
                        time.sleep(s.retry_backoff_sec * 2 ** (attempt - 1))
            if msg is not None:  # retries exhausted → fail-fast
                ok = False
                results.append(
                    StepResult(
                        s.name,
                        "failed",
                        round(time.perf_counter() - t0, 3),
                        None,
                        msg,
                        attempts=s.retries + 1,
                    )
                )
                errors.append({"step": s.name, "error": msg, "attempts": s.retries + 1})
                # the alert fires ONCE, after the final attempt — a step
                # that eventually succeeds never alerts
                if on_error is not None:
                    try:
                        on_error(s.name, msg)
                    except Exception:
                        pass
        return {
            "pipeline": self.name,
            "status": "success" if ok else "failed",
            "steps": [vars(r) for r in results],
            "errors": errors,
        }

    def run_and_save(self, report_path: str, **context) -> dict:
        report = self.run(**context)
        with open(report_path, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=2)
        return report


class AlertOutbox:
    """File-backed alert transport: the environment-portable analog of
    the reference's SMTP ``send_email`` (dwh_lab/dwh/general_lib.py:
    187-222, subject/body/recipients over smtplib). SMTP endpoints are
    deployment-specific, so the durable part — a structured, auditable
    record of every alert — lands in a JSONL outbox instead; a relay
    (or a swap to a webhook/SMTP callable) drains it without any change
    to pipeline code, because an outbox IS the ``on_error`` callable.

    Single-writer by construction (the orchestrator is sequential), so
    line-append is safe; ``read()`` returns the alerts for tests and
    for the relay."""

    def __init__(self, path: str, recipients: list[str] | None = None, sender: str = "etl-jlp"):
        self.path = path
        self.recipients = recipients or ["oncall@example.invalid"]
        self.sender = sender

    def __call__(self, step: str, message: str) -> None:
        record = {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "sender": self.sender,
            "recipients": self.recipients,
            "subject": f"[ETL FAILURE] step={step}",
            "body": message,
        }
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps(record) + "\n")

    def read(self) -> list[dict]:
        try:
            with open(self.path, encoding="utf-8") as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []


# ---------------------------------------------------------------------------
# Schedule / calendar semantics
# ---------------------------------------------------------------------------


class CronSchedule:
    """Five-field cron expression (minute hour day-of-month month
    day-of-week) with standard cron/Airflow calendar semantics — the
    analog of the reference DAG's ``schedule_interval`` (the Airflow
    deployment under dwh_lab/airflow.cfg runs dwh_dag on a cron
    schedule; this repo has no daemon, so the schedule is evaluated
    on demand and the poller below supplies the trigger loop).

    Field syntax: ``*``, single values, ``a-b`` ranges, ``a,b,c``
    lists, ``*/n`` and ``a-b/n`` steps. Day-of-week is 0-6 with
    0=Sunday (7 accepted as Sunday). The classic cron quirk is kept:
    when BOTH day-of-month and day-of-week are restricted, a date
    matches if EITHER matches."""

    _BOUNDS = ((0, 59), (0, 23), (1, 31), (1, 12), (0, 6))

    def __init__(self, expression: str) -> None:
        parts = expression.split()
        if len(parts) != 5:
            raise ValueError(f"cron expression needs 5 fields, got {expression!r}")
        self.expression = expression
        self.fields: list[frozenset[int]] = []
        for spec, (lo, hi) in zip(parts, self._BOUNDS):
            vals: set[int] = set()
            for piece in spec.split(","):
                body, _, step_s = piece.partition("/")
                step = int(step_s) if step_s else 1
                if step < 1:
                    raise ValueError(f"bad step in {piece!r}")
                if body == "*":
                    a, b = lo, hi
                elif "-" in body:
                    a_s, b_s = body.split("-", 1)
                    a, b = int(a_s), int(b_s)
                else:
                    a = b = int(body)
                    if step_s:  # "5/2" is not valid cron
                        raise ValueError(f"step needs a range or * in {piece!r}")
                if a == 7 and (lo, hi) == (0, 6):
                    a = 0
                if b == 7 and (lo, hi) == (0, 6):
                    b = 0
                if not (lo <= a <= hi and lo <= b <= hi and a <= b):
                    raise ValueError(f"value out of range in {piece!r} for {spec!r}")
                vals.update(range(a, b + 1, step))
            self.fields.append(frozenset(vals))
        self._dom_restricted = parts[2] != "*"
        self._dow_restricted = parts[4] != "*"

    def matches(self, dt) -> bool:
        minute, hour, dom, month, dow = self.fields
        if dt.minute not in minute or dt.hour not in hour or dt.month not in month:
            return False
        dom_ok = dt.day in dom
        dow_ok = (dt.isoweekday() % 7) in dow  # isoweekday: Mon=1..Sun=7 → Sun=0
        if self._dom_restricted and self._dow_restricted:
            return dom_ok or dow_ok  # the classic cron OR rule
        return dom_ok and dow_ok

    def next_fire(self, after):
        """First matching minute STRICTLY after ``after`` (seconds
        truncated). Linear minute scan, bounded at 4 years — every
        satisfiable 5-field expression fires within that horizon
        (Feb-29-specific schedules included)."""
        from datetime import timedelta

        dt = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
        for _ in range(4 * 366 * 24 * 60):
            if self.matches(dt):
                return dt
            dt += timedelta(minutes=1)
        raise ValueError(f"unsatisfiable cron expression {self.expression!r}")

    def due_runs(self, last_logical, now, catchup: bool = True) -> list:
        """Logical dates due at ``now`` under Airflow interval
        semantics: the run for the data interval [fire_i, fire_{i+1})
        triggers once the interval ENDS — a run's logical date is the
        interval start, and it becomes due at the next fire time.
        ``last_logical`` is the newest already-run logical date (None
        → nothing ran yet; only intervals ending after ``now`` minus
        one full cycle are considered, i.e. no unbounded backfill).
        ``catchup=False`` collapses the backlog to the newest due
        interval, exactly like Airflow's catchup flag."""
        if last_logical is None:
            # first-ever evaluation (no start_date): the newest fire
            # ≤ now opens the current, still-incomplete interval; the
            # fire before it is the newest COMPLETE interval — run
            # exactly that one (no unbounded backfill). The scan is
            # bounded to a 62-day lookback window.
            from datetime import timedelta

            fires = []
            t = now - timedelta(days=62)
            while True:
                t = self.next_fire(t)
                if t > now:
                    break
                fires.append(t)
            return [fires[-2]] if len(fires) >= 2 else []
        due = []
        cursor = last_logical
        while True:
            nxt = self.next_fire(cursor)  # logical date of the next interval
            end = self.next_fire(nxt)  # that interval ends at the fire after
            if end > now:
                break
            due.append(nxt)
            cursor = nxt
        if not catchup and len(due) > 1:
            due = due[-1:]
        return due


def run_on_schedule(
    pipeline: Pipeline,
    schedule: CronSchedule,
    state_path: str,
    now,
    catchup: bool = True,
    **context,
) -> list[dict]:
    """One poll of the trigger loop: compute the schedule's due logical
    dates from the persisted DAG-run state, execute the pipeline once
    per due interval (oldest first, ``logical_date`` and
    ``data_interval_end`` injected into the step context like
    Airflow's template variables), and advance the state AFTER each
    run so a crash mid-backlog resumes where it stopped. Re-polling
    with an unchanged clock is a no-op — the state file makes the
    poller idempotent, the way the streaming checkpoints make the
    ingest twins idempotent."""
    from datetime import datetime

    from etl_jlp_spark.stores import read_pointer, write_pointer

    last = read_pointer(state_path, {}).get("last_logical_date")
    last = datetime.fromisoformat(last) if last else None
    reports = []
    for logical in schedule.due_runs(last, now, catchup=catchup):
        report = pipeline.run(
            logical_date=logical,
            data_interval_end=schedule.next_fire(logical),
            **context,
        )
        report["logical_date"] = logical.isoformat()
        reports.append(report)
        write_pointer(state_path, {"last_logical_date": logical.isoformat()})
    return reports

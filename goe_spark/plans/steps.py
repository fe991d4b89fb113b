"""The one step tracker (O1 — command_steps.py:29-67 and
OffloadMessages.offload_step in the reference).

``StepRunner`` is the only code that times a step, tags its Spark jobs
and writes the execution record; the offload and curation pipelines
both run through it:

- ``command`` wraps a whole command in one persisted execution
  (plans/history.py): begin, then end SUCCESS, or end ERROR on any
  BaseException — so an interrupted run is recorded, and resumable,
  like a failed one;
- ``step`` times one named step, records ok or error as it happens,
  and re-raises the step's own exception. While the step runs its
  Spark jobs carry the job tag ``step_tag(name)`` — a tag, not a job
  group: tags are additive, so a group or tag the caller set still
  sees every job (the Spark-native replacement for the reference's
  step-name log lines and Redis progress publishing);
- ``run`` adds the resume, skip and error-injection checks on top of
  ``step`` and wraps a failure in ``StepError``.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from goe_spark.plans.history import (
    COMMAND_ERROR,
    COMMAND_SUCCESS,
    STEP_ERROR,
    STEP_OK,
    STEP_SKIPPED,
)


class StepError(RuntimeError):
    def __init__(self, step: str, cause: Exception):
        super().__init__(f"step {step!r} failed: {cause}")
        self.step = step
        self.cause = cause


def step_tag(name: str) -> str:
    """The Spark job tag every job of step ``name`` carries."""
    return f"goe_spark.step.{name}"


@dataclass
class StepResult:
    name: str
    status: str  # "ok" | "skipped" | "error"
    seconds: float = 0.0
    detail: object = None


@dataclass
class StepRunner:
    """Run named steps in order, recording timing and status.

    ``skip`` names steps to bypass (reference: --skip); ``error_at``
    injects a failure before the named step runs (reference:
    error_before_step), which is how chunk-restart semantics get
    tested without a real outage.

    ``history``/``execution`` persist every step outcome to an
    ExecutionHistoryStore as it happens (reference
    start_command_step/end_command_step), so a crash leaves a durable
    record of what completed; ``command`` sets both. ``resume_done``
    names steps recorded ok by a prior failed execution
    (history.completed_steps) — they are skipped with a "resumed"
    marker instead of re-running.
    """

    spark: object | None = None
    skip: set[str] = field(default_factory=set)
    error_at: str | None = None
    results: list[StepResult] = field(default_factory=list)
    history: object | None = None  # ExecutionHistoryStore
    execution: object | None = None  # ExecutionRecord
    resume_done: set[str] = field(default_factory=set)

    def _record(self, result: StepResult) -> None:
        self.results.append(result)
        if self.history is not None and self.execution is not None:
            # A RESUMED step is skipped for display but recorded "ok"
            # in THIS execution's history: it is genuinely complete,
            # and a later crash-resume reads completed_steps of the
            # latest execution — recording "skipped" would make the
            # resume chain survive exactly one crash before
            # recomputing everything.
            status = STEP_OK if result.detail == "resumed" else result.status
            self.history.record_step(
                self.execution,
                result.name,
                status,
                result.seconds,
                str(result.detail) if result.detail is not None else None,
            )

    @contextlib.contextmanager
    def command(
        self,
        history,
        command_type: str,
        owner: str,
        table_name: str,
        command_input: object = None,
    ):
        """One persisted command execution around the block (reference
        start_command/end_command, orchestration_runner.py:139-227)."""
        self.history = history
        self.execution = history.begin(
            command_type, owner, table_name, command_input
        )
        try:
            yield self.execution
        except BaseException:
            history.end(self.execution, COMMAND_ERROR)
            raise
        history.end(self.execution, COMMAND_SUCCESS)

    @contextlib.contextmanager
    def step(self, name: str):
        """Time the block as step ``name`` and tag its Spark jobs."""
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.addJobTag(step_tag(name))
        try:
            t0 = time.perf_counter()
            try:
                yield
            except BaseException as e:
                self._record(
                    StepResult(name, STEP_ERROR, time.perf_counter() - t0, str(e))
                )
                raise
            self._record(StepResult(name, STEP_OK, time.perf_counter() - t0))
        finally:
            if sc is not None:
                sc.removeJobTag(step_tag(name))

    def skipped(self, name: str, reason: str | None = None) -> None:
        """Record step ``name`` as skipped (for ``reason``)."""
        self._record(StepResult(name, STEP_SKIPPED, detail=reason))

    def run(self, name: str, fn, *args, **kwargs):
        if name in self.resume_done:
            self.skipped(name, "resumed")
            return None
        if name in self.skip:
            self.skipped(name)
            return None
        if self.error_at == name:
            err = RuntimeError(f"injected error before step {name}")
            self._record(StepResult(name, STEP_ERROR, detail=str(err)))
            raise StepError(name, err)
        try:
            with self.step(name):
                return fn(*args, **kwargs)
        except Exception as e:
            raise StepError(name, e) from e

    def ok_steps(self) -> list[str]:
        return [r.name for r in self.results if r.status == STEP_OK]

    def summary(self) -> dict[str, str]:
        return {r.name: r.status for r in self.results}

"""Persisted command-execution history (plans/history.py): every step
outcome reaches disk as it happens, a reloaded store reproduces the
execution view, and a restart after an injected error resumes from the
recorded step — the reference's repo execution/step tables
(orchestration_runner.py:139-227)."""

from __future__ import annotations

import pytest

from goe_spark.plans.history import (
    COMMAND_ERROR,
    COMMAND_SUCCESS,
    ExecutionHistoryStore,
)
from goe_spark.plans.steps import StepError, StepRunner
from tests.conftest import SF_SMALL


class TestStoreRoundTrip:
    def test_begin_step_end_reload(self, tmp_path):
        store = ExecutionHistoryStore(str(tmp_path))
        rec = store.begin("OFFLOAD", "sh", "orders", {"hwm": "1995-06"})
        store.record_step(rec, "A", "ok", 1.25)
        store.record_step(rec, "B", "error", 0.5, "boom")
        store.end(rec, COMMAND_ERROR)

        fresh = ExecutionHistoryStore(str(tmp_path))
        back = fresh.get(rec.execution_id)
        assert back.status == COMMAND_ERROR
        assert back.command_input == {"hwm": "1995-06"}
        assert back.step_names() == ["A", "B"]
        assert back.steps[0]["seconds"] == 1.25
        assert back.steps[1]["detail"] == "boom"
        assert back.started_utc and back.ended_utc

    def test_list_and_latest_ordering(self, tmp_path):
        store = ExecutionHistoryStore(str(tmp_path))
        r1 = store.begin("OFFLOAD", "sh", "orders")
        store.end(r1, COMMAND_SUCCESS)
        r2 = store.begin("OFFLOAD", "sh", "orders")
        store.end(r2, COMMAND_ERROR)
        store.begin("OFFLOAD", "sh", "lineitem")
        assert [r.execution_id for r in store.list_executions("sh", "orders")] == [
            r1.execution_id,
            r2.execution_id,
        ]
        assert store.latest("sh", "orders").execution_id == r2.execution_id
        assert len(store.list_executions()) == 3


class TestStepRunnerHistory:
    def test_steps_persisted_as_they_run(self, tmp_path):
        store = ExecutionHistoryStore(str(tmp_path))
        rec = store.begin("TEST", "o", "t")
        r = StepRunner(history=store, execution=rec)
        r.run("one", lambda: 1)
        # Reload mid-command: the completed step is already on disk.
        assert ExecutionHistoryStore(str(tmp_path)).get(
            rec.execution_id
        ).step_names("ok") == ["one"]
        with pytest.raises(StepError):
            r.run("two", lambda: 1 / 0)
        back = ExecutionHistoryStore(str(tmp_path)).get(rec.execution_id)
        assert back.step_names("error") == ["two"]
        assert "division" in back.steps[1]["detail"]

    def test_resume_skips_recorded_steps(self, tmp_path):
        store = ExecutionHistoryStore(str(tmp_path))
        calls = []

        def mk(name):
            return lambda: calls.append(name)

        rec1 = store.begin("TEST", "o", "t")
        r1 = StepRunner(
            history=store,
            execution=rec1,
            error_at="load",
        )
        r1.run("analyze", mk("analyze"))
        r1.run("stage", mk("stage"))
        with pytest.raises(StepError):
            r1.run("load", mk("load"))
        store.end(rec1, COMMAND_ERROR)

        # Restart: a fresh process reloads the store and resumes from
        # the failed step — completed steps are not re-executed.
        fresh = ExecutionHistoryStore(str(tmp_path))
        prior = fresh.latest("o", "t")
        assert prior.status == COMMAND_ERROR
        rec2 = fresh.begin("TEST", "o", "t")
        r2 = StepRunner(
            history=fresh,
            execution=rec2,
            resume_done=fresh.completed_steps(prior),
        )
        r2.run("analyze", mk("analyze2"))
        r2.run("stage", mk("stage2"))
        r2.run("load", mk("load2"))
        fresh.end(rec2, COMMAND_SUCCESS)

        assert calls == ["analyze", "stage", "load2"]
        back = fresh.get(rec2.execution_id)
        # Resumed steps record "ok" (they ARE complete) with a
        # 'resumed' detail — recording "skipped" would make a SECOND
        # crash-resume recompute them (completed_steps reads the
        # latest execution's ok steps).
        assert [(s["name"], s["status"]) for s in back.steps] == [
            ("analyze", "ok"),
            ("stage", "ok"),
            ("load", "ok"),
        ]
        assert back.steps[0]["detail"] == "resumed"


class TestOffloadPipelineHistory:
    def _cfg(self, tmp_path, **kw):
        from goe_spark.plans.offload import OffloadConfig

        return OffloadConfig(
            owner="sh",
            table_name="orders",
            target_dir=str(tmp_path / "final"),
            staging_dir=str(tmp_path / "staging"),
            metadata_dir=str(tmp_path / "md"),
            **kw,
        )

    def test_success_recorded_with_timings(self, spark, tmp_path):
        from goe_spark.plans.offload import OffloadPipeline

        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        res = OffloadPipeline(spark, self._cfg(tmp_path)).run(src)

        store = ExecutionHistoryStore(str(tmp_path / "md"))
        (rec,) = store.list_executions("sh", "orders")
        assert rec.status == COMMAND_SUCCESS
        assert rec.command_type == "OFFLOAD"
        # Step sequence matches the pipeline result, with real timings.
        assert rec.step_names("ok") == res.steps
        timed = {s["name"]: s["seconds"] for s in rec.steps}
        assert timed["FINAL_LOAD"] > 0
        # A local parquet target loads straight from the source: the
        # staging steps are recorded, as skipped.
        skipped = {s["name"]: s["detail"] for s in rec.steps if s["status"] == "skipped"}
        assert skipped["STAGING_TRANSPORT"] == "direct"

    def test_failure_records_error_step_and_status(self, spark, tmp_path):
        from goe_spark.plans.offload import (
            OffloadPipeline,
            OffloadValidationError,
        )

        class Broken(OffloadPipeline):
            def _verify_count(self, check_df):
                return -1  # force count mismatch

        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        with pytest.raises(OffloadValidationError):
            Broken(spark, self._cfg(tmp_path)).run(src)

        store = ExecutionHistoryStore(str(tmp_path / "md"))
        (rec,) = store.list_executions("sh", "orders")
        assert rec.status == COMMAND_ERROR
        assert rec.step_names("ok")[-1] == "FINAL_LOAD"
        (err_step,) = [s for s in rec.steps if s["status"] == "error"]
        assert err_step["name"] == "VERIFY_EXPORTED_DATA"
        assert "count validation failed" in err_step["detail"]

    def test_execution_report_view(self, spark, tmp_path):
        from goe_spark.plans.offload import OffloadPipeline
        from goe_spark.plans.status_report import execution_report

        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        OffloadPipeline(spark, self._cfg(tmp_path)).run(src)

        store = ExecutionHistoryStore(str(tmp_path / "md"))
        rpt = execution_report(spark, store, owner="sh")
        rows = rpt.collect()
        assert {r.step for r in rows} >= {
            "ANALYZE_DATA_TYPES",
            "STAGING_TRANSPORT",
            "FINAL_LOAD",
            "SAVE_METADATA",
        }
        # A local parquet target loads straight from the source.
        (staging,) = [r for r in rows if r.step == "STAGING_TRANSPORT"]
        assert (staging.step_status, staging.step_detail) == ("skipped", "direct")
        assert all(r.status == COMMAND_SUCCESS for r in rows)
        assert any(r.step_seconds > 0 for r in rows)

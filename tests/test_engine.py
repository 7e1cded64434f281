"""TelemetryEngine facade: reads, writes and SQL behave like the
reference's ``Database`` methods, and each call stays within its cost
contract (engine.py docstring), counted in the style of
tests/test_plan_shapes.py: the status tracker under a job group."""

from __future__ import annotations

import datetime as dt
import inspect
import itertools
import os

import pytest

from machine_telemetry_etl_ml_pipeline_spark.engine import TABLES, TelemetryEngine
from machine_telemetry_etl_ml_pipeline_spark.schemas import PREDICTIONS, USER_QUERY_LOG


@pytest.fixture(scope="module")
def engine(spark, telemetry_csv, tmp_path_factory):
    eng = TelemetryEngine(str(tmp_path_factory.mktemp("engine_root")), spark=spark)
    n = eng.ingest_csv(telemetry_csv)
    assert n > 0
    return eng


def test_facade_reads(engine):
    assert [r.machineid for r in engine.get_machine_list().collect()] == ["M001", "M002", "M003"]
    latest = engine.get_latest_telemetry("M002", limit=1).collect()
    assert len(latest) == 1 and latest[0].machineid == "M002"
    top = engine.get_highest_temperature_machines(limit=2).collect()
    assert len(top) == 2
    stats = engine.get_telemetry_stats().head()
    assert stats.n_machines == 3


def test_facade_status_and_comparison(engine):
    by_status = engine.get_machines_by_status("fault").collect()
    assert all("fault" in r.status.lower() for r in by_status)
    comp = engine.get_machine_comparison_stats().collect()
    assert len(comp) == 3


def test_facade_write_paths(engine):
    engine.log_user_query("operator", "hottest machine?", "regression", confidence=None)
    engine.log_prediction("M001", "regression", 81.2, {"humidity": 68.0})
    counts = engine.verify_database_setup()
    assert counts["user_query_log"] >= 1 and counts["predictions"] >= 1
    # None confidence coerced to 0.0 (reference db.py:168)
    q = engine._read_or_empty("user_query_log").head()
    assert q.confidence == 0.0 and q.ts_epoch is not None


def test_facade_insert_and_sql(engine):
    before = engine.verify_database_setup()["telemetry"]
    engine.insert_telemetry(
        {
            "machineid": "M009",
            "type": "Generator",
            "location": "Site D",
            "timestamp": "9/15/2025 4:00",
            "enginetemperature": 90.5,
            "status": "Active",
        }
    )
    after = engine.verify_database_setup()["telemetry"]
    assert after == before + 1
    got = engine.execute_query(
        "SELECT machineid, enginetemperature FROM telemetry WHERE machineid = 'M009'"
    ).collect()
    assert len(got) == 1 and got[0].enginetemperature == 90.5


# --- per-call budgets --------------------------------------------------------

_GROUPS = itertools.count()


def counted(spark, fn):
    """Run ``fn`` under a fresh job group; return its result, the stage
    count of each Spark job it ran, and their total task count."""
    sc = spark.sparkContext
    group = f"engine-budget-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j).stageIds for j in st.getJobIdsForGroup(group)]
    return out, [len(ids) for ids in jobs], sum(st.getStageInfo(s).numTasks for ids in jobs for s in ids)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


@pytest.fixture(scope="module")
def app(spark, telemetry_csv, tmp_path_factory):
    """An engine of its own, so rows inserted here never reach the
    facade tests above."""
    eng = TelemetryEngine(str(tmp_path_factory.mktemp("app_root")), spark=spark)
    eng.ingest_csv(telemetry_csv)
    eng.log_user_query("operator", "warm", "regression")
    eng.log_prediction("M001", "regression", 1.0, {"x": 1.0})
    return eng


_ARGS = {"machine_id": "M001", "start_epoch": 0, "end_epoch": 2_000_000_000, "status_filter": "fault"}


def get_methods():
    return sorted(n for n, _ in inspect.getmembers(TelemetryEngine, inspect.isfunction) if n.startswith("get_"))


@pytest.mark.parametrize("method", get_methods())
def test_get_frame_builds_without_jobs(spark, app, method):
    params = inspect.signature(getattr(TelemetryEngine, method)).parameters
    kwargs = {k: _ARGS[k] for k in params if k in _ARGS}
    df, stages, _ = counted(spark, lambda: getattr(app, method)(**kwargs))
    assert stages == [], f"{method} ran {len(stages)} job(s) while building"
    df.collect()


_LOG_WRITES = {
    "user_query_log": lambda e: e.log_user_query("operator", "it's \"x\"; --", "regression", 0.5, "M001", 7),
    "predictions": lambda e: e.log_prediction("M002", "regression", 2.5, {"humidity": 68.0}),
}


@pytest.mark.parametrize("table", sorted(_LOG_WRITES))
def test_log_write_is_one_job_one_task_one_file(spark, app, table):
    path = app._paths[table]
    before = parquet_files(path)
    _, stages, tasks = counted(spark, lambda: _LOG_WRITES[table](app))
    assert stages == [1] and tasks == 1
    assert parquet_files(path) == before + 1


def test_one_row_insert_is_one_job_without_shuffle(spark, app):
    row = {"machineid": "M005", "timestamp": "9/10/2025 3:00", "enginetemperature": 88.0}
    _, stages, _ = counted(spark, lambda: app.insert_telemetry(row))
    assert stages == [1]  # one job; a shuffle would add a map stage


def test_insert_none_metric_takes_fill_default(app):
    """database_and_model_tools.py:59-71: a missing reading gets the
    reference fill default instead of failing on type inference."""
    before = app.verify_database_setup()["telemetry"]
    app.insert_telemetry(
        {"machineid": "M006", "type": "Pump", "location": "Site B", "timestamp": "9/11/2025 4:00",
         "enginetemperature": 91.0, "humidity": None, "status": "Idle"}
    )
    assert app.verify_database_setup()["telemetry"] == before + 1
    got = app.telemetry().where("machineid = 'M006'").collect()
    assert len(got) == 1 and got[0].humidity == 65.0


# --- schema and answer parity ------------------------------------------------


def test_reads_use_the_stored_schemas(spark, app):
    stored = spark.read.parquet(app._paths["telemetry"]).schema
    assert app.telemetry().schema == stored
    assert (stored.fields[-1].name, stored.fields[-1].dataType.simpleString()) == ("event_date", "date")
    assert spark.read.parquet(app._paths["user_query_log"]).schema == USER_QUERY_LOG
    assert spark.read.parquet(app._paths["predictions"]).schema == PREDICTIONS


def test_empty_tables_have_the_stored_schemas(spark, app, tmp_path):
    empty = TelemetryEngine(str(tmp_path / "none"), spark=spark)
    for name in TABLES:
        df, stages, _ = counted(spark, lambda: empty._read_or_empty(name))
        assert stages == []
        assert df.schema == app._read_or_empty(name).schema
        assert df.count() == 0


def test_written_values(app):
    app.log_prediction("M004", "empty-features", None, {})
    app.insert_telemetry(
        {"machineid": "M007", "type": "Pump", "location": "Site B", "timestamp": dt.datetime(2025, 9, 20, 5, 0),
         "enginetemperature": 91.5, "humidity": 40.0, "status": "Idle"}
    )
    app.insert_telemetry(
        {"machineid": "M008", "type": "Pump", "location": "Site B", "timestamp": "9/21/2025 6:00",
         "enginetemperature": 90, "pressure": 1000, "status": "Fault"}
    )
    p = app._read_or_empty("predictions").where("intent = 'empty-features'").collect()
    assert [(r.machine_id, r.numerical_answer, r.features) for r in p] == [("M004", 0.0, {})]
    cols = ["machineid", "timestamp", "enginetemperature", "fuelconsumption", "humidity", "pressure",
            "status", "status_encoded", "timestamp_epoch", "hour", "dayofweek", "month", "event_date"]
    got = app.telemetry().where("machineid IN ('M007', 'M008')").orderBy("machineid").select(cols).collect()
    assert [tuple(r) for r in got] == [
        ("M007", dt.datetime(2025, 9, 20, 5, 0), 91.5, 10.0, 40.0, 950.0, "Idle", 2, 1758344400, 5, 5, 9,
         dt.date(2025, 9, 20)),
        ("M008", dt.datetime(2025, 9, 21, 6, 0), 90.0, 10.0, 65.0, 1000.0, "Fault", 1, 1758434400, 6, 6, 9,
         dt.date(2025, 9, 21)),
    ]

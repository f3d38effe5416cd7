"""Driver-side control tables (watermarks, run history) and the cocktails
dimension frame: rows built in the JVM, exact timestamp round trips under
a non-UTC process timezone, and the one-job incremental load."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from cocktailsdb_spark import runlog
from cocktailsdb_spark.sources import http_source, watermark
from cocktailsdb_spark.sources.watermark import WatermarkStore, incremental_load


@pytest.fixture
def new_york_tz(monkeypatch):
    """Process-local time five hours off UTC (the session tz stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _assert_no_python_rdd(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_watermarks_round_trip_exactly_off_utc(spark, tmp_path, new_york_tz):
    store = WatermarkStore(str(tmp_path / "marks"))
    marks = {
        "a": dt.datetime(2021, 3, 4, 5, 6, 7),
        "b": dt.datetime(2020, 12, 26, 22, 47, 0, 123456),
        "c": watermark.DEFAULT_MARK,
    }
    store.write(spark, marks)
    assert store.read(spark) == marks


def test_run_history_times_hold_off_utc(spark, tmp_path, new_york_tz):
    log = runlog.RunLog(str(tmp_path / "run_history"))
    with log.stage("first"):
        pass
    with log.stage("second", "detail"):
        pass
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    log.flush(spark)
    rows = runlog.RunLog.history(spark, log.path).orderBy("seq").collect()
    assert [r["stage"] for r in rows] == ["first", "second"]
    assert [r["seq"] for r in rows] == [0, 1]
    assert rows[1]["detail"] == "detail"
    for r in rows:
        assert r["finished_at"] >= r["started_at"]
        # stored as recorded (UTC wall time), not shifted by the process tz
        assert abs(r["started_at"] - before) < dt.timedelta(minutes=5)


def test_control_frames_have_no_python_rdd(spark, tmp_path, monkeypatch):
    """Watermark and run-history frames must not scan a Python RDD:
    writing one would run a Python worker per partition."""
    built = []
    make = watermark.control_frame

    def spy(*args, **kwargs):
        built.append(make(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(watermark, "control_frame", spy)
    monkeypatch.setattr(runlog, "control_frame", spy)
    WatermarkStore(str(tmp_path / "marks")).write(
        spark, {"a": dt.datetime(2021, 1, 1)}
    )
    WatermarkStore(str(tmp_path / "empty")).write(spark, {})
    log = runlog.RunLog(str(tmp_path / "run_history"))
    with log.stage("only"):
        pass
    log.flush(spark)
    assert len(built) == 3
    for df in built:
        _assert_no_python_rdd(df)


def test_fetch_df_has_no_python_rdd(spark):
    for keys in (["Mojito", "Negroni"], []):
        _assert_no_python_rdd(
            http_source.fetch_df(spark, keys, http_source.fake_transport)
        )


def test_incremental_load_counts_sources_without_new_rows(spark, tmp_path):
    """One grouped job yields every source's count and mark; a source
    whose slice is empty reports 0 and keeps its mark."""
    ts = F.timestamp_seconds(F.col("id") * 60)
    first = spark.range(10).select("id", ts.alias("ts"))
    more = spark.range(14).select("id", ts.alias("ts"))
    store = WatermarkStore(str(tmp_path / "marks"))
    sink = str(tmp_path / "sink")
    assert incremental_load(spark, {"a": first, "b": first}, "ts", sink, store) == {
        "a": 10,
        "b": 10,
    }
    marks = store.read(spark)
    assert incremental_load(spark, {"a": more, "b": first}, "ts", sink, store) == {
        "a": 4,
        "b": 0,
    }
    after = store.read(spark)
    assert after["b"] == marks["b"] and after["a"] > marks["a"]
    assert spark.read.parquet(sink).count() == 24

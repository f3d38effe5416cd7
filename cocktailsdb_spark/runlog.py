"""Run-history logging — the engine analog of the reference's dual-sink
logging + log file (build_database.py:9-25, logs/drinks_db.log:1-14).

Two sinks, same as the reference: the standard :mod:`logging` stream (for
operators/humans) and a durable ``run_history`` parquet control table (for
the pipeline itself — the queryable replacement for grepping a log file).
Events are buffered in memory per run and appended in ONE small write when
the run closes, so logging never adds per-stage Spark jobs. The rows of that
write are built in the JVM (``watermark.control_frame``), so it runs no
Python worker. A failed stage still flushes what happened (status='error' +
the exception class), which is exactly the forensic record the reference's
log provides after a crash.
"""

from __future__ import annotations

import datetime as dt
import logging
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .sources.watermark import control_frame

log = logging.getLogger("cocktailsdb_spark")

RUN_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("detail", T.StringType()),
    ]
)


class RunLog:
    """Per-run stage logger backed by a parquet run_history table."""

    def __init__(self, path: str):
        self.path = path
        self.run_id = uuid.uuid4().hex[:12]
        self._events: list[tuple] = []

    @contextmanager
    def stage(self, name: str, detail: str = ""):
        """Record one pipeline stage: wall-clock span + ok/error status.
        Exceptions propagate after being recorded."""
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        log.info("run %s stage %s started", self.run_id, name)
        try:
            yield
        except Exception as e:
            self._events.append(
                (self.run_id, name, len(self._events), started,
                 dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                 "error", f"{type(e).__name__}: {e}"[:500])
            )
            log.error("run %s stage %s failed: %s", self.run_id, name, e)
            raise
        self._events.append(
            (self.run_id, name, len(self._events), started,
             dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
             "ok", detail)
        )
        log.info("run %s stage %s ok", self.run_id, name)

    def flush(self, spark: SparkSession) -> None:
        """Append this run's events to the run_history table (one small
        single-file write of JVM-built rows — the control-table pattern of
        watermark.py)."""
        if not self._events:
            return
        df = control_frame(spark, self._events, RUN_HISTORY_SCHEMA)
        df.write.mode("append").parquet(self.path)
        self._events = []

    @staticmethod
    def history(spark: SparkSession, path: str) -> DataFrame:
        return spark.read.schema(RUN_HISTORY_SCHEMA).parquet(path)

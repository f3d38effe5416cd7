"""Batch-incremental watermark protocol — SURVEY.md §2.1 S9/S10, §2.7.

The reference keeps per-source high-water marks in a text file and — bug —
advances them BEFORE the sink write (build_database.py:150-159 vs :250), so
a crash in between loses data. This store fixes the ordering: marks are
written only after the sink succeeds (call ``advance`` last). State lives in
a small parquet control table — the direct analog of last_update.txt:1-3.

Control-table rows are built in the JVM from literals (``control_frame``),
not through ``createDataFrame(list)``: that path parallelizes a Python RDD,
so writing even a few rows would run a Python-worker task per partition.

The streaming mapping of the same protocol (checkpoint-backed
``withWatermark``) is in cocktailsdb_spark.streaming.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import WATERMARKS

DEFAULT_MARK = dt.datetime(1900, 1, 1)  # reference default '1900-01-01'


def _literal(value, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.TimestampType) and value is not None:
        # toInternal is createDataFrame's own conversion: a naive datetime
        # is process-local time, so a write/read round trip is exact.
        return F.timestamp_micros(F.lit(dtype.toInternal(value)))
    return F.lit(value).cast(dtype)


def control_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType
) -> DataFrame:
    """Driver-side rows as a one-partition frame built in the JVM: an
    inline array of literal structs over ``range(1)``. No Python RDD, so
    writing it runs no Python worker. For control tables of a few rows
    (the literals land in the plan)."""
    structs = [
        F.struct(*[_literal(v, f.dataType).alias(f.name)
                   for v, f in zip(row, schema.fields)])
        for row in rows
    ]
    # the cast types the empty array too, so zero rows still carry the schema
    arr = F.array(*structs).cast(T.ArrayType(schema))
    return spark.range(1, numPartitions=1).select(F.inline(arr))


class WatermarkStore:
    """Per-source high-water marks in a parquet control table."""

    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> dict[str, dt.datetime]:
        """S9 — marks as a small driver-side dict (the table is O(#sources)).

        ONLY the missing-path (first run) case maps to {}; a corrupt or
        unreadable control table re-raises. Swallowing it would silently
        reset every high-water mark and make the next incremental run
        re-ingest full history into the append sink (duplicate rows)."""
        try:
            rows = spark.read.schema(WATERMARKS).parquet(self.path).collect()
        except AnalysisException as e:
            cond = getattr(e, "getCondition", e.getErrorClass)() or ""
            if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(e):
                return {}  # first run: no control table yet
            raise
        return {r["source"]: r["high_water_mark"] for r in rows}

    def write(self, spark: SparkSession, marks: dict[str, dt.datetime]) -> None:
        """S10 — overwrite the control table (one file, rows built in the
        JVM). Call ONLY after the sink committed (ordering fix per
        SURVEY.md §3.4)."""
        df = control_frame(spark, sorted(marks.items()), WATERMARKS)
        df.write.mode("overwrite").parquet(self.path)


def incremental_load(
    spark: SparkSession,
    source_dfs: dict[str, DataFrame],
    ts_col: str,
    sink_path: str,
    store: WatermarkStore,
) -> dict[str, int]:
    """One watermarked incremental run:
    read marks → strict-`>` filter per source (P9) → append sink →
    advance marks (A2 max per source), in THAT order. Returns rows loaded
    per source. The new marks and counts of all sources come from ONE
    grouped job over the unioned slice. Re-running with unchanged inputs
    loads 0 rows (registry entry incremental_idempotence)."""
    marks = store.read(spark)
    filtered = [
        df.filter(F.col(ts_col) > F.lit(marks.get(name, DEFAULT_MARK)))
        .withColumn("_source", F.lit(name))
        for name, df in source_dfs.items()
    ]
    out = filtered[0]
    for d in filtered[1:]:
        out = out.unionByName(d)
    loaded = dict.fromkeys(source_dfs, 0)  # a source with no new rows: 0
    new_marks = dict(marks)
    # A2: new high-water mark = max ts of each source's incremental slice
    for r in (
        out.groupBy("_source")
        .agg(F.max(ts_col).alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        loaded[r["_source"]] = r["n"]
        new_marks[r["_source"]] = r["mx"]
    out.write.mode("append").parquet(sink_path)
    # S10 fix: marks advance only after the sink committed
    store.write(spark, new_marks)
    return loaded

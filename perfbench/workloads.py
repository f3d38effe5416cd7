"""The benchmark's workloads: one closed-loop client in one process.

``eager_operators`` runs registry entries whose cost is Python plan
building plus the eager Spark jobs they fire while building (graph
supersteps, ``localCheckpoint``/``count``/``collect``), and one pair of
entries that implement the same oracle twice. Each op is the registry call
followed by collecting the result (at most a few thousand rows); the seed
shuffles the order within every pass.

``bar_etl`` runs the reference pipeline ``plans.bar_pipeline.
build_database`` on seeded reference-shaped files: per pass a full load
into a fresh database, three incremental slices and one run with no new
data. It is the only workload that parses CSV, appends to catalog tables,
rewrites the PoC CTAS and writes the watermark and run-log tables.

Each workload's ``prepare`` runs in a process of its own before the
measured one starts Spark: it writes the inputs and the oracle answers, so
that neither the generators' nor DuckDB's memory counts in the measured
process. Correctness is checked outside set-up and every timed interval:
the query entries' collected results after every pass against their DuckDB
oracles, the pipeline after every load against the reference PoC oracle
over the same files.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from . import gen_bar, gen_star

EAGER_QUERIES = (
    "graph_bfs_levels",  # graph supersteps: one or more jobs per hop
    # operators that fire eager actions while they build
    "semantic_dedup",
    "minhash_banded_pairs",
    "abandoned_views_daily",
    # one oracle contract implemented twice
    "segment_percentiles",
    "segment_percentiles_scaled",
)
STAR_SF = 0.01  # 60,000 lineitem rows
STAR_SEED = 42  # the fixture is fixed; the run seed orders the queries

BAR_BASE_ROWS = 50_000  # per source, as in the reference files
BAR_SLICE_ROWS = 5_000  # per source and incremental slice
BAR_SLICES = 3
BAR_SEQUENCE = (("full", 0), ("incr", 1), ("incr", 2), ("incr", 3), ("noop", 3))

GRAPH_FUNCS = ("pagerank", "kcore_peel", "bfs_levels", "label_propagation_communities",
               "triangle_stats", "link_prediction_jaccard")


@dataclass
class Op:
    kind: str  # query name, or load type for bar_etl
    pass_no: int
    latency: float | None  # None when the op raised
    traced: bool


def _span(tracer, name: str, **attrs):
    return nullcontext() if tracer is None else tracer.span(name, **attrs)


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _digest(pdf) -> str:
    from tools.selfcheck import normalize

    return hashlib.sha256(repr(normalize(pdf)).encode("utf-8")).hexdigest()


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when both frames hold the same rows, hash-exact under the
    oracle harness's normalisation; otherwise what differs."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    if _digest(spark_pdf) != _digest(oracle_pdf):
        return "values differ"
    return None


class Checks:
    """Comparisons with oracle answers that ``prepare`` wrote, made outside
    set-up and the timed intervals."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, spark_side, want_path: str) -> None:
        import pandas as pd

        self.attempted += 1
        try:
            problem = compare(spark_side(), pd.read_pickle(want_path))
        except Exception:  # noqa: BLE001 — a failed check is counted, the run goes on
            _log_failure(f"check {label}")
            problem = "raised"
        if problem:
            self.failed += 1
            print(f"perfbench: check {label}: {problem}", file=sys.stderr)


def storage_mem_bytes(spark) -> int:
    """Bytes held in memory by persisted and locally checkpointed RDDs."""
    return sum(r.memSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


class EagerOperators:
    name = "eager_operators"
    min_passes = 2  # ~8-12 s each here; the median of two damps one slow pass

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "star")
        self.want_dir = os.path.join(work, "want")
        self.seed = seed
        self.checks: Checks | None = None
        self.extras: dict[int, dict] = {}  # per-pass layer readings

    def prepare(self) -> None:
        """The fixture, and every entry's DuckDB oracle answer on it."""
        import duckdb

        from cocktailsdb_spark.registry import ORACLES
        from cocktailsdb_spark.tables import TABLES

        gen_star.generate(self.sf_dir, STAR_SF, STAR_SEED)
        os.makedirs(self.want_dir, exist_ok=True)
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in EAGER_QUERIES:
            con.execute(ORACLES[name]).df().to_pickle(os.path.join(self.want_dir, name))
        con.close()

    def warm_up(self, spark) -> None:
        self.run_pass(spark, -1, None)

    def check(self, spark, checks: Checks) -> None:
        """Compare the warm-up's outputs with the oracle answers; from now
        on every pass compares its own, after its ops."""
        self.checks = checks
        self._check_outputs(-1)

    def _check_outputs(self, pass_no: int) -> None:
        for name, got in self.outputs.items():
            self.checks.run(f"{name} pass {pass_no}", lambda: got,
                            os.path.join(self.want_dir, name))

    def run_pass(self, spark, pass_no: int, tracer) -> list[Op]:
        """Every entry once, in the seed's order: the registry call, then
        the result collected to the driver."""
        from cocktailsdb_spark.registry import QUERIES

        names = list(EAGER_QUERIES)
        random.Random(self.seed * 1000 + pass_no).shuffle(names)
        ops = []
        held = 0
        self.outputs = {}
        for name in names:
            t0 = time.perf_counter()
            try:
                with _span(tracer, "registry.build", query=name, pass_no=pass_no):
                    df = QUERIES[name](spark, self.sf_dir)
                if tracer is not None:
                    held = max(held, storage_mem_bytes(spark))
                with _span(tracer, "spark.exec", query=name, pass_no=pass_no):
                    self.outputs[name] = df.toPandas()
                latency = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — counted as a failed op
                _log_failure(name)
                latency = None
            if tracer is not None:
                held = max(held, storage_mem_bytes(spark))
            ops.append(Op(name, pass_no, latency, tracer is not None))
        self.extras[pass_no] = {"spark.storage_mem_bytes": held}
        if self.checks is not None:
            self._check_outputs(pass_no)
        return ops

    def instrument(self, tracer) -> None:
        import cocktailsdb_spark.tables as tables
        from cocktailsdb_spark.operators import graph

        tracer.wrap(tables, "load", "tables.load")
        for fn in GRAPH_FUNCS:
            tracer.wrap(graph, fn, "operators.graph.build")


class BarEtl:
    name = "bar_etl"
    min_passes = 1  # ~27 s here

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = gen_bar.layout(os.path.join(work, "bar_in"), BAR_SLICES)
        self.want_dir = os.path.join(work, "want")
        self.extras: dict[int, dict] = {}  # per-pass layer readings

    def prepare(self) -> None:
        """The input files, and the reference PoC oracle's answer on every
        snapshot."""
        import duckdb

        gen_bar.generate(os.path.join(self.work, "bar_in"), self.seed,
                         BAR_BASE_ROWS, BAR_SLICE_ROWS, BAR_SLICES)
        os.makedirs(self.want_dir, exist_ok=True)
        con = duckdb.connect()
        for k in range(BAR_SLICES + 1):
            con.execute(self._oracle_sql(k)).df().to_pickle(self._want(k))
        con.close()

    def _want(self, k: int) -> str:
        return os.path.join(self.want_dir, f"slice_{k}")

    def _oracle_sql(self, k: int) -> str:
        from cocktailsdb_spark.plans import reference_parity as rp

        s = self.inputs["slices"][k]
        sql = (rp.REFERENCE_POC_SQL
               .replace(rp.BAR_DATA, self.inputs["bar_data"])
               .replace(rp.BUDAPEST, s["budapest"])
               .replace(rp.LONDON, s["london"])
               .replace(rp.NY, s["new york"]))
        if rp.REF_DATA in sql:
            raise ValueError(f"oracle still reads {rp.REF_DATA}")
        return sql

    def _load(self, spark, base: str, k: int):
        from cocktailsdb_spark.plans.bar_pipeline import build_database
        from cocktailsdb_spark.sources.http_source import fake_transport

        s = self.inputs["slices"][k]
        return build_database(spark, base, self.inputs["bar_data"], s["budapest"],
                              s["london"], s["new york"], transport=fake_transport)

    def warm_up(self, spark) -> None:
        """A full load into a scratch database."""
        self._warm = self._load(spark, os.path.join(self.work, "bar_db", "warm"), 0)

    def check(self, spark, checks: Checks) -> None:
        """The warm-up load, checked like every timed one."""
        self.checks = checks
        self._check(self._warm, 0, "warm full")

    def _check(self, result, k: int, label: str) -> None:
        self.checks.run(f"bar_etl {label}", lambda: result.toPandas(), self._want(k))

    def run_pass(self, spark, pass_no: int, tracer) -> list[Op]:
        base = os.path.join(self.work, "bar_db", f"pass{pass_no}")
        ops = []
        for kind, k in BAR_SEQUENCE:
            t0 = time.perf_counter()
            try:
                with _span(tracer, "plans.bar_pipeline.build", load=kind, pass_no=pass_no):
                    result = self._load(spark, base, k)
                latency = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — counted as a failed op
                _log_failure(f"bar_etl {kind} load")
                latency = None
            ops.append(Op(kind, pass_no, latency, tracer is not None))
            if latency is not None:
                self._check(result, k, f"pass {pass_no} {kind} slice {k}")
        files, stored = 0, 0
        for dirpath, _, filenames in os.walk(base):
            for fn in filenames:
                files += 1
                stored += os.path.getsize(os.path.join(dirpath, fn))
        # bytes of user data behind the pass's final tables, uncompressed
        raw = os.path.getsize(self.inputs["bar_data"])
        for path in self.inputs["slices"][BAR_SEQUENCE[-1][1]].values():
            with gzip.open(path, "rb") as f:
                raw += len(f.read())
        self.extras[pass_no] = {
            "storage.files": files,
            "storage.bytes_per_input_byte": stored / raw,
        }
        return ops

    def instrument(self, tracer) -> None:
        from cocktailsdb_spark.operators import dedup
        from cocktailsdb_spark.plans import bar_pipeline as bp
        from cocktailsdb_spark.runlog import RunLog
        from cocktailsdb_spark.sources import csv_sources, http_source
        from cocktailsdb_spark.sources.watermark import WatermarkStore

        for fn in ("read_bar_stock", "read_sales_iso_csv", "read_sales_tsv_headerless",
                   "read_sales_us_dates"):
            tracer.wrap(csv_sources, fn, "sources.csv")
        tracer.wrap(bp, "process_sales_data", "sources.sales")
        tracer.wrap(WatermarkStore, "read", "sources.watermark.read")
        tracer.wrap(WatermarkStore, "write", "sources.watermark.write")
        tracer.wrap(http_source, "fetch_df", "sources.http_source.fetch",
                    attrs=lambda spark, keys, *a, **kw: {"keys": len(keys)})
        tracer.wrap(dedup, "latest_wins", "operators.dedup.latest_wins")
        tracer.wrap(bp, "_write_table", lambda spark, df, db, name, *a, **kw: (
            "plans.bar_pipeline.poc_ctas" if name == "poc_analysis"
            else "plans.bar_pipeline.sink"))
        tracer.wrap(bp, "poc_analysis_bar", "plans.bar_pipeline.poc_ctas")
        tracer.wrap(RunLog, "flush", "runlog.flush")


WORKLOADS = {w.name: w for w in (EagerOperators, BarEtl)}


def prepare(name: str, work: str, seed: int) -> None:
    """Write one workload's inputs and oracle answers; run in a child process."""
    WORKLOADS[name](work, seed).prepare()

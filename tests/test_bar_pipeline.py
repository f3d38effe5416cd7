"""End-to-end reference-parity pipeline (SURVEY.md §3.1-§3.4) on Family-B
fixtures: full load, PoC semantics, incremental idempotence, strict-`>`
watermark, §3.4 ordering fix."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from cocktailsdb_spark.plans import bar_pipeline
from cocktailsdb_spark.sources.http_source import fake_transport
from cocktailsdb_spark.sources.watermark import WatermarkStore


@pytest.fixture(scope="module")
def built(spark, bar_fixtures, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bar_db"))
    poc = bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        bar_fixtures["budapest"],
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    return base, poc


def test_full_load_counts(spark, built):
    base, _ = built
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    assert sales.count() == 20 + 15 + 11  # budapest + london + ny(+pinned)
    stock = spark.read.parquet(os.path.join(base, "bar_stock"))
    assert stock.count() == 15
    # P4: '34 glasses' cleaned to 34
    assert stock.filter((stock.bar == "new york") & (stock.glassType == "highball glass")).first()["stock"] == 34


def test_conformed_lowercase_and_types(spark, built):
    base, _ = built
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    assert dict(sales.dtypes)["price"] == "double"
    mixed = sales.filter(F.col("drink") != F.lower("drink")).count()
    assert mixed == 0  # P7 applied
    assert set(r["bar"] for r in sales.select("bar").distinct().collect()) == {
        "budapest",
        "london",
        "new york",
    }


def test_poc_semantics(built):
    _, poc = built
    assert set(poc.columns) == {
        "dayOfSale", "drink", "price", "bar", "strGlass", "drinkCount", "stock", "comment",
    }
    rows = poc.collect()
    assert rows
    for r in rows:
        if r["stock"] is None:
            assert r["comment"] is None  # null-guarded CASE (poc_tables.sql:26-29)
        elif r["drinkCount"] < r["stock"]:
            assert r["comment"] == "NO ISSUE"
        else:
            assert r["comment"] == "POTENTIAL ISSUE"


def test_run_history_records_stages(spark, built):
    """Run logging (reference build_database.py:9-25 / logs/drinks_db.log):
    every pipeline stage lands in the run_history control table with ok
    status and a consistent run_id."""
    from cocktailsdb_spark.runlog import RunLog

    base, _ = built
    hist = RunLog.history(spark, os.path.join(base, "run_history"))
    rows = hist.collect()
    assert rows
    runs = {}
    for r in rows:
        runs.setdefault(r["run_id"], []).append(r)
    full_runs = [
        sorted(v, key=lambda r: r["seq"])
        for v in runs.values()
        if len(v) >= 5  # a full (non-short-circuit) build
    ]
    assert full_runs
    stages = [r["stage"] for r in full_runs[0]]
    assert stages == ["sales_data", "bar_data", "cocktail_dim", "sinks", "poc_ctas"]
    assert all(r["status"] == "ok" for r in full_runs[0])
    assert all(r["finished_at"] >= r["started_at"] for r in full_runs[0])


def test_poc_ctas_registered_in_catalog(spark, built):
    """S8 — poc_analysis is a real catalog table (CTAS + overwrite), and
    the returned DataFrame IS that table."""
    base, poc = built
    db = bar_pipeline.bar_db_name(base)
    for t in ("global_sales", "bar_stock", "cocktails", "poc_analysis"):
        assert spark.catalog.tableExists(f"{db}.{t}"), t
    tbl = spark.table(f"{db}.poc_analysis")
    assert sorted(tbl.columns) == sorted(poc.columns)
    assert tbl.count() == poc.count()


def test_query_cocktail_data_caps_key_collect(spark):
    """A silently-grown drink dimension must raise the named bounded_keys
    error instead of collecting an unbounded key list to the driver."""
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from cocktailsdb_spark.sources.http_source import MAX_DRIVER_KEYS

    big = spark.range(MAX_DRIVER_KEYS + 1).select(
        _F.concat(_F.lit("drink_"), _F.col("id").cast("string")).alias("drink")
    )
    with _pytest.raises(ValueError, match="fetch_distributed"):
        bar_pipeline.query_cocktail_data(spark, big, transport=fake_transport)


def test_cocktails_latest_wins(spark, built):
    base, _ = built
    cocktails = spark.read.parquet(os.path.join(base, "cocktails"))
    # fake transport emits 2 records per key; latest-wins keeps the newer
    assert cocktails.filter(F.col("dateModified") != "2021-01-02 10:00:00").count() == 0
    assert cocktails.groupBy("idDrink").count().filter("count > 1").count() == 0


def test_incremental_rerun_loads_zero(spark, built, bar_fixtures):
    base, _ = built
    before = spark.read.parquet(os.path.join(base, "global_sales")).count()
    bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        bar_fixtures["budapest"],
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    after = spark.read.parquet(os.path.join(base, "global_sales")).count()
    assert after == before  # strict-> watermark: unchanged inputs load 0 rows


def test_strict_gt_watermark_new_rows_only(spark, built, bar_fixtures, tmp_path):
    """A third run with ONE new row (plus a duplicate of the max-ts row,
    which sits exactly AT the mark and must be excluded) loads exactly 1."""
    base, _ = built
    store = WatermarkStore(os.path.join(base, "last_update"))
    marks = store.read(spark)
    assert "budapest" in marks

    newer = tmp_path / "budapest2.csv.gz"
    max_iso = marks["budapest"].strftime("%Y-%m-%d %H:%M:%S")
    with gzip.open(newer, "wt") as f:
        f.write(",TS,ital,költség\n")
        f.write(f"0,{max_iso},Mojito,3.5\n")  # AT the mark → excluded
        f.write("1,2020-12-27 09:00:00,Spritz,6.0\n")  # after → loaded
    before = spark.read.parquet(os.path.join(base, "global_sales")).count()
    bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        str(newer),
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    after = spark.read.parquet(os.path.join(base, "global_sales")).count()
    assert after == before + 1
    assert store.read(spark)["budapest"].strftime("%Y-%m-%d %H:%M:%S") == "2020-12-27 09:00:00"
    # dim maintenance: the incremental slice only contained 'spritz', but
    # the cocktails dim keeps earlier drinks (latest-wins MERGE, not a
    # wipe-and-replace from the slice)
    cocktails = spark.read.parquet(os.path.join(base, "cocktails"))
    kept = {r["strDrink"] for r in cocktails.select("strDrink").collect()}
    assert "mojito" in kept and "spritz" in kept
    assert cocktails.groupBy("idDrink").count().filter("count > 1").count() == 0


def test_sales_marks_in_one_grouped_job(spark, bar_fixtures):
    """All three sources' new marks come from one grouped collect (AQE
    runs it as a shuffle-map job plus a result job); a per-source loop
    would launch two jobs per source."""
    sc = spark.sparkContext
    sc.setJobGroup("process_sales_data", "process_sales_data")
    try:
        _, marks = bar_pipeline.process_sales_data(
            spark, bar_fixtures["budapest"], bar_fixtures["london"],
            bar_fixtures["ny"], {},
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(marks) == set(bar_pipeline.SOURCE_BARS)
    assert len(sc.statusTracker().getJobIdsForGroup("process_sales_data")) == 2


def test_first_run_on_empty_sources(spark, bar_fixtures, tmp_path):
    """Header-only inputs: the first run writes empty tables and an empty
    but readable control table. Empty marks never short-circuit, so the
    next run loads every row that arrived since."""
    empty = {}
    for key, header in (
        ("budapest", ",TS,ital,költség\n"),
        ("london", ""),  # headerless TSV: no header, no rows
        ("ny", ",time,drink,amount\n"),
    ):
        path = tmp_path / f"{key}.csv.gz"
        with gzip.open(path, "wt") as f:
            f.write(header)
        empty[key] = str(path)
    base = str(tmp_path / "bar_db")

    def build(src):
        return bar_pipeline.build_database(
            spark, base, bar_fixtures["bar_data"], src["budapest"], src["london"],
            src["ny"], transport=fake_transport,
        )

    assert build(empty).count() == 0
    store = WatermarkStore(os.path.join(base, "last_update"))
    assert os.path.isdir(store.path)
    assert store.read(spark) == {}
    assert spark.read.parquet(os.path.join(base, "global_sales")).count() == 0

    assert build(bar_fixtures).count() > 0
    assert spark.read.parquet(os.path.join(base, "global_sales")).count() == 20 + 15 + 11
    assert set(store.read(spark)) == set(bar_pipeline.SOURCE_BARS)

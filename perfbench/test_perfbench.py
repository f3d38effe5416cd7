"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import gzip
import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen_bar, gen_star, metrics, stats  # noqa: E402
from perfbench.workloads import BarEtl, compare  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


def test_bar_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        gen_bar.generate(d, seed, base_rows=300, slice_rows=40, n_slices=2)
    assert _files(a) == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
    assert mismatch  # another seed, other inputs


def test_bar_slices_grow_strictly_after_the_previous_mark(tmp_path):
    out = gen_bar.generate(str(tmp_path), 3, base_rows=200, slice_rows=30, n_slices=3)
    prev_rows, prev_max = None, None
    for snap in out["slices"]:
        with gzip.open(snap["new york"], "rt", encoding="utf-8") as f:
            rows = f.read().splitlines()[1:]  # header dropped
        stamps = [pd.to_datetime(r.split(",")[1], format="%m-%d-%Y %H:%M") for r in rows]
        if prev_rows is not None:
            assert rows[:len(prev_rows)] == prev_rows  # a snapshot keeps history
            assert min(stamps[len(prev_rows):]) > prev_max  # strict > admits all
        prev_rows, prev_max = rows, max(stamps)
    with open(out["bar_data"], encoding="utf-8") as f:
        stock = f.read().splitlines()
    assert stock[0] == "glass_type,stock,bar" and len(stock) == 1 + 31 * 3
    assert "highball glass,34 glasses,new york" in stock


def test_star_generator_is_byte_identical(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    counts = gen_star.generate(a, 0.001, 42)
    gen_star.generate(b, 0.001, 42)
    names = _files(a)
    assert len(names) == 10 and counts["lineitem"] == 6000
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    # one document in 20 is a near-duplicate: another one's text plus "dup"
    texts = pd.read_parquet(os.path.join(a, "documents.parquet"))["text"]
    assert texts.str.endswith(" dup").sum() == counts["documents"] // 20


def test_substituted_oracle_reads_only_generated_files(tmp_path):
    from cocktailsdb_spark.plans import reference_parity as rp

    wl = BarEtl(str(tmp_path), seed=1)
    wl.inputs = gen_bar.generate(str(tmp_path / "in"), 1, 100, 10, 1)
    for k in range(2):
        sql = wl._oracle_sql(k)
        assert rp.REF_DATA not in sql
        for path in wl.inputs["slices"][k].values():
            assert f"'{path}'" in sql
        assert f"'{wl.inputs['bar_data']}'" in sql


def test_compare_is_hash_exact_and_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare(a, a.iloc[::-1][["v", "k"]]) is None
    assert compare(a, a.assign(v=[0.5, 1.5000001])) == "values differ"
    assert compare(a, a.astype({"k": float})) == "values differ"  # int vs float
    assert compare(a, a.iloc[:1]).startswith("rows")


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = stats.tail(values)
    assert sum(v > value for v in values) == 10 and value == 30.0
    assert (pct, n) == (75.0, 40)
    assert stats.tail(values[:11])[0] == 1.0
    with pytest.raises(ValueError):
        stats.tail(values[:10])


def test_metric_names_units_and_counts():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers] + list(metrics.E2E_EXTRA)
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.fullmatch(name), name
    for unit in [m["unit"] for m in e2e + layers] + list(metrics.E2E_EXTRA.values()):
        assert metrics.UNIT_RE.fullmatch(unit), unit
    # every layer metric names the end-to-end metric and workload it moves
    assert set(metrics.MOVES) == {m["name"] for m in layers}
    from perfbench.workloads import WORKLOADS

    for moves, workload in metrics.MOVES.values():
        assert moves in {*(m["name"] for m in e2e), *metrics.E2E_EXTRA}
        assert workload in WORKLOADS

"""Semantic edge-case tests for the relational/window operators and the
as-of / range joins — boundaries the sf-fixture oracle sweep may not hit
(equal-timestamp as-of ties, range-window endpoints, quantile index math,
set-op distinctness)."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cocktailsdb_spark.operators import events, relational  # noqa: E402


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )


TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731


def test_asof_inclusive_tie_and_latest_wins(spark):
    df = _events_df(
        spark,
        [
            (1, 7, TS("2024-01-01 10:00:00"), "signup"),
            (2, 7, TS("2024-01-01 10:00:00"), "signup"),  # same ts: max id wins
            (3, 7, TS("2024-01-01 10:00:00"), "purchase"),  # tie → inclusive
            (4, 7, TS("2024-01-01 09:00:00"), "purchase"),  # before any signup
            (5, 8, TS("2024-01-02 00:00:00"), "purchase"),  # user with no signup
        ],
    )
    got = {
        r["purchase_id"]: r["signup_id"]
        for r in events.asof_latest(df).collect()
    }
    assert got == {3: 2, 4: None, 5: None}


def test_range_join_boundaries(spark):
    base = TS("2024-01-01 10:00:00")
    df = _events_df(
        spark,
        [
            (1, 1, base, "error"),
            (2, 1, base - dt.timedelta(seconds=300), "click"),  # == lower bound: in
            (3, 1, base - dt.timedelta(seconds=301), "click"),  # below: out
            (4, 1, base, "click"),  # == anchor ts: out (strict <)
            (5, 1, base - dt.timedelta(seconds=1), "click"),  # in
            (6, 2, base - dt.timedelta(seconds=10), "click"),  # other user: out
        ],
    )
    rows = events.range_join_count(df).collect()
    assert len(rows) == 1 and rows[0]["n_recent"] == 2


def test_set_ops_distinct_semantics(spark):
    o = spark.createDataFrame(
        [
            (1, 10, TS("1996-02-01")),
            (2, 10, TS("1996-03-01")),  # duplicate 1996 customer → one output row
            (3, 10, TS("1997-02-01")),
            (4, 11, TS("1996-06-01")),
            (5, 12, TS("1997-06-01")),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    inter = relational.years_active(o, 1996, 1997, "intersect").collect()
    assert [r["custkey"] for r in inter] == [10]
    exc = relational.years_active(o, 1996, 1997, "except").collect()
    assert [r["custkey"] for r in exc] == [11]


def test_quantile_disc_picks_exact_elements(spark):
    # 11 rows 0..1000: p50 = element at floor(.5*10)+1 = rank 6 → 500,
    # p90 = rank floor(.9*10)+1 = 10 → 900
    o = spark.createDataFrame(
        [(i, "P", float(i * 100)) for i in range(11)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    row = relational.quantile_disc(o, qs=(0.5, 0.9)).collect()[0]
    assert row["p50"] == 500.0 and row["p90"] == 900.0


def test_stats_moments_matches_closed_form(spark, sf_dir):
    from cocktailsdb_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    got = {r["l_returnflag"]: r for r in relational.stats_moments(li).collect()}
    import statistics

    pdf = li.select("l_returnflag", "l_quantity").toPandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        xs = grp["l_quantity"].tolist()
        assert abs(got[flag]["mean_qty"] - statistics.fmean(xs)) < 1e-9
        assert abs(got[flag]["var_qty"] - statistics.variance(xs)) < 1e-6


def test_cube_has_all_grouping_sets(spark, sf_dir):
    from cocktailsdb_spark.tables import load

    out = relational.cube_revenue(load(spark, sf_dir, "lineitem")).collect()
    levels = {(r["g_rf"], r["g_ls"]) for r in out}
    assert levels == {(0, 0), (0, 1), (1, 0), (1, 1)}
    grand = [r for r in out if (r["g_rf"], r["g_ls"]) == (1, 1)]
    assert len(grand) == 1
    assert grand[0]["n"] == sum(r["n"] for r in out if (r["g_rf"], r["g_ls"]) == (0, 0))


def test_ewma_hand_computed(spark):
    from cocktailsdb_spark.operators import relational

    # constant revenue → ewma equals the constant regardless of weights
    rows = [(i, f"2024-01-{i:02d}", 100.0) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_orderdate string, o_totalprice double")
    out = relational.ewma_daily_revenue(df).collect()
    assert all(r["ewma"] == 100.0 for r in out)
    # two-day ramp: day2 ewma = (200 + 0.8*100) / 1.8
    df2 = spark.createDataFrame(
        [(1, "2024-01-01", 100.0), (2, "2024-01-02", 200.0)],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    )
    out2 = {r["day"]: r["ewma"] for r in relational.ewma_daily_revenue(df2).collect()}
    assert out2["2024-01-01"] == 100.0
    assert abs(out2["2024-01-02"] - (200 + 0.8 * 100) / 1.8) < 1e-3


def test_groupwise_linreg_recovers_exact_line(spark):
    from cocktailsdb_spark.operators import relational

    # y = 3x + 7 exactly → slope 3, intercept 7, r2 = 1 per group
    rows = [("A", float(x), 3.0 * x + 7.0) for x in range(1, 6)] + [
        ("B", float(x), -2.0 * x + 1.0) for x in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity double, l_extendedprice double")
    out = {r["grp"]: r for r in relational.groupwise_linreg(df).collect()}
    assert out["A"]["slope"] == 3.0 and out["A"]["intercept"] == 7.0
    assert out["A"]["r2"] == 1.0
    assert out["B"]["slope"] == -2.0 and out["B"]["intercept"] == 1.0


def test_gapfill_locf_semantics(spark):
    import datetime as dt

    rows = [
        # series A: days 1,2,4,7 present (gaps 3,5,6)
        ("A", dt.datetime(2024, 1, 1), 10.0),
        ("A", dt.datetime(2024, 1, 2), 20.0),
        ("A", dt.datetime(2024, 1, 4), 40.0),
        ("A", dt.datetime(2024, 1, 7), 70.0),
        # two orders one day: summed
        ("A", dt.datetime(2024, 1, 2), 5.0),
        # series B: single day
        ("B", dt.datetime(2024, 2, 1), 1.0),
    ]
    orders = spark.createDataFrame(
        rows, "o_orderpriority string, o_orderdate timestamp, o_totalprice double"
    )
    got = {
        (r.series, r.day): (r.revenue_filled, r.is_gap)
        for r in relational.gapfill_locf(orders).collect()
    }
    assert len(got) == 7 + 1  # A spans 7 days, B spans 1
    assert got[("A", "2024-01-02")] == (25.0, False)
    assert got[("A", "2024-01-03")] == (25.0, True)  # LOCF from day 2
    assert got[("A", "2024-01-05")] == (40.0, True)
    assert got[("A", "2024-01-06")] == (40.0, True)
    assert got[("A", "2024-01-07")] == (70.0, False)
    assert got[("B", "2024-02-01")] == (1.0, False)


def _brute_skyline(pts):
    out = []
    for p in pts:
        dominated = any(
            q[1] <= p[1] and q[0] >= p[0] and (q[1] < p[1] or q[0] > p[0])
            for q in pts
        )
        if not dominated:
            out.append(p)
    return sorted(set(out))


def test_skyline_parts_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randint(1, 12), float(rng.randint(100, 999)))
        for i in range(400)
    ]
    part = spark.createDataFrame(
        rows, "p_partkey long, p_size int, p_retailprice double"
    )
    got = sorted(
        (r.p_size, r.p_retailprice) for r in relational.skyline_parts(part).collect()
    )
    expect = _brute_skyline(sorted({(s, p) for _, s, p in rows}))
    assert got == expect
    # frontier is a strictly decreasing price / increasing size chain
    for (s1, p1), (s2, p2) in zip(got, got[1:]):
        assert s1 < s2 and p1 < p2


def test_cusum_changepoint_mean_shift(spark):
    import datetime as dt

    rows = [
        ("X", dt.datetime(2024, 1, d), 10.0) for d in range(1, 7)
    ] + [
        ("X", dt.datetime(2024, 1, d), 50.0) for d in range(7, 13)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderpriority string, o_orderdate timestamp, o_totalprice double"
    )
    [r] = relational.cusum_changepoint(orders).collect()
    # mean = 30; pre-shift days accumulate -20 each -> |cusum| peaks at the
    # last pre-change day, and the negative pivot means the level went UP
    assert r.series == "X"
    assert r.cp_day == "2024-01-06"
    assert r.cusum == -120.0
    assert r.direction == "up"


def test_gapfill_interpolate_semantics(spark):
    import datetime as dt

    rows = [
        ("A", dt.datetime(2024, 1, 1), 10.0),
        ("A", dt.datetime(2024, 1, 4), 40.0),  # gap days 2,3 interpolate
        ("A", dt.datetime(2024, 1, 6), 10.0),  # gap day 5 interpolates down
    ]
    orders = spark.createDataFrame(
        rows, "o_orderpriority string, o_orderdate timestamp, o_totalprice double"
    )
    got = {
        r.day: (r.revenue_interp, r.is_gap)
        for r in relational.gapfill_interpolate(orders).collect()
    }
    assert got["2024-01-02"] == (20.0, True)
    assert got["2024-01-03"] == (30.0, True)
    assert got["2024-01-04"] == (40.0, False)
    assert got["2024-01-05"] == (25.0, True)
    assert got["2024-01-06"] == (10.0, False)


def test_asof_next_forward_tolerance(spark):
    import datetime as dt

    from cocktailsdb_spark.operators import events as E

    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)
    rows = [
        # user 1: purchase at :10 -> errors at :10 (same-ts, inclusive,
        # min event_id wins the tie) and :20
        (1, t(10), 1, "purchase", 1.0, None),
        (2, t(10), 1, "error", 1.0, None),
        (3, t(10), 1, "error", 1.0, None),
        (4, t(20), 1, "error", 1.0, None),
        # user 2: purchase at :10, error only BEFORE it -> no match
        (5, t(10), 2, "purchase", 1.0, None),
        (6, t(5), 2, "error", 1.0, None),
        # user 3: error beyond tolerance -> NULL match but row kept
        (7, t(0), 3, "purchase", 1.0, None),
        (8, t(59), 3, "error", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.purchase_id: r for r in E.asof_next(ev, tolerance_sec=1800).collect()}
    assert len(out) == 3
    assert out[1].next_id == 2            # same-ts inclusive, event_id tie -> 2
    assert out[5].next_id is None         # only earlier errors
    assert out[7].next_id is None         # beyond 30min tolerance


def test_incremental_join_mv_all_quadrants(spark):
    # orders split by cutoff date, customers split by custkey%50 — make
    # sure every quadrant (old×old, new×old, old×new, new×new) is hit and
    # the delta-maintained view equals the direct recompute
    orders = spark.createDataFrame(
        [
            (1, 100, "1997-06-01", 10.0),   # old order, old cust
            (2, 100, "1998-02-01", 20.0),   # new order, old cust
            (3, 50, "1997-06-01", 40.0),    # old order, delta cust
            (4, 50, "1998-02-01", 80.0),    # new order, delta cust
        ],
        "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    customer = spark.createDataFrame(
        [(100, "AUTO"), (50, "BUILDING")],
        "c_custkey long, c_mktsegment string",
    )
    got = {
        r.c_mktsegment: (r.revenue, r.n_orders)
        for r in relational.incremental_join_mv(orders, customer).collect()
    }
    assert got == {"AUTO": (30.0, 2), "BUILDING": (120.0, 2)}


def test_mad_outliers_hampel(spark):
    # 11 values: 10 around 100 (med=100, MAD small) plus one wild 10000
    vals = [98.0, 99.0, 99.5, 100.0, 100.5, 101.0, 101.5, 102.0, 97.0, 103.0, 10000.0]
    df = spark.createDataFrame(
        [(i, "P", v) for i, v in enumerate(vals)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    r = relational.mad_outlier_report(df).collect()[0]
    assert r.n == 11 and r.med == 100.5 and r.mad == 1.5
    assert r.n_outliers == 1  # only the 10000


def test_spearman_perfect_monotone_and_ties(spark):
    # y = x^3 is monotone in x -> rho = 1 even though Pearson < 1;
    # add a tie pair to exercise average ranks
    rows = [(i, "A", float(v), float(v) ** 3) for i, v in enumerate([1, 2, 2, 3, 5, 8])]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double"
    )
    r = relational.spearman_rank_corr(df).collect()[0]
    assert r.n == 6 and abs(r.spearman_rho - 1.0) < 1e-9


def test_spearman_perfect_inverse(spark):
    rows = [(i, "A", float(i), float(-i)) for i in range(8)]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double"
    )
    r = relational.spearman_rank_corr(df).collect()[0]
    assert abs(r.spearman_rho + 1.0) < 1e-9


def test_quantile_two_pass_equals_naive_sort(spark):
    import random

    rng = random.Random(11)
    rows = []
    k = 0
    for g in ["A", "B", "C"]:
        for _ in range(500):
            k += 1
            # heavy ties + out-of-domain values (clamped into edge buckets)
            v = rng.choice([rng.uniform(-5.0, 700000.0), 250000.0, 250000.0])
            rows.append((k, g, float(v)))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    naive = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in relational.quantile_disc(df).collect()
    }
    fast = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in relational.quantile_two_pass(df).collect()
    }
    assert fast == naive


def test_quantile_two_pass_tiny_groups(spark):
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    out = {r.o_orderpriority: (r.p50, r.p90) for r in relational.quantile_two_pass(df).collect()}
    # n=2: p50 idx floor(.5*1)+1=1 -> 10; p90 idx floor(.9)+1=1 -> 10
    assert out["A"] == (10.0, 10.0)
    assert out["B"] == (5.0, 5.0)


def test_spearman_degenerate_group_is_null(spark):
    # constant quantity -> no rank variance -> NULL rho, never NaN/0.0
    rows = [(i, "A", 5.0, float(i)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double"
    )
    r = relational.spearman_rank_corr(df).collect()[0]
    assert r.spearman_rho is None


def test_winsorized_single_row_group_null_std(spark):
    df = spark.createDataFrame(
        [(1, "P", 10.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    r = relational.winsorized_stats(df).collect()[0]
    assert r.win_mean == 10.0 and r.win_std is None


def test_frequent_pairs_support_and_lift(spark):
    # pair (1,2) in 3 of 4 baskets; item 9 alone
    rows = []
    for o, parts in [(1, [1, 2]), (2, [1, 2]), (3, [1, 2, 9]), (4, [9])]:
        rows += [(o, p) for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = relational.frequent_itemset_pairs(li, min_support=2, top_n=5).collect()
    top = out[0]
    assert (top.part_a, top.part_b, top.support) == (1, 2, 3)
    # lift = (3/4) / ((3/4)*(3/4)) = 4/3
    assert abs(top.lift - round(4 / 3, 4)) < 1e-3


def test_chisq_zero_under_perfect_independence(spark):
    import datetime as dt

    # perfectly balanced priority x quarter grid -> chi2 == 0, dof = 1
    rows = []
    k = 0
    for pr in ["A", "B"]:
        for month in [2, 5]:
            for _ in range(10):
                k += 1
                rows.append((k, pr, dt.date(1997, month, 1)))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderdate date"
    )
    r = relational.chisq_contingency(df).collect()[0]
    assert (r.n, r.dof, r.chi2) == (40, 1, 0.0)


def test_chisq_zero_cell_contributes_expected(spark):
    import datetime as dt

    # priority B absent in Q2 entirely: the zero cell must contribute E
    rows = []
    k = 0
    for pr, month, n in [("A", 2, 10), ("A", 5, 10), ("B", 2, 10)]:
        for _ in range(n):
            k += 1
            rows.append((k, pr, dt.date(1997, month, 1)))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderdate date"
    )
    r = relational.chisq_contingency(df).collect()[0]
    # hand-computed: E grid rows: A-Q1 40/3... marginals: rowA=20,rowB=10,
    # colQ1=20,colQ2=10,n=30 -> E(A,2)=20*20/30=13.33,E(A,5)=6.67,
    # E(B,2)=6.67,E(B,5)=3.33 ; chi2=sum((O-E)^2/E)=
    # (10-13.33)^2/13.33+(10-6.67)^2/6.67+(10-6.67)^2/6.67+(0-3.33)^2/3.33
    exp = (10 - 40 / 3) ** 2 / (40 / 3) + (10 - 20 / 3) ** 2 / (20 / 3) * 2 + (10 / 3)
    assert abs(r.chi2 - round(exp, 6)) < 1e-3
    assert r.dof == 1


def test_yoy_gap_month_yields_null_not_misalignment(spark):
    import datetime as dt

    # monthly revenue 1995 full, 1996 missing March: 1996-04 must compare
    # against 1995-04, and 1997-03 must be NULL (no 1996-03 twin)
    rows = []
    k = 0
    for y in (1995, 1996, 1997):
        for m in range(1, 13):
            if (y, m) == (1996, 3):
                continue
            k += 1
            rows.append((k, dt.date(y, m, 15), 100.0 * y))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    out = {r.month: r for r in relational.yoy_revenue_growth(df).collect()}
    assert out["1996-04"].yoy_pct is not None      # aligned despite the gap
    assert out["1997-03"].yoy_pct is None          # missing twin -> NULL


def test_range_frame_correct_under_gaps(spark):
    import datetime as dt

    # days 1,2,10: day 10's trailing week must be 0 (gap), not the
    # previous-2-rows sum a ROWS frame would give
    rows = [
        (1, "P", dt.date(1997, 1, 1), 100.0),
        (2, "P", dt.date(1997, 1, 2), 200.0),
        (3, "P", dt.date(1997, 1, 10), 400.0),
        (4, "P", dt.date(1997, 1, 12), 800.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderdate date, o_totalprice double"
    )
    out = {r.day: r.trailing_week for r in relational.rolling_range_revenue(df).collect()}
    assert out["1997-01-02"] == 100.0
    assert out["1997-01-10"] == 0.0     # gap: nothing in the prior 7 days
    assert out["1997-01-12"] == 400.0   # only day 10 in range


def _orders_df(spark, rows):
    return spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date, o_totalprice double"
    )


def test_rfm_scaled_cutoffs_are_exact_order_statistics(spark):
    """The histogram-narrowed cutoffs must equal the naive k-th order
    statistic (k = floor(q·(n−1))+1) per dimension — including values that
    clamp outside the fixed histogram domains (freq domain tops at 64;
    customer 99 has 80 orders)."""
    import datetime as dt
    import random

    rng = random.Random(7)
    rows = []
    for cust in range(100):
        n_orders = 80 if cust == 99 else rng.randint(1, 12)
        for _ in range(n_orders):
            day = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randint(0, 5000))
            rows.append((cust, day, round(rng.uniform(10.0, 900000.0), 2)))
    orders = _orders_df(spark, rows)
    census = {
        r.segment: r.n_customers
        for r in relational.rfm_segments_scaled(orders).collect()
    }
    assert sum(census.values()) == 100
    # naive reimplementation of the same cutoff-scoring semantics
    per = relational._rfm_customer_frame(orders).collect()
    n = len(per)

    def cuts(vals):
        s = sorted(vals)
        return [s[int(q * (n - 1)) + 1 - 1] for q in relational.RFM_QS]

    rc = cuts([float(r.recency_days) for r in per])
    fc = cuts([float(r.freq) for r in per])
    mc = cuts([r.monetary for r in per])
    expect: dict[str, int] = {}
    for r in per:
        sr = 5 - sum(float(r.recency_days) > c for c in rc)
        sf_ = 1 + sum(float(r.freq) > c for c in fc)
        sm = 1 + sum(r.monetary > c for c in mc)
        seg = f"{sr}-{sf_}-{sm}"
        expect[seg] = expect.get(seg, 0) + 1
    assert census == expect


def test_rfm_scaled_ties_score_equally_and_plan_is_partitioned(spark):
    """Cutoff scoring is order-insensitive: equal values always land in
    the same quintile (exact ntile splits them) — and the plan must
    contain no unpartitioned window."""
    import datetime as dt

    # 10 customers with IDENTICAL (recency, freq, monetary)
    rows = [
        (c, dt.date(1997, 6, 1), 1000.0)
        for c in range(10)
    ]
    orders = _orders_df(spark, rows)
    out = relational.rfm_segments_scaled(orders).collect()
    assert len(out) == 1 and out[0].n_customers == 10

    from tools.plan_audit import fmt_plan

    plan = fmt_plan(relational.rfm_segments_scaled(orders))
    assert "hashpartitioning(dim" in plan
    # the one SinglePartition exchange is the 1-row cutoff scalar agg, not
    # a window requirement
    assert plan.count("SinglePartition") <= 1


def _assert_matches_oracle(got, name, **tables):
    """``got`` must equal entry ``name``'s registered DuckDB oracle run
    over the same input frames (each keyword is registered as a table),
    under the selfcheck's value normalization — an implementation-
    independent reference for the histogram-narrowed plans."""
    import duckdb

    from cocktailsdb_spark.registry import ORACLES
    from tools.selfcheck import normalize

    con = duckdb.connect()
    for table, df in tables.items():
        con.register(table, df.toPandas())
    want = con.execute(ORACLES[name]).df()
    got = got.toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) and len(got) > 0
    assert normalize(got) == normalize(want)


def test_winsorized_scaled_equals_exact(spark):
    import random

    rng = random.Random(23)
    rows = []
    k = 0
    for g in ["A", "B", "C"]:
        for _ in range(400):
            k += 1
            # ties + out-of-domain values (clamp into edge buckets)
            v = rng.choice([rng.uniform(-10.0, 700000.0), 1234.56, 1234.56])
            rows.append((k, g, float(v)))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    _assert_matches_oracle(
        relational.winsorized_stats(df), "winsorized_stats", orders=df
    )


def test_spearman_scaled_equals_exact_with_ties(spark):
    import random

    rng = random.Random(31)
    rows = []
    for g in ["N", "R"]:
        for _ in range(600):
            # heavy ties in x (quantity-like), some ties in y
            x = float(rng.randint(1, 12))
            y = rng.choice([x * 100 + rng.randint(0, 5), 250.0])
            rows.append((g, x, float(y)))
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    _assert_matches_oracle(
        relational.spearman_rank_corr(df), "spearman_rank_corr", lineitem=df
    )


def test_spearman_scaled_degenerate_constant_column_null(spark):
    df = spark.createDataFrame(
        [("N", 5.0, 1.0), ("N", 5.0, 2.0), ("N", 5.0, 3.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    out = relational.spearman_rank_corr(df).collect()
    assert len(out) == 1 and out[0].spearman_rho is None


def test_scaled_stats_plans_have_no_single_partition_exchange(spark, sf_dir):
    """The whole point of the histogram-narrowed stats plans: no stage
    anywhere in the plan funnels data through one partition. Both
    registry names of each pair are checked."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from __spark_entry__ import queries
    from tools.plan_audit import fmt_plan

    for name in (
        "spearman_rank_corr",
        "spearman_rank_corr_scaled",
        "winsorized_stats",
        "winsorized_stats_scaled",
    ):
        plan = fmt_plan(queries()[name](spark, sf_dir))
        assert "SinglePartition" not in plan, name
        assert "hashpartitioning(" in plan, name


def _ab_orders(spark, a_vals, b_vals, other=()):
    rows = (
        [("1-URGENT", float(v)) for v in a_vals]
        + [("5-LOW", float(v)) for v in b_vals]
        + [("3-MEDIUM", float(v)) for v in other]
    )
    return spark.createDataFrame(
        [(i, p, v) for i, (p, v) in enumerate(rows)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )


def test_welch_ttest_matches_closed_form(spark):
    """Welch t and Welch–Satterthwaite dof against the straight textbook
    formulas on a small unequal-variance pair of samples (third-priority
    rows must be ignored)."""
    import math

    a = [10.0, 12.0, 9.5, 11.0, 10.5, 13.0]
    b = [8.0, 7.5, 9.0, 6.0]
    out = relational.welch_ttest(_ab_orders(spark, a, b, other=[99.0])).collect()[0]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert (out.n_a, out.n_b) == (na, nb)
    assert abs(out.mean_a - ma) < 1e-6 and abs(out.mean_b - mb) < 1e-6
    assert abs(out.t_stat - t) < 1e-5
    assert abs(out.dof - dof) < 1e-3
    assert out.t_stat > 0  # a clearly above b


def test_mann_whitney_matches_bruteforce_with_ties(spark):
    """U from the O(n²) pair definition (wins + half-ties) on a sample
    with cross-group ties, plus the tie-corrected z denominator."""
    import math
    from collections import Counter

    a = [5.0, 7.0, 7.0, 9.0, 12.0]
    b = [4.0, 7.0, 8.0, 9.0, 9.0, 15.0]
    out = relational.mann_whitney_u(_ab_orders(spark, a, b)).collect()[0]
    u_a = sum(
        1.0 if x > y else 0.5 if x == y else 0.0 for x in a for y in b
    )
    na, nb = len(a), len(b)
    assert (out.n_a, out.n_b) == (na, nb)
    assert out.u_a == u_a
    assert out.u_b == na * nb - u_a
    n = na + nb
    ties = sum(t**3 - t for t in Counter(a + b).values())
    sig = math.sqrt(na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1))))
    z = (u_a - na * nb / 2.0) / sig
    assert abs(out.z_score - z) < 1e-5


def test_mann_whitney_bucket_boundary_values(spark):
    """Values landing exactly on bucket edges (0, width, 2·width) must
    rank correctly across the bucketed prefix-sum pass."""
    w = relational.MW_BUCKET_WIDTH
    a = [0.0, w, 2 * w]
    b = [w / 2, w, 3 * w]
    out = relational.mann_whitney_u(_ab_orders(spark, a, b)).collect()[0]
    u_a = sum(
        1.0 if x > y else 0.5 if x == y else 0.0 for x in a for y in b
    )
    assert out.u_a == u_a and out.u_b == len(a) * len(b) - u_a


def test_segment_percentiles_scaled_equals_exact(spark):
    """Histogram narrowing must reproduce the oracle's full-sort ceil(q*n)
    pick — including ties and values outside the fixed domain (clamped
    into edge buckets)."""
    import random

    rng = random.Random(41)
    rows = []
    k = 0
    for seg in ["AUTOMOBILE", "BUILDING", "MACHINERY"]:
        for _ in range(500):
            k += 1
            v = rng.choice([rng.uniform(-500.0, 700000.0), 4321.99, 4321.99])
            rows.append((k, k % 37, seg, float(v)))
    orders = spark.createDataFrame(
        [(a, b, v) for a, b, _, v in rows],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(b, seg) for _, b, seg, _ in rows],
        "c_custkey long, c_mktsegment string",
    ).dropDuplicates(["c_custkey"])
    _assert_matches_oracle(
        relational.segment_percentiles(orders, customer),
        "segment_percentiles",
        orders=orders,
        customer=customer,
    )


def test_weighted_percentiles_scaled_equals_exact(spark):
    """The bucket-prefix DECIMAL decomposition must reproduce the
    oracle's global running-sum cw >= q*tw crossing value — ties,
    fractional weights, and out-of-domain prices included, plus a brand
    whose distinct prices all share one bucket, so every q crosses in
    the same bucket."""
    import random

    rng = random.Random(43)
    li, pt = [], []
    for pk in range(40):
        pt.append((pk, f"Brand#{pk % 5}"))
    pt.append((40, "Brand#narrow"))
    k = 0
    for _ in range(3000):
        k += 1
        pk = rng.randrange(40)
        v = rng.choice([rng.uniform(100.0, 120000.0), 555.5, 555.5])
        w = float(rng.randint(1, 50))
        li.append((k, pk, float(v), w))
    for i in range(200):
        k += 1
        li.append((k, 40, 1010.0 + 0.4 * i, float(rng.randint(1, 50))))
    lineitem = spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_extendedprice double, l_quantity double"
    )
    part = spark.createDataFrame(pt, "p_partkey long, p_brand string")
    _assert_matches_oracle(
        relational.weighted_percentiles_by_brand(lineitem, part),
        "weighted_percentiles_by_brand",
        lineitem=lineitem,
        part=part,
    )


def test_percentile_scaled_plans_have_no_group_only_sort_window(spark, sf_dir):
    """The whole point of the histogram-narrowed percentile plans
    (VERDICT r8 task 2), under both registry names: no
    window/sort anywhere in the plan is partitioned by the bounded-
    cardinality group key ALONE (segment ~5, brand ~25 — at 100x each
    such task sorts a fixed fraction of the fact table). Every
    data-sized exchange must carry the bucket in its key; SinglePartition
    must not appear at all."""
    import re as _re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from __spark_entry__ import queries
    from tools.plan_audit import fmt_plan

    for name, group_key in (
        ("segment_percentiles", "c_mktsegment"),
        ("segment_percentiles_scaled", "c_mktsegment"),
        ("weighted_percentiles_by_brand", "p_brand"),
        ("weighted_percentiles_by_brand_scaled", "p_brand"),
    ):
        plan = fmt_plan(queries()[name](spark, sf_dir))
        assert "SinglePartition" not in plan, name
        # group-key-only hash exchange = the bounded-cardinality shuffle
        # the scaled form exists to eliminate (rangepartitioning for the
        # final presentation orderBy is fine — it carries pct too)
        assert not _re.search(
            rf"hashpartitioning\({group_key}#\d+, \d+\)", plan
        ), f"{name}: group-only exchange\n{plan}"
        assert _re.search(
            rf"hashpartitioning\({group_key}#\d+, bucket#\d+", plan
        ), f"{name}: expected (group, bucket) exchange"


def test_ipw_treatment_effect_matches_hand_computation(spark):
    """Two balanced strata with different propensities + one
    positivity-violating stratum (all treated — must be dropped and
    counted). IPW with exact stratified e(s) equals the hand-computed
    Hájek estimate."""
    li, pt = [], []
    # stratum A: e=0.5 (2 treated y=10,20; 2 control y=1,2)
    # stratum B: e=0.25 (1 treated y=40; 3 control y=4,5,6)
    # stratum C: all treated (dropped)
    rows = [
        ("A", True, 10.0), ("A", True, 20.0), ("A", False, 1.0), ("A", False, 2.0),
        ("B", True, 40.0), ("B", False, 4.0), ("B", False, 5.0), ("B", False, 6.0),
        ("C", True, 7.0), ("C", True, 8.0),
    ]
    for i, (s, t, y) in enumerate(rows):
        pt.append((i, s, "PROMO X" if t else "STD Y"))
        li.append((i, i, y, 0.0))
    lineitem = spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double"
    )
    part = spark.createDataFrame(pt, "p_partkey long, p_brand string, p_type string")
    out = relational.ipw_treatment_effect(lineitem, part).collect()[0]
    assert out.n_strata_total == 3 and out.n_strata_used == 2
    assert out.n_treated == 3 and out.n_control == 5
    # mu1 = (30/.5 + 40/.25) / (2/.5 + 1/.25) = 220/8 = 27.5
    # mu0 = (3/.5 + 15/.75) / (2/.5 + 3/.75) = 26/8 = 3.25
    assert out.mu_treated_ipw == 27.5
    assert out.mu_control_ipw == 3.25
    assert out.ate_ipw == 24.25


def test_theil_sen_ignores_single_outlier_day(spark):
    """y = 3x + 5 with one wild day: the median pairwise slope stays 3
    and the median residual stays 5 — the OLS-breaking case."""
    import datetime as dt

    rows = []
    for x in range(11):
        y = 3.0 * x + 5.0 if x != 10 else 100000.0
        rows.append((x, dt.date(1995, 1, 1) + dt.timedelta(days=x), y))
    orders = spark.createDataFrame(
        [(i, d, y) for i, d, y in rows],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    out = relational.theil_sen_trend(orders).collect()[0]
    assert out.n_days == 11 and out.n_pairs == 55
    assert out.slope_per_day == 3.0
    assert out.intercept == 5.0


def test_wasserstein_shifted_mass_equals_bin_width(spark):
    """Identical distributions -> 0; all mass shifted one $1000 bin ->
    exactly the bin width in dollars."""
    import datetime as dt

    rows = []
    k = 0
    for _ in range(50):
        k += 1
        rows.append((k, dt.date(1996, 3, 1), 1500.0))   # year A, bin 1
        k += 1
        rows.append((k, dt.date(1997, 3, 1), 2500.0))   # year B, bin 2
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    out = relational.wasserstein_price_drift(orders).collect()[0]
    assert out.n_a == 50 and out.n_b == 50
    assert out.w1_dollars == 1000.0

    same = spark.createDataFrame(
        [(i, dt.date(1996 + i % 2, 1, 5), 3500.0) for i in range(40)],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    out2 = relational.wasserstein_price_drift(same).collect()[0]
    assert out2.w1_dollars == 0.0


def test_nelson_aalen_hand_computed(spark):
    """4 customers, lifetimes 0,0,5,10; censor drops none: steps at
    t=0 (d=2,n=4), t=5 (d=1,n=2), t=10 (d=1,n=1):
    H = .5, .5+.5=1.0, 1.0+1.0=2.0 with 1e-9 quantization."""
    import datetime as dt

    rows = []
    k = 0
    for cust, life in ((1, 0), (2, 0), (3, 5), (4, 10)):
        for d in (0, life):
            k += 1
            rows.append((k, cust, dt.date(1996, 1, 1) + dt.timedelta(days=d), 100.0))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double"
    )
    out = {r.t_days: r for r in relational.nelson_aalen_hazard(orders).collect()}
    assert out[0].n_risk == 4 and out[0].d_events == 2
    assert out[0].cum_hazard == 0.5
    assert out[5].cum_hazard == 1.0
    assert out[10].cum_hazard == 2.0
    # Aalen variance: 2/16, +1/4, +1
    assert out[10].hazard_var == 0.125 + 0.25 + 1.0


def test_huber_location_downweights_outlier(spark):
    """Symmetric data: huber == mean. One wild order: the huber center
    stays near the bulk while the mean is dragged."""
    rows = [(i, "1-URGENT", 1000.0 + (i % 5)) for i in range(40)]
    rows.append((99, "1-URGENT", 900000.0))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    out = relational.huber_location(df).collect()[0]
    assert out.n_downweighted == 1
    assert out.huber_location < out.plain_mean
    assert out.huber_location < 30000  # near the bulk, not the mean (~23k)

    clean = spark.createDataFrame(
        rows[:40], "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    c = relational.huber_location(clean).collect()[0]
    assert c.huber_location == c.plain_mean and c.n_downweighted == 0


def test_signed_mag_bucket_monotone(spark):
    """r14 optimization invariant: the bucketed median's partition key
    must be monotone non-decreasing in the value — including sign
    changes, exact zero, decade boundaries, ties, and sub-1e-300 clamps
    — or the per-bucket prefix ranks stop being the global ranks."""
    vals = [
        float("-1e12"), -99999.5, -10000.0, -9999.9, -1000.0, -100.0,
        -99.9, -10.0, -9.99, -1.0, -0.5, -1e-3, -1e-9, -1e-301, -5e-324,
        0.0, 5e-324, 1e-301, 1e-9, 1e-3, 0.5, 1.0, 1.0, 9.99, 10.0,
        99.9, 100.0, 1000.0, 9999.9, 10000.0, 99999.5, float("1e12"),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = (
        df.select("v", relational._signed_mag_bucket(F.col("v")).alias("b"))
        .orderBy("v")
        .collect()
    )
    buckets = [r.b for r in out]
    assert buckets == sorted(buckets), buckets
    # equal values must share a bucket (tie contract)
    by_val = {}
    for r in out:
        by_val.setdefault(r.v, set()).add(r.b)
    assert all(len(s) == 1 for s in by_val.values())


def test_theil_sen_bucketed_rank_matches_global_sort(spark):
    """The bucketed two-pass median must pick the SAME pair as a global
    (slope, xa, xb) sort — exercised on data with negative, zero and
    tied slopes (flat + falling + rising days)."""
    import datetime as dt

    ys = [10.0, 10.0, 7.0, 4.0, 8.0, 8.0, 2.0, 12.0]
    orders = spark.createDataFrame(
        [
            (i, dt.date(1995, 1, 1) + dt.timedelta(days=i), y)
            for i, y in enumerate(ys)
        ],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    out = relational.theil_sen_trend(orders).collect()[0]
    n = len(ys)
    assert out.n_days == n and out.n_pairs == n * (n - 1) // 2
    # reference: median by plain python global sort with the same
    # (slope, xa, xb) order and ceil(np/2) type-1 rank
    pairs = []
    for a in range(n):
        for b in range(a + 1, n):
            pairs.append(((ys[b] - ys[a]) / float(b - a), a, b))
    pairs.sort()
    m = pairs[(len(pairs) + 1) // 2 - 1][0]
    assert out.slope_per_day == round(m, 6)
    resid = sorted((y - m * x, x) for x, y in enumerate(ys))
    assert out.intercept == round(resid[(n + 1) // 2 - 1][0], 4)

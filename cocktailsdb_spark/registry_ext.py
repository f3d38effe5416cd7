"""Registry entries for the extended TPC-H plans (plans/tpch_ext.py) and
the relational/window/statistics operators (operators/relational.py,
operators/events.py as-of + range joins).

Same contract as registry_ops.py: every entry pairs the Spark plan with an
exact DuckDB twin; aggregates use exact decimal sums (numeric.dsum) so
values match bit-for-bit with no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .numeric import sql_dsum as _d
from .operators import events, relational
from .plans import tpch_ext as X
from .registry import register
from .tables import load

# --- TPC-H analog suite (correlated subqueries, scalar subqueries,
#     group-having joins, disjunctive predicates, outer-join distributions) --

register("tpch_q2_min_cost_supplier", X.q2_min_cost_supplier, X.Q2_SQL)
register("tpch_q4_order_priority", X.q4_order_priority, X.Q4_SQL)
register("tpch_q6_forecast_revenue", X.q6_forecast_revenue, X.Q6_SQL)
register("tpch_q7_volume_shipping", X.q7_volume_shipping, X.Q7_SQL)
register("tpch_q8_market_share", X.q8_market_share, X.Q8_SQL)
register("tpch_q9_product_profit", X.q9_product_profit, X.Q9_SQL)
register("tpch_q10_returned_items", X.q10_returned_items, X.Q10_SQL)
register("tpch_q11_important_suppliers", X.q11_important_suppliers, X.Q11_SQL)
register("tpch_q12_priority_classes", X.q12_priority_classes, X.Q12_SQL)
register("tpch_q13_customer_distribution", X.q13_customer_distribution, X.Q13_SQL)
register("tpch_q14_promo_revenue", X.q14_promo_revenue, X.Q14_SQL)
register("tpch_q15_top_supplier", X.q15_top_supplier, X.Q15_SQL)
register("tpch_q16_supplier_diversity", X.q16_supplier_diversity, X.Q16_SQL)
register("tpch_q17_small_qty_revenue", X.q17_small_qty_revenue, X.Q17_SQL)
register("tpch_q18_large_orders", X.q18_large_orders, X.Q18_SQL)
register("tpch_q19_disjunctive_revenue", X.q19_disjunctive_revenue, X.Q19_SQL)
register("tpch_q20_active_suppliers", X.q20_active_suppliers, X.Q20_SQL)
register("tpch_q21_sole_problem_supplier", X.q21_sole_problem_supplier, X.Q21_SQL)
register("tpch_q22_dormant_customers", X.q22_dormant_customers, X.Q22_SQL)

# --- set operations --------------------------------------------------------


def _q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.years_active(load(spark, sf_dir, "orders"), 1996, 1997, "intersect")


register(
    "set_intersect_customers",
    _q_set_intersect,
    """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
       INTERSECT
       SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997""",
)


def _q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.years_active(load(spark, sf_dir, "orders"), 1996, 1997, "except")


register(
    "set_except_customers",
    _q_set_except,
    """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
       EXCEPT
       SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997""",
)

# --- CUBE grouping sets -----------------------------------------------------


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.cube_revenue(load(spark, sf_dir, "lineitem"))


register(
    "cube_revenue",
    _q_cube,
    f"""SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               count(*) AS n, {_d('l_quantity')} AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)

GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n, {_d('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the non-hierarchical grouping form cube
    and rollup can't express ((flag-only), (status-only), no combined or
    grand-total set). Same ANSI text runs on Spark (temp views) and
    DuckDB."""
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(GROUPING_SETS_SQL)


register("grouping_sets_mix", _q_grouping_sets, GROUPING_SETS_SQL)

# --- ranking-function family ------------------------------------------------


def _q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.rank_orders_per_customer(load(spark, sf_dir, "orders"), k=3)


register(
    "rank_family_topk",
    _q_rank_family,
    """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk, quartile
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    CAST(row_number() OVER w AS INT) AS rn,
                    CAST(rank() OVER w AS INT) AS rnk,
                    CAST(dense_rank() OVER w AS INT) AS drnk,
                    CAST(ntile(4) OVER w AS INT) AS quartile
             FROM orders
             WINDOW w AS (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC))
       WHERE rn <= 3""",
)

# --- lag/lead analytic windows ----------------------------------------------


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.daily_revenue_delta(load(spark, sf_dir, "orders"))


register(
    "lag_lead_daily_revenue",
    _q_lag_lead,
    f"""WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS revenue
          FROM orders GROUP BY 1)
        SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
               revenue - lag(revenue) OVER w AS delta_prev,
               lead(revenue) OVER w - revenue AS delta_next
        FROM daily
        WINDOW w AS (PARTITION BY year(day) ORDER BY day)""",
)

# --- discrete quantiles -----------------------------------------------------


def _q_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.quantile_disc(load(spark, sf_dir, "orders"), qs=(0.5, 0.9))


register(
    "quantile_disc_price",
    _q_quantile,
    """WITH r AS (
         SELECT o_orderpriority, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS rn,
                count(*) OVER (PARTITION BY o_orderpriority) AS n
         FROM orders)
       SELECT o_orderpriority,
              max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS INT) + 1
                       THEN o_totalprice END) AS p50,
              max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS INT) + 1
                       THEN o_totalprice END) AS p90
       FROM r GROUP BY o_orderpriority""",
)

# --- moment statistics (order-insensitive variance / correlation) -----------


def _q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.stats_moments(load(spark, sf_dir, "lineitem"))


register(
    "stats_moments",
    _q_stats,
    f"""WITH m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 {_d('l_quantity')} AS sx,
                 {_d('l_quantity * l_quantity')} AS sxx,
                 {_d('l_extendedprice')} AS sy,
                 {_d('l_extendedprice * l_extendedprice')} AS syy,
                 {_d('l_quantity * l_extendedprice')} AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               sx / n AS mean_qty,
               (sxx - sx * sx / n) / (n - 1) AS var_qty,
               sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
               (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
        FROM m""",
)

# --- histogram ---------------------------------------------------------------


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.price_histogram(load(spark, sf_dir, "orders"))


register(
    "price_histogram",
    _q_histogram,
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
              count(*) AS n,
              CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000.0 AS lo
       FROM orders GROUP BY 1""",
)

# --- unpivot (inverse of pivot) + typed JSON map extraction ------------------


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt: wide per-status priority counts back to long form —
    the inverse of pivot_priority_counts, via the native unpivot operator
    (Spark plans an Expand, one pass, no join)."""
    from .registry_ops import PRIORITIES, PRIORITY_ALIASES, _q_pivot

    wide = _q_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=PRIORITY_ALIASES,
        variableColumnName="priority",
        valueColumnName="n",
    ).filter(F.col("n") > 0)


def _unpivot_sql() -> str:
    from .registry_ops import PRIORITIES, PRIORITY_ALIASES

    arms = " UNION ALL ".join(
        f"""SELECT o_orderstatus, '{a}' AS priority, count(*) AS n
            FROM orders WHERE o_orderpriority = '{p}' GROUP BY o_orderstatus"""
        for p, a in zip(PRIORITIES, PRIORITY_ALIASES)
    )
    return f"SELECT * FROM ({arms}) WHERE n > 0"


register("unpivot_priority_counts", _q_unpivot, _unpivot_sql())


def _q_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 typed variant: parse the whole props JSON into map<string,int>
    with from_json (vs get_json_object per key), then aggregate over the
    extracted value — one parse per row regardless of key count."""
    e = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        e.withColumn("k_val", m.getItem("k"))
        .groupBy("event_type")
        .agg(
            F.count("k_val").alias("n_with_k"),
            F.sum("k_val").alias("sum_k"),
            F.max("k_val").alias("max_k"),
        )
    )


register(
    "json_map_aggregate",
    _q_json_map,
    """SELECT event_type,
              count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
              max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
       FROM events GROUP BY event_type""",
)

# --- as-of join / range join over events ------------------------------------


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.asof_latest(load(spark, sf_dir, "events"))


register(
    "asof_join_signup",
    _q_asof,
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              s.event_id AS signup_id, s.ts AS signup_ts
       FROM events p
       LEFT JOIN LATERAL (
           SELECT event_id, ts FROM events s
           WHERE s.event_type = 'signup' AND s.user_id = p.user_id
             AND s.ts <= p.ts
           ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) s ON TRUE
       WHERE p.event_type = 'purchase'""",
)

def _q_asof_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (operators/events.py:asof_next):
    earliest same-user error at-or-after each purchase, NULL beyond 24 h;
    union-then-window, one user_id shuffle, no inequality join."""
    return events.asof_next(load(spark, sf_dir, "events"))


register(
    "asof_join_next",
    _q_asof_next,
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              n.event_id AS next_id, n.ts AS next_ts
       FROM events p
       LEFT JOIN LATERAL (
           SELECT event_id, ts FROM events e
           WHERE e.event_type = 'error' AND e.user_id = p.user_id
             AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 86400 SECOND
           ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) n ON TRUE
       WHERE p.event_type = 'purchase'""",
)



# --- physical layout: partition pruning / bucketed join / salting -----------

from .plans import layout as _layout  # noqa: E402

register(
    "partition_pruned_load",
    _layout.partition_pruned_load,
    _layout.PARTITION_PRUNED_SQL,
)
register(
    "range_pruned_revenue",
    _layout.range_pruned_revenue,
    _layout.RANGE_PRUNED_SQL,
)
register(
    "zorder_box_revenue",
    _layout.zorder_box_revenue,
    _layout.ZORDER_BOX_SQL,
)
register(
    "bucketed_join_revenue",
    _layout.bucketed_join_revenue,
    _layout.BUCKETED_JOIN_SQL,
)
register("salted_groupby", _layout.salted_groupby, _layout.SALTED_GROUPBY_SQL)
register(
    "bloom_filtered_join",
    _layout.bloom_filtered_join,
    _layout.BLOOM_JOIN_SQL,
)
register("compact_small_files", _layout.compacted_events, _layout.COMPACTED_EVENTS_SQL)
register("time_travel_read", _layout.time_travel_events, _layout.COMPACTED_EVENTS_SQL)

# --- argmax aggregation (max_by with deterministic struct tiebreak) ----------


def _q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer, the orderkey + date of their priciest order via
    max_by over a (price, orderkey) struct — the argmax pattern as ONE
    aggregate (no self-join, no window over the full table). The struct's
    unique second field makes ties deterministic."""
    o = load(spark, sf_dir, "orders")
    tiebreak = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", tiebreak).alias("best_orderkey"),
        F.max_by("o_orderdate", tiebreak).alias("best_orderdate"),
        F.max("o_totalprice").alias("best_price"),
    )


register(
    "argmax_order_per_customer",
    _q_argmax,
    """SELECT o_custkey, o_orderkey AS best_orderkey,
              o_orderdate AS best_orderdate, best_price
       FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                    max(o_totalprice) OVER (PARTITION BY o_custkey) AS best_price,
                    row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
             FROM orders)
       WHERE rn = 1""",
)

# --- slowly-changing dimensions: SCD2 history + MERGE upsert -----------------

from .operators import scd as _scd  # noqa: E402
from .sources.http_source import bounded_keys, fake_transport, fetch_df  # noqa: E402


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 over the two-version dimension records of the REST source:
    each idDrink gets version 1 (closed range) and version 2 (current)."""
    part = load(spark, sf_dir, "part")
    keys = bounded_keys(part, "p_name")
    raw = fetch_df(spark, keys, transport=fake_transport)
    return _scd.scd2_history(raw, "idDrink", "dateModified", "strDrink").select(
        "idDrink", "strDrink", "version", "valid_from", "valid_to", "is_current"
    )


def _scd2_sql() -> str:
    from .registry_ops import HTTP_RECS_CTE

    return f"""WITH {HTTP_RECS_CTE},
        v AS (
          SELECT idDrink, strDrink, dateModified,
                 CAST(row_number() OVER w AS INT) AS version,
                 dateModified AS valid_from,
                 lead(dateModified) OVER w AS valid_to
          FROM recs
          WINDOW w AS (PARTITION BY idDrink ORDER BY dateModified ASC, strDrink ASC))
        SELECT idDrink, strDrink, version, valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM v"""


register("scd2_dim_history", _q_scd2, _scd2_sql())


def _q_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert on the part dim: every 10th part gets a 10% price
    update (matched → update), and a shifted-key copy of every 97th part
    is inserted (unmatched → insert); everything else passes through."""
    p = load(spark, sf_dir, "part")
    price_updates = p.filter(F.col("p_partkey") % 10 == 0).withColumn(
        "p_retailprice", F.col("p_retailprice") * 1.1
    )
    inserts = p.filter(F.col("p_partkey") % 97 == 0).withColumn(
        "p_partkey", F.col("p_partkey") + 1000000
    )
    updates = price_updates.unionByName(inserts)
    return _scd.merge_upsert(p, updates, "p_partkey")


register(
    "merge_upsert_dim",
    _q_merge,
    """WITH updates AS (
         SELECT p_partkey, p_name, p_brand, p_type, p_size,
                p_retailprice * 1.1 AS p_retailprice
         FROM part WHERE p_partkey % 10 = 0
         UNION ALL
         SELECT p_partkey + 1000000, p_name, p_brand, p_type, p_size, p_retailprice
         FROM part WHERE p_partkey % 97 = 0)
       SELECT coalesce(c.p_partkey, u.p_partkey) AS p_partkey,
              CASE WHEN u.p_partkey IS NOT NULL THEN u.p_name ELSE c.p_name END AS p_name,
              CASE WHEN u.p_partkey IS NOT NULL THEN u.p_brand ELSE c.p_brand END AS p_brand,
              CASE WHEN u.p_partkey IS NOT NULL THEN u.p_type ELSE c.p_type END AS p_type,
              CASE WHEN u.p_partkey IS NOT NULL THEN u.p_size ELSE c.p_size END AS p_size,
              CASE WHEN u.p_partkey IS NOT NULL THEN u.p_retailprice
                   ELSE c.p_retailprice END AS p_retailprice
       FROM part c FULL OUTER JOIN updates u ON c.p_partkey = u.p_partkey""",
)

# --- source/sink formats: JSON-lines + ORC roundtrips ------------------------

from .sources import formats as _formats  # noqa: E402

register("json_lines_roundtrip", _formats.json_roundtrip, _formats.JSON_ROUNDTRIP_SQL)
register(
    "schema_evolution_read",
    _formats.schema_evolution_read,
    _formats.SCHEMA_EVOLUTION_SQL,
)
register(
    "corrupt_tolerant_read",
    _formats.corrupt_tolerant_read,
    _formats.CORRUPT_TOLERANT_SQL,
)
register("orc_roundtrip", _formats.orc_roundtrip, _formats.ORC_ROUNDTRIP_SQL)


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type (rsd 1%), next to
    the exact count. Rows-only check: DuckDB's approx_distinct is a
    different sketch, so the approx value has no SQL twin; the ≤5% error
    bound is asserted in tests/test_formats.py."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


register("approx_distinct_users", _q_approx_distinct, None)  # rows-only: sketch

# --- streaming: exact dedup + arbitrary-state operator -----------------------

from .streaming import stream_queries as _sq  # noqa: E402

register(
    "streaming_dedup_keys",
    _sq.streaming_dedup_keys,
    "SELECT DISTINCT user_id, event_type FROM events",
)
register(
    "streaming_stateful_counts",
    _sq.streaming_stateful_user_counts,
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
register(
    "streaming_static_join",
    _sq.streaming_static_join,
    """SELECT c_mktsegment, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS sum_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY c_mktsegment""",
)


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.range_join_count(load(spark, sf_dir, "events"))


register(
    "range_join_recent_clicks",
    _q_range_join,
    """SELECT a.event_id AS anchor_id, a.user_id, a.ts,
              (SELECT count(*) FROM events p
               WHERE p.event_type = 'click' AND p.user_id = a.user_id
                 AND p.ts >= a.ts - INTERVAL 300 SECOND
                 AND p.ts < a.ts) AS n_recent
       FROM events a WHERE a.event_type = 'error'""",
)


# --- event analytics: funnel / cohort retention / rolling z-score -----------


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.funnel_steps(load(spark, sf_dir, "events"))


def _funnel_sql(steps: tuple[str, ...]) -> str:
    ctes, prev = [], None
    for k, s in enumerate(steps):
        if prev is None:
            ctes.append(
                f"t{k} AS (SELECT user_id, min(ts) AS t FROM events"
                f" WHERE event_type = '{s}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"t{k} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
                f" JOIN {prev} ON e.user_id = {prev}.user_id"
                f" WHERE e.event_type = '{s}' AND e.ts > {prev}.t"
                f" GROUP BY e.user_id)"
            )
        prev = f"t{k}"
    selects = [
        f"SELECT '{s}' AS step, {k + 1} AS step_index,"
        f" CAST((SELECT count(*) FROM t{k}) AS BIGINT) AS n_users"
        for k, s in enumerate(steps)
    ]
    return "WITH " + ",\n ".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


register("funnel_conversion", _q_funnel, _funnel_sql(events.FUNNEL_STEPS))


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts + row-normalized probabilities over each
    user's event stream — the next-event matrix funnel/recommendation
    analyses start from. One user_id window shuffle; the aggregate runs on
    the (type × type) grid."""
    return events.event_transitions(load(spark, sf_dir, "events"))


register(
    "event_transition_counts",
    _q_event_transitions,
    events.EVENT_TRANSITIONS_SQL,
)


def _q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.cohort_retention(load(spark, sf_dir, "events"))


register(
    "cohort_retention",
    _q_cohort,
    """WITH first AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(day - cohort_day AS INT) AS day_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM active a JOIN first USING (user_id)
        GROUP BY 1, 2""",
)


def _q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.rolling_zscore(load(spark, sf_dir, "orders"))


_Z_VAR = "((n * s2 - s1 * s1) / (n * (n - 1.0)))"
_Z_EXPR = f"(revenue - s1 / n) / sqrt({_Z_VAR})"

register(
    "rolling_zscore_revenue",
    _q_rolling_zscore,
    f"""WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS revenue
          FROM orders GROUP BY 1),
        s AS (SELECT day, revenue,
                     CAST(count(revenue) OVER w AS DOUBLE) AS n,
                     CAST(sum(CAST(revenue AS DECIMAL(24,8))) OVER w AS DOUBLE) AS s1,
                     CAST(sum(CAST(revenue * revenue AS DECIMAL(24,8))) OVER w AS DOUBLE) AS s2
              FROM daily
              WINDOW w AS (PARTITION BY year(day) ORDER BY day
                           ROWS BETWEEN {relational.ZSCORE_LOOKBACK} PRECEDING
                           AND 1 PRECEDING))
        SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
               CAST(n AS INT) AS n_prior,
               CASE WHEN n >= 2.0 AND {_Z_VAR} > 0.0
                    THEN floor(({_Z_EXPR}) * 10000.0 + 0.5) / 10000.0
               END AS zscore
        FROM s""",
)


# --- data observability: CDC snapshot diff + column profiling ---------------

from .operators import profiling as _prof  # noqa: E402

_DIFF_COMPARE = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two snapshots derived deterministically from customer: new inserts
    the %7==0 keys, deletes the %5==0 keys, bumps acctbal on %3==0."""
    c = load(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 7 != 0)
    new = c.filter(F.col("c_custkey") % 5 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    )
    return _prof.snapshot_diff(old, new, "c_custkey", _DIFF_COMPARE)


_DIFF_SAME = " AND ".join(
    f"o.{c} IS NOT DISTINCT FROM n.{c}" for c in _DIFF_COMPARE
)

register(
    "snapshot_diff_cdc",
    _q_snapshot_diff,
    f"""WITH old AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0),
        new AS (SELECT c_custkey, c_name, c_nationkey,
                       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
                            ELSE c_acctbal END AS c_acctbal,
                       c_mktsegment
                FROM customer WHERE c_custkey % 5 <> 0),
        d AS (SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
                     CASE WHEN o.c_custkey IS NULL THEN 'insert'
                          WHEN n.c_custkey IS NULL THEN 'delete'
                          WHEN NOT ({_DIFF_SAME}) THEN 'update'
                     END AS change_type
              FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey)
        SELECT c_custkey, change_type FROM d WHERE change_type IS NOT NULL""",
)


def _q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prof.profile_table(load(spark, sf_dir, "customer"))


def _profile_sql() -> str:
    sels = []
    for c in _prof.PROFILE_NUM:
        sels.append(
            f"SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            f" FROM customer"
        )
    for c in _prof.PROFILE_STR:
        sels.append(
            f"SELECT '{c}', CAST(count(*) AS BIGINT),"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
            f" CAST(count(DISTINCT {c}) AS BIGINT),"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
            f" min({c}), max({c}) FROM customer"
        )
    return "\nUNION ALL ".join(sels)


register("profile_table_quality", _q_profile_table, _profile_sql())


def _q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling — pairwise Pearson correlations over lineitem's numeric
    columns from ONE aggregate pass (drift/redundancy primitive). Uses the
    guarded auto-dispatch: BIGINT lanes when the < 2³¹-rows/non-negative
    bound holds (46× cheaper at sf10), DECIMAL-exact otherwise — output
    bit-identical either way (operators/profiling.py:
    correlation_matrix_auto)."""
    from .operators.profiling import correlation_matrix_auto

    return correlation_matrix_auto(load(spark, sf_dir, "lineitem"))


def _corr_sql() -> str:
    from .operators.profiling import CORR_COLS
    from .numeric import sql_qround

    from .numeric import sql_dsum

    sums = ["count(*) AS n"]
    for c in CORR_COLS:
        sums.append(f"{sql_dsum(c)} AS s_{c}")
        sums.append(f"{sql_dsum(f'{c} * {c}')} AS ss_{c}")
    pairs = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1 :]:
            sums.append(f"{sql_dsum(f'{a} * {b}')} AS sp_{a}_{b}")
            expr = (
                f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            )
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"{sql_qround(expr, 6)} AS pearson_r FROM agg"
            )
    return (
        "WITH agg AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n        "
        + "\n        UNION ALL ".join(pairs)
    )


register("correlation_matrix", _q_correlation_matrix, _corr_sql())


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window family — truncated-window EWMA trend over daily revenue
    (driver-precomputed alpha^j literals; no libm pow in either engine)."""
    return relational.ewma_daily_revenue(load(spark, sf_dir, "orders"))


def _ewma_sql() -> str:
    from .numeric import sql_qround
    from .operators.relational import EWMA_ALPHA, EWMA_SPAN

    num, den = [], []
    for j in range(EWMA_SPAN):
        wt = repr(EWMA_ALPHA**j)
        lag = f"lag(revenue, {j}) OVER w"
        num.append(f"CASE WHEN {lag} IS NOT NULL THEN {lag} * {wt} ELSE 0.0 END")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt} ELSE 0.0 END")
    expr = "(" + " + ".join(num) + ") / (" + " + ".join(den) + ")"
    return f"""WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d("o_totalprice")} AS revenue
          FROM orders GROUP BY 1)
        SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
               {sql_qround(expr, 4)} AS ewma
        FROM daily
        WINDOW w AS (PARTITION BY year(day) ORDER BY day)"""


register("ewma_daily_revenue", _q_ewma, _ewma_sql())


def _q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — per-group closed-form OLS from one exact-moment pass."""
    return relational.groupwise_linreg(load(spark, sf_dir, "lineitem"))


def _linreg_sql() -> str:
    from .numeric import sql_qround

    slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    intercept = f"(sy - ({slope}) * sx) / n"
    r2 = ("((n * sxy - sx * sy) * (n * sxy - sx * sy))"
          " / ((n * sxx - sx * sx) * (n * syy - sy * sy))")
    return f"""WITH m AS (
          SELECT l_returnflag AS grp,
                 count(*) AS n_raw,
                 CAST(count(*) AS DOUBLE) AS n,
                 {_d("l_quantity")} AS sx,
                 {_d("l_quantity * l_quantity")} AS sxx,
                 {_d("l_extendedprice")} AS sy,
                 {_d("l_extendedprice * l_extendedprice")} AS syy,
                 {_d("l_quantity * l_extendedprice")} AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT grp, n_raw AS n,
               {sql_qround(slope, 6)} AS slope,
               {sql_qround(intercept, 4)} AS intercept,
               {sql_qround(r2, 6)} AS r2
        FROM m"""


register("groupwise_linreg", _q_linreg, _linreg_sql())


def _q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.incremental_agg_merge(load(spark, sf_dir, "orders"))


register(
    "incremental_agg_merge",
    _q_incr_agg,
    # the oracle is the FULL recompute — a green hash proves the partial
    # merge path is exactly equivalent to rescanning history
    f"""SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               {_d('o_totalprice')} AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1""",
)

def _q_incr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for a JOIN view — delta-join identity, three batch-sized delta
    joins + the stored-view term (operators/relational.py:
    incremental_join_mv); oracle = full recompute."""
    return relational.incremental_join_mv(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


register(
    "incremental_join_mv",
    _q_incr_join,
    f"""SELECT c.c_mktsegment,
               {_d('o.o_totalprice')} AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1""",
)



def _q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family: percent_rank / cume_dist per customer.
    Both are pure rank arithmetic (rank−1)/(n−1) and peers/n — a single
    integer division per row, same operand order both engines, no qround
    needed. One shuffle on o_custkey (shared window)."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.filter(F.col("o_custkey") % 100 == 0)  # pre-window: prune the scan
        .select(
            "o_custkey",
            "o_orderkey",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
    )


register(
    "window_distribution_family",
    _q_window_distribution,
    """SELECT o_custkey, o_orderkey,
              percent_rank() OVER w AS pct_rank,
              cume_dist() OVER w AS cume
       FROM orders
       WHERE o_custkey % 100 = 0
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""",
)


# ===========================================================================
# round-5 additions: time-series gap-fill, Pareto skyline, triangle counting
# ===========================================================================


def _q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + LOCF over per-priority daily revenue (the
    hypertable locf(gapfill(...)) shape; ~670 gap days per series in the
    fixture)."""
    return relational.gapfill_locf(load(spark, sf_dir, "orders"))


register(
    "gapfill_daily_revenue",
    _q_gapfill,
    f"""WITH daily AS (
          SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS dt,
                 {_d('o_totalprice')} AS revenue
          FROM orders GROUP BY 1, 2),
        bounds AS (SELECT series, min(dt) AS d0, max(dt) AS d1
                   FROM daily GROUP BY 1),
        spine AS (SELECT series,
                         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                     CAST(d1 AS TIMESTAMP),
                                                     INTERVAL 1 DAY)) AS DATE)
                           AS dt
                  FROM bounds),
        j AS (SELECT s.series, s.dt, d.revenue
              FROM spine s LEFT JOIN daily d USING (series, dt))
        SELECT series, strftime(dt, '%Y-%m-%d') AS day,
               last_value(revenue IGNORE NULLS) OVER (
                 PARTITION BY series ORDER BY dt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS revenue_filled,
               revenue IS NULL AS is_gap
        FROM j""",
)


def _q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts (min price, max size) — two-phase
    local/global skyline; the quadratic NOT EXISTS twin is the
    exact-verify form."""
    return relational.skyline_parts(load(spark, sf_dir, "part"))


register(
    "skyline_parts",
    _q_skyline,
    """WITH pts AS (
          SELECT p_size, p_retailprice,
                 CAST(count(*) AS BIGINT) AS n_parts,
                 min(p_partkey) AS min_partkey
          FROM part GROUP BY 1, 2)
       SELECT p_size, p_retailprice, n_parts, min_partkey
       FROM pts p
       WHERE NOT EXISTS (
         SELECT 1 FROM pts q
         WHERE q.p_retailprice <= p.p_retailprice
           AND q.p_size >= p.p_size
           AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""",
)


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-order edges over 1995Q1 (shared by triangle_count and
    graph_bfs_levels). Edge generation is a self-join on l_orderkey whose
    per-order fanout is bounded by lineitems-per-order (<= 7 in TPC-H), so
    candidate pairs are O(orders), not quadratic — the blocking IS the join
    key. The shipdate slice (pushed to the parquet scan) keeps the graph
    sparse and makes density FALL as SF grows (more suppliers, same
    window)."""
    l = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1995-04-01")
        )
        .select("l_orderkey", "l_suppkey")
    )
    x, y = l.alias("x"), l.alias("y")
    return x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
    ).select(
        F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
    )


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-order graph over one quarter
    (edges: :func:`_co_order_edges`). The full seven-year projection
    densifies toward complete, which no exact triangle algorithm survives;
    a time-sliced census is also the operationally meaningful question."""
    from .operators import graph as _g

    return _g.triangle_stats(_co_order_edges(spark, sf_dir))


def _triangles_sql() -> str:
    from .numeric import sql_qround

    return f"""WITH sl AS (
          SELECT l_orderkey, l_suppkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-04-01'),
        e AS (
          SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
          FROM sl x JOIN sl y
            ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1),
        tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
                FROM e e1
                JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                       CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
                FROM deg),
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               {sql_qround('3.0 * n_triangles / n_wedges', 9)}
                 AS global_clustering
        FROM agg, ne, tri"""


register("triangle_count", _q_triangles, _triangles_sql())


def _q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the 1995Q1 supplier co-order graph
    (operators/graph.py:bfs_levels): hop distance from the minimum
    supplier id to every node reachable within BFS_MAX_HOPS. Third
    iterative-graph shape (frontier expansion) next to PageRank
    (numeric fixed-point) and dedup clustering (label propagation).
    Oracle: DuckDB recursive CTE with UNION-distinct working table —
    (node, lvl) rows are bounded by nodes x hops, then min(lvl) per node
    recovers the BFS level."""
    from .operators import graph as _g

    return _g.bfs_levels(_co_order_edges(spark, sf_dir))


def _bfs_sql() -> str:
    from .operators.graph import BFS_MAX_HOPS

    return f"""WITH RECURSIVE sl AS (
          SELECT l_orderkey, l_suppkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-04-01'),
        e AS (
          SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
          FROM sl x JOIN sl y
            ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        walk(node, lvl) AS (
          SELECT (SELECT min(a) FROM und), 0
          UNION
          SELECT u.b, w.lvl + 1
          FROM walk w JOIN und u ON u.a = w.node
          WHERE w.lvl < {BFS_MAX_HOPS}
        )
        SELECT node, CAST(min(lvl) AS INT) AS level
        FROM walk GROUP BY node"""


register("graph_bfs_levels", _q_bfs_levels, _bfs_sql())


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection — per-series CUSUM pivot over daily revenue
    (decimal-exact running sum; one row per priority series)."""
    return relational.cusum_changepoint(load(spark, sf_dir, "orders"))


def _cusum_sql() -> str:
    from .numeric import sql_qround

    return f"""WITH daily AS (
          SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS dt,
                 {_d('o_totalprice')} AS revenue
          FROM orders GROUP BY 1, 2),
        stats AS (SELECT series, {_d('revenue')} AS tot,
                         CAST(count(*) AS BIGINT) AS n
                  FROM daily GROUP BY 1),
        c AS (SELECT d.series, d.dt,
                     sum(CAST(d.revenue - s.tot / s.n AS DECIMAL(24,8)))
                       OVER (PARTITION BY d.series ORDER BY d.dt
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cusum_exact
              FROM daily d JOIN stats s USING (series)),
        p AS (SELECT series, dt, cusum_exact,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY abs(cusum_exact) DESC,
                                                 dt ASC) AS rn
              FROM c)
        SELECT series, strftime(dt, '%Y-%m-%d') AS cp_day,
               {sql_qround('CAST(cusum_exact AS DOUBLE)', 4)} AS cusum,
               CASE WHEN cusum_exact < 0 THEN 'up' ELSE 'down' END
                 AS direction
        FROM p WHERE rn = 1"""


register("cusum_changepoint", _q_cusum, _cusum_sql())


def _q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic over the lineitem join key l_suppkey."""
    return _prof.join_skew_report(load(spark, sf_dir, "lineitem"), "l_suppkey")


def _skew_report_sql() -> str:
    from .numeric import sql_qround

    pct = sql_qround("n / total_rows", 6)
    xavg = sql_qround("n / (total_rows / n_keys)", 4)
    return f"""WITH per_key AS (
          SELECT CAST(l_suppkey AS VARCHAR) AS key_value,
                 CAST(count(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
                     CAST(count(*) AS BIGINT) AS n_keys
              FROM per_key)
        SELECT key_value, n, {pct} AS pct_of_rows, {xavg} AS x_avg_key
        FROM per_key, t
        ORDER BY n DESC, key_value ASC
        LIMIT 10"""


register("join_skew_report", _q_skew_report, _skew_report_sql())


def _q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-day activity streak per user
    (top 20)."""
    return events.activity_streaks(load(spark, sf_dir, "events"))


register(
    "activity_streaks",
    _q_streaks,
    """WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        isl AS (
          SELECT user_id, d,
                 d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                          AS INT) AS grp
          FROM days),
        streaks AS (
          SELECT user_id, grp, CAST(count(*) AS INT) AS streak_days,
                 min(d) AS start_d, max(d) AS end_d
          FROM isl GROUP BY user_id, grp),
        best AS (
          SELECT user_id, streak_days, start_d, end_d,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY streak_days DESC, start_d ASC)
                   AS rn
          FROM streaks)
        SELECT user_id, streak_days,
               strftime(start_d, '%Y-%m-%d') AS start_day,
               strftime(end_d, '%Y-%m-%d') AS end_day
        FROM best WHERE rn = 1
        ORDER BY streak_days DESC, user_id ASC
        LIMIT 20""",
)


def _q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 higher-order-function surface: per-vector stats via quantized
    JVM `aggregate` folds — zero exchanges, no explode, no UDF."""
    from .operators import similarity as _sim

    return _sim.embedding_stats(load(spark, sf_dir, "embeddings"))


def _embedding_stats_sql() -> str:
    from .numeric import sql_qround

    qsum = (
        "CAST(list_aggregate(list_transform(embedding, e -> "
        "CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)), "
        "'sum') AS BIGINT)"
    )
    qsq = (
        "CAST(list_aggregate(list_transform(embedding, e -> "
        "CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1000000000.0 "
        "+ 0.5) AS BIGINT)), 'sum') AS BIGINT)"
    )
    return f"""SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               {sql_qround(f'sqrt({qsq} / 1000000000.0)', 6)} AS l2_norm,
               {sql_qround(f'{qsum} / 1000000.0 / len(embedding)', 6)}
                 AS mean_component,
               {sql_qround('CAST(list_max(embedding) AS DOUBLE)', 6)}
                 AS max_component
        FROM embeddings"""


register("embedding_stats", _q_embedding_stats, _embedding_stats_sql())


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25 tokens via bounded-memory Misra-Gries candidates +
    exact recount (the oracle is the unbounded plain top-k — a green hash
    proves the bounded path loses nothing)."""
    from .operators import corpus as _corpus

    return _corpus.heavy_hitters(load(spark, sf_dir, "documents"))


register(
    "heavy_hitters_exact",
    _q_heavy_hitters,
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                    FROM documents)
       SELECT term, CAST(count(*) AS BIGINT) AS n
       FROM tok GROUP BY term
       ORDER BY n DESC, term ASC
       LIMIT 25""",
)


def _q_correlation_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGINT-lane twin of correlation_matrix: same exact one-pass
    Pearson matrix, decimal aggregation replaced by hi/lo long sums that
    stay in the codegen fast path."""
    return _prof.correlation_matrix_fast(load(spark, sf_dir, "lineitem"))


def _corr_fast_sql() -> str:
    from .numeric import sql_qround
    from .operators.profiling import (
        CORR_COLS,
        CORR_LANE_SCALE,
        CORR_LANE_SPLIT,
    )

    def lanes(v, name):
        q = f"CAST(floor(({v}) * {CORR_LANE_SCALE}.0 + 0.5) AS BIGINT)"
        return [
            f"CAST(sum({q} >> 32) AS BIGINT) AS hi_{name}",
            f"CAST(sum({q} & {CORR_LANE_SPLIT - 1}) AS BIGINT) AS lo_{name}",
        ]

    def rebuild(name):
        return (
            f"(CAST(hi_{name} AS DOUBLE) * {float(CORR_LANE_SPLIT)!r}"
            f" + CAST(lo_{name} AS DOUBLE)) / {CORR_LANE_SCALE}.0"
        )

    sums = ["CAST(count(*) AS BIGINT) AS n"]
    # read columns through an explicit DOUBLE cast: a DECIMAL-encoded
    # fixture would otherwise hit DuckDB's DECIMAL multiply overflow in
    # the lane quantization (no-op for the double fixtures of today)
    dcol = {c: f"CAST({c} AS DOUBLE)" for c in CORR_COLS}
    for c in CORR_COLS:
        sums += lanes(dcol[c], f"s_{c}")
        sums += lanes(f"{dcol[c]} * {dcol[c]}", f"ss_{c}")
    pairs = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1 :]:
            sums += lanes(f"{dcol[a]} * {dcol[b]}", f"sp_{a}_{b}")
            n = "CAST(n AS DOUBLE)"
            sa, sb = rebuild(f"s_{a}"), rebuild(f"s_{b}")
            ssa, ssb = rebuild(f"ss_{a}"), rebuild(f"ss_{b}")
            sp = rebuild(f"sp_{a}_{b}")
            expr = (
                f"({n} * ({sp}) - ({sa}) * ({sb}))"
                f" / sqrt(({n} * ({ssa}) - ({sa}) * ({sa}))"
                f" * ({n} * ({ssb}) - ({sb}) * ({sb})))"
            )
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"{sql_qround(expr, 6)} AS pearson_r FROM agg"
            )
    return (
        "WITH agg AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n        "
        + "\n        UNION ALL ".join(pairs)
    )


register("correlation_matrix_fast", _q_correlation_fast, _corr_fast_sql())


def _q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill twin of gapfill_daily_revenue."""
    return relational.gapfill_interpolate(load(spark, sf_dir, "orders"))


register(
    "gapfill_interpolate",
    _q_gapfill_interp,
    f"""WITH daily AS (
          SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS dt,
                 {_d('o_totalprice')} AS revenue
          FROM orders GROUP BY 1, 2),
        bounds AS (SELECT series, min(dt) AS d0, max(dt) AS d1
                   FROM daily GROUP BY 1),
        spine AS (SELECT series,
                         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                     CAST(d1 AS TIMESTAMP),
                                                     INTERVAL 1 DAY)) AS DATE)
                           AS dt
                  FROM bounds),
        j AS (SELECT s.series, s.dt, d.revenue
              FROM spine s LEFT JOIN daily d USING (series, dt)),
        w AS (SELECT series, dt, revenue,
                last_value(revenue IGNORE NULLS) OVER wb AS prev_v,
                first_value(revenue IGNORE NULLS) OVER wf AS next_v,
                last_value(CASE WHEN revenue IS NOT NULL THEN dt END
                           IGNORE NULLS) OVER wb AS prev_d,
                first_value(CASE WHEN revenue IS NOT NULL THEN dt END
                            IGNORE NULLS) OVER wf AS next_d
              FROM j
              WINDOW wb AS (PARTITION BY series ORDER BY dt
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW),
                     wf AS (PARTITION BY series ORDER BY dt
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING))
        SELECT series, strftime(dt, '%Y-%m-%d') AS day,
               {{interp}} AS revenue_interp,
               revenue IS NULL AS is_gap
        FROM w""".format(
        interp=__import__(
            "cocktailsdb_spark.numeric", fromlist=["sql_qround"]
        ).sql_qround(
            """CASE WHEN revenue IS NOT NULL THEN revenue
                    WHEN next_v IS NULL THEN prev_v
                    ELSE prev_v + (next_v - prev_v)
                         * (CAST(dt - prev_d AS DOUBLE)
                            / CAST(next_d - prev_d AS DOUBLE)) END""",
            4,
        )
    ),
)


from .numeric import sql_dsum, sql_qround  # noqa: E402


def _q_winsor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust profiling — winsorized per-priority price stats: type-1
    quantile cutoffs (exact element selection, histogram-narrowed — no
    per-group full sort), broadcast clip, decimal-exact moments
    (operators/relational.py:winsorized_stats)."""
    return relational.winsorized_stats(load(spark, sf_dir, "orders"))


# the oracle ranks each whole group with a window; the plan's narrowed
# cutoffs are the same type-1 order statistics, so a green hash vs this
# SQL proves narrowed ≡ full sort
_WINSOR_SQL = f"""WITH r AS (
         SELECT o_orderpriority, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS rn,
                count(*) OVER (PARTITION BY o_orderpriority) AS n
         FROM orders),
       cuts AS (
         SELECT o_orderpriority,
                max(CASE WHEN rn = CAST(floor(0.05 * (n - 1)) AS INT) + 1
                         THEN o_totalprice END) AS p_lo,
                max(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS INT) + 1
                         THEN o_totalprice END) AS p_hi
         FROM r GROUP BY o_orderpriority),
       clipped AS (
         SELECT o.o_orderpriority, c.p_lo, c.p_hi,
                greatest(least(o.o_totalprice, c.p_hi), c.p_lo) AS v
         FROM orders o JOIN cuts c USING (o_orderpriority)),
       g AS (
         SELECT o_orderpriority, p_lo, p_hi,
                CAST(count(*) AS BIGINT) AS n,
                {sql_dsum("v")} AS sx,
                {sql_dsum("v * v")} AS sxx
         FROM clipped GROUP BY 1, 2, 3)
       SELECT o_orderpriority, n, p_lo, p_hi,
              {sql_qround("sx / CAST(n AS DOUBLE)", 4)} AS win_mean,
              CASE WHEN n > 1 THEN {sql_qround(
                  "sqrt(greatest(sxx - sx * sx / CAST(n AS DOUBLE), 0.0)"
                  " / (CAST(n AS DOUBLE) - 1))", 4)}
              END AS win_std
       FROM g"""

# both names are driver contract; one plan serves both
register("winsorized_stats", _q_winsor, _WINSOR_SQL)
register("winsorized_stats_scaled", _q_winsor, _WINSOR_SQL)


def _q_encoding_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling/layout — RLE-run storage advisor under the natural
    (ts, event_id) order, counted DISTRIBUTED (per-day windows + day-
    boundary stitch; operators/profiling.py:encoding_runs_report). The
    oracle is the naive single global window the engine must reproduce."""
    from .operators import profiling

    return profiling.encoding_runs_report(load(spark, sf_dir, "events"))


def _encoding_runs_sql() -> str:
    parts = []
    for c in ("event_type", "user_id"):
        parts.append(f"""
        SELECT '{c}' AS col_name, n_rows,
               nd_{c} AS n_distinct, runs_{c} AS n_runs,
               {sql_qround(f"CAST(n_rows AS DOUBLE) / runs_{c}", 4)} AS avg_run_len,
               {sql_qround(f"CAST(runs_{c} AS DOUBLE) / n_rows", 6)} AS runs_ratio
        FROM runs CROSS JOIN nd""")
    sel = " UNION ALL ".join(parts)
    return f"""WITH o AS (
          SELECT event_type, user_id,
                 lag(event_type) OVER w AS p_et,
                 lag(user_id) OVER w AS p_u,
                 row_number() OVER w AS rn
          FROM events WINDOW w AS (ORDER BY ts, event_id)),
        runs AS (SELECT
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN rn = 1 OR event_type IS DISTINCT FROM p_et
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs_event_type,
          CAST(sum(CASE WHEN rn = 1 OR user_id IS DISTINCT FROM p_u
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs_user_id
          FROM o),
        nd AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS nd_event_type,
                      CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id
               FROM events)
        {sel}"""


register("encoding_runs_report", _q_encoding_runs, _encoding_runs_sql())


def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers — Hampel |x−med| > k·MAD filter, two exact type-1
    median passes (operators/relational.py:mad_outlier_report)."""
    return relational.mad_outlier_report(load(spark, sf_dir, "orders"))


def _mad_sql() -> str:
    from .operators.relational import MAD_K

    med1 = """SELECT o_orderpriority,
                max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS INT) + 1
                         THEN o_totalprice END) AS med
              FROM (SELECT o_orderpriority, o_totalprice,
                           row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS rn,
                           count(*) OVER (PARTITION BY o_orderpriority) AS n
                    FROM orders)
              GROUP BY o_orderpriority"""
    return f"""WITH med AS ({med1}),
        dev AS (SELECT o.o_orderpriority, o.o_orderkey, m.med,
                       abs(o.o_totalprice - m.med) AS dev
                FROM orders o JOIN med m USING (o_orderpriority)),
        dr AS (SELECT o_orderpriority, med, dev,
                      row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY dev, o_orderkey) AS rn,
                      count(*) OVER (PARTITION BY o_orderpriority) AS n
               FROM dev),
        mad AS (SELECT o_orderpriority,
                       max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS INT) + 1
                                THEN dev END) AS mad
                FROM dr GROUP BY o_orderpriority)
        SELECT d.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               d.med, a.mad,
               CAST(sum(CASE WHEN d.dev > {MAD_K} * a.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               {sql_qround(
                   f"CAST(sum(CASE WHEN d.dev > {MAD_K} * a.mad THEN 1 ELSE 0 END)"
                   " AS DOUBLE) / count(*)", 6)} AS outlier_ratio
        FROM dev d JOIN mad a USING (o_orderpriority)
        GROUP BY 1, 3, 4"""


register("mad_outlier_report", _q_mad, _mad_sql())


def _q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch re-aggregation — monthly HLL partials union-merged to the
    global grain without a rescan (operators/profiling.py:
    hll_sketch_rollup); oracle checks exact counts + boundedness."""
    from .operators import profiling

    return profiling.hll_sketch_rollup(load(spark, sf_dir, "events"))


register(
    "hll_sketch_rollup",
    _q_hll_rollup,
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS scope,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
              TRUE AS within_bound
       FROM events GROUP BY 1
       UNION ALL
       SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
       FROM events""",
)


def _q_py_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — user-defined Python DataSource (pyspark.sql.datasource V2
    API): distributed partition-planned synthetic ledger, aggregated per
    account (sources/py_datasource.py). The oracle regenerates the rows
    from range() with the same integer hash."""
    from .numeric import dsum
    from .sources.py_datasource import LedgerDataSource

    spark.dataSource.register(LedgerDataSource)
    df = (
        spark.read.format("synth_ledger")
        .option("rows", "8000")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy("account").agg(
        F.count("*").cast("long").alias("n"),
        dsum(F.col("amount")).alias("total"),
    )


register(
    "python_datasource_read",
    _q_py_datasource,
    """WITH g AS (
         SELECT i AS entry_id,
                CAST((i * 2654435761) % 4294967296 AS BIGINT) AS h
         FROM range(0, 8000) t(i)),
       rows_ AS (SELECT entry_id,
                        CAST(h % 97 AS INT) AS account,
                        (h % 1000000) / 100.0 AS amount
                 FROM g)
       SELECT account, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(amount AS DECIMAL(24,8))) AS DOUBLE) AS total
       FROM rows_ GROUP BY account""",
)


def _q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observable metrics (CollectMetrics) — QA counters that ride the
    load pass through the noop sink, no second scan
    (operators/profiling.py:observed_load_metrics)."""
    from .operators import profiling

    return profiling.observed_load_metrics(load(spark, sf_dir, "lineitem"))


register(
    "observed_load_metrics",
    _q_observed_metrics,
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_qty,
              strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_day,
              strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_day,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE)
                AS revenue
       FROM lineitem""",
)


def _q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts for all five FK edges,
    one scan per child table (operators/profiling.py:fk_orphans_report)."""
    from .operators import profiling

    return profiling.fk_orphans_report(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


register(
    "fk_orphans_report",
    _q_fk_orphans,
    """SELECT 'lineitem.l_orderkey -> orders' AS relationship,
              CAST(count(*) AS BIGINT) AS n_child_rows,
              CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
       FROM lineitem l
       UNION ALL
       SELECT 'lineitem.l_partkey -> part', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem l
       UNION ALL
       SELECT 'lineitem.l_suppkey -> supplier', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem l
       UNION ALL
       SELECT 'orders.o_custkey -> customer', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
       FROM orders o
       UNION ALL
       SELECT 'customer.c_nationkey -> nation', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
       FROM customer c""",
)


def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation with average-rank ties — Pearson on
    exact half-integer ranks taken from the value histogram (sorts only
    distinct-value frames; operators/relational.py:spearman_rank_corr)."""
    return relational.spearman_rank_corr(load(spark, sf_dir, "lineitem"))


# the oracle ranks with windows: histogram avg-ranks ≡ window avg-ranks
_SPEARMAN_SQL = f"""WITH r AS (
          SELECT l_returnflag,
                 rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
                   AS rx,
                 rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
                   AS ry
          FROM lineitem),
        m AS (SELECT l_returnflag,
                     CAST(count(*) AS DOUBLE) AS n,
                     {sql_dsum('rx')} AS sx, {sql_dsum('ry')} AS sy,
                     {sql_dsum('rx * rx')} AS sxx, {sql_dsum('ry * ry')} AS syy,
                     {sql_dsum('rx * ry')} AS sxy
              FROM r GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                    THEN {sql_qround(
                        "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)"
                        " * (n * syy - sy * sy))", 6)}
               END AS spearman_rho
        FROM m"""

# both names are driver contract; one plan serves both
register("spearman_rank_corr", _q_spearman, _SPEARMAN_SQL)
register("spearman_rank_corr_scaled", _q_spearman, _SPEARMAN_SQL)


def _q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis — top first-5-step (user, day) journeys
    (operators/events.py:top_event_paths); sort_array(collect_list)
    journey build, no window pass."""
    return events.top_event_paths(load(spark, sf_dir, "events"))


register(
    "top_event_paths",
    _q_event_paths,
    f"""WITH j AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 array_to_string(
                   list_slice(
                     list(event_type ORDER BY ts, event_id),
                     1, {events.PATH_LEN}),
                   '>') AS path
          FROM events GROUP BY user_id, CAST(ts AS DATE)),
        c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_journeys
              FROM j GROUP BY path),
        r AS (SELECT *, row_number() OVER (
                ORDER BY n_journeys DESC, path ASC) AS rn FROM c)
        SELECT path, n_journeys FROM r WHERE rn <= {events.PATH_TOP_N}""",
)


register(
    "gdpr_erasure_audit",
    _layout.gdpr_erasure_audit,
    f"""SELECT CAST(count(*) AS BIGINT) AS n_before,
              CAST(sum(CASE WHEN user_id % {_layout.GDPR_COHORT_MOD}
                                 = {_layout.GDPR_COHORT_REM}
                            THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_erased,
              CAST(count(*) - sum(CASE WHEN user_id % {_layout.GDPR_COHORT_MOD}
                                            = {_layout.GDPR_COHORT_REM}
                                       THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_after,
              CAST(0 AS BIGINT) AS cohort_rows_after
       FROM events""",
)


def _q_user_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — active/new/returning/cumulative-unique per day
    from one (user, day) distinct + first-day window; cumulative runs on
    the calendar-sized day frame (operators/events.py:
    daily_user_accounting)."""
    return events.daily_user_accounting(load(spark, sf_dir, "events"))


register(
    "daily_user_accounting",
    _q_user_accounting,
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                   FROM events),
        m AS (SELECT day,
                     CASE WHEN row_number() OVER (PARTITION BY user_id
                              ORDER BY day) = 1 THEN 1 ELSE 0 END AS is_new
              FROM ud),
        d AS (SELECT day, CAST(count(*) AS BIGINT) AS active_users,
                     CAST(sum(is_new) AS BIGINT) AS new_users
              FROM m GROUP BY day)
        SELECT strftime(day, '%Y-%m-%d') AS day, active_users, new_users,
               active_users - new_users AS returning_users,
               CAST(sum(new_users) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_unique
        FROM d""",
)


def _q_quantile_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles by two-pass histogram narrowing — no per-group full
    sort; SAME oracle as quantile_disc_price, so a green hash proves
    narrowing == naive (operators/relational.py:quantile_two_pass)."""
    return relational.quantile_two_pass(load(spark, sf_dir, "orders"))


register(
    "quantile_two_pass",
    _q_quantile_two_pass,
    """WITH r AS (
         SELECT o_orderpriority, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS rn,
                count(*) OVER (PARTITION BY o_orderpriority) AS n
         FROM orders)
       SELECT o_orderpriority,
              max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS INT) + 1
                       THEN o_totalprice END) AS p50,
              max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS INT) + 1
                       THEN o_totalprice END) AS p90
       FROM r GROUP BY o_orderpriority""",
)


register(
    "version_cdc_feed",
    _layout.version_cdc_feed,
    f"""SELECT event_id, 'delete' AS change_type
       FROM events WHERE user_id % {_layout.GDPR_COHORT_MOD}
                         = {_layout.GDPR_COHORT_REM}""",
)


def _q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — VARIANT semi-structured type (Spark 4): one try_parse_json
    decode, typed variant_get extraction, exact aggregate
    (operators/events.py:variant_props_agg)."""
    return events.variant_props_agg(load(spark, sf_dir, "events"))


register(
    "variant_props_agg",
    _q_variant_props,
    """SELECT event_type,
              CAST(count(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS n_with_k,
              CAST(sum(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sum_k,
              CAST(max(CAST(props ->> '$.k' AS INT)) AS INT) AS max_k
       FROM events GROUP BY event_type""",
)


def _q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 BEGIN...END control flow, public
    SQL/PSM-shaped): a script DECLAREs a variable, SETs it from a scalar
    subquery (decimal-exact mean so the threshold is engine-exact), and
    the final statement filters against it — the multi-step parameterized
    report a SQL-first user writes without leaving SQL. The oracle is the
    equivalent single statement with the subquery inlined."""
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        BEGIN
          DECLARE thresh DOUBLE;
          SET thresh = (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(24,8)))
                                    AS DOUBLE) / count(*) * 1.5
                        FROM orders);
          SELECT CAST(count(*) AS BIGINT) AS n_large,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE)
                   AS revenue,
                 thresh AS threshold
          FROM orders WHERE o_totalprice > thresh;
        END
    """)


register(
    "sql_scripting_pipeline",
    _q_sql_scripting,
    """WITH t AS (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(24,8)))
                              AS DOUBLE) / count(*) * 1.5 AS thresh
                  FROM orders)
       SELECT CAST(count(*) AS BIGINT) AS n_large,
              CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE)
                AS revenue,
              (SELECT thresh FROM t) AS threshold
       FROM orders WHERE o_totalprice > (SELECT thresh FROM t)""",
)


def _q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-format — built-in XML source round-trip (Spark 4), explicit
    schema, post-parse filter (sources/formats.py:xml_roundtrip)."""
    from .sources import formats

    return formats.xml_roundtrip(spark, sf_dir)


from .sources.formats import XML_ROUNDTRIP_SQL  # noqa: E402

register("xml_roundtrip", _q_xml_roundtrip, XML_ROUNDTRIP_SQL)


def _q_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-API-on-Spark front end (pyspark.pandas — the Koalas
    surface): the same engine driven through pandas idioms; groupby/agg
    compile to the identical Catalyst plans as the DataFrame API.
    Integer counts and max only (exact under any aggregation order), cast
    back to Spark for the oracle compare."""
    import pyspark.pandas as ps

    pdf = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).pandas_api()
    g = pdf.groupby("o_orderpriority", dropna=False).agg(
        n=("o_totalprice", "count"), max_price=("o_totalprice", "max")
    )
    out = g.reset_index().to_spark()
    return out.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.col("max_price").alias("max_price"),
    )


register(
    "pandas_api_groupby",
    _q_pandas_api,
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
              max(o_totalprice) AS max_price
       FROM orders GROUP BY o_orderpriority""",
)


def _q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): grouping under UTF8_LCASE treats
    case variants as ONE key at the comparison level — no lower() scan
    rewrite, and range/equality predicates stay sargable under the
    collation. Mixed case is synthesized (even custkeys upper-cased);
    the emitted label is lower()ed because the collated group's
    representative value is whichever variant a partition sees first —
    collation defines equality, not a canonical form. Oracle: the
    classic lower() rewrite."""
    c = load(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    return (
        c.select(mixed.alias("_m"))
        .select(F.expr("collate(_m, 'UTF8_LCASE')").alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lower(F.col("seg")).alias("segment"), "n")
    )


register(
    "collated_segment_count",
    _q_collated_group,
    """SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                         ELSE lower(c_mktsegment) END) AS segment,
              CAST(count(*) AS BIGINT) AS n
       FROM customer GROUP BY 1""",
)


def _q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — cogrouped applyInPandas: per-user (purchases, signups)
    pairs merged with pandas.merge_asof; must reproduce the JVM
    union-then-window as-of bit-for-bit — same oracle as
    asof_join_signup (operators/udx.py:cogroup_asof_pandas)."""
    from .operators import udx as _udx2

    return _udx2.cogroup_asof_pandas(load(spark, sf_dir, "events"))


register(
    "cogroup_asof_pandas",
    _q_cogroup_asof,
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              s.event_id AS signup_id, s.ts AS signup_ts
       FROM events p
       LEFT JOIN LATERAL (
           SELECT event_id, ts FROM events s
           WHERE s.event_type = 'signup' AND s.user_id = p.user_id
             AND s.ts <= p.ts
           ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) s ON TRUE
       WHERE p.event_type = 'purchase'""",
)


def _q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-monitoring drift — PSI between 1997 and 1998 order values
    over a fixed bin grid, quantized contributions
    (operators/profiling.py:psi_price_drift)."""
    from .operators import profiling

    return profiling.psi_price_drift(load(spark, sf_dir, "orders"))


def _psi_sql() -> str:
    from .operators.profiling import PSI_BUCKETS, PSI_DOMAIN, _PSI_SCALE

    lo, hi = PSI_DOMAIN
    width = (hi - lo) / PSI_BUCKETS
    return f"""WITH base AS (
          SELECT least({PSI_BUCKETS - 1}, greatest(0,
                   CAST(floor((o_totalprice - {lo}) / {width}) AS INT))) AS bin,
                 year(o_orderdate) = 1998 AS is_new
          FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
        obs AS (SELECT bin,
                       CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
                FROM base GROUP BY bin),
        per AS (SELECT CAST(s.i AS INT) AS bin,
                       CAST(coalesce(o.n_ref, 0) AS BIGINT) AS n_ref,
                       CAST(coalesce(o.n_new, 0) AS BIGINT) AS n_new
                FROM range(0, {PSI_BUCKETS}) s(i)
                LEFT JOIN obs o ON o.bin = s.i),
        tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                       CAST(sum(n_new) AS BIGINT) AS t_new FROM per),
        scored AS (
          SELECT bin, n_ref, n_new,
                 CAST(floor(
                   (((n_new + 0.5) / (t_new + 0.5 * {PSI_BUCKETS}))
                    - ((n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS})))
                   * ln(((n_new + 0.5) / (t_new + 0.5 * {PSI_BUCKETS}))
                        / ((n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS})))
                   * {_PSI_SCALE}.0 + 0.5) AS BIGINT) AS cq
          FROM per CROSS JOIN tot)
        SELECT CAST(bin AS VARCHAR) AS bin, n_ref, n_new,
               cq / {_PSI_SCALE}.0 AS psi_contrib
        FROM scored
        UNION ALL
        SELECT '<TOTAL>', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(sum(cq) AS BIGINT) / {_PSI_SCALE}.0
        FROM scored"""


register("psi_price_drift", _q_psi_drift, _psi_sql())


def _q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forensic screening — first-digit distribution vs Benford's law
    (operators/profiling.py:benford_digit_report)."""
    from .operators import profiling

    return profiling.benford_digit_report(load(spark, sf_dir, "orders"))


register(
    "benford_digit_report",
    _q_benford,
    """WITH per AS (
          SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                      AS INT) AS digit,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per)
        SELECT digit, n,
               floor((CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                 AS observed_share,
               floor((ln(1.0 + 1.0 / digit) / ln(10.0)) * 1000000.0 + 0.5) / 1000000.0
                 AS benford_share,
               floor(abs(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                         - ln(1.0 + 1.0 / digit) / ln(10.0)) * 1000000.0 + 0.5) / 1000000.0
                 AS abs_dev
        FROM per CROSS JOIN tot""",
)


def _q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market basket — Apriori level-2 part pairs with support and lift;
    co-occurrence blocked on l_orderkey (bounded fanout)
    (operators/relational.py:frequent_itemset_pairs)."""
    return relational.frequent_itemset_pairs(load(spark, sf_dir, "lineitem"))


def _fi_sql() -> str:
    from .operators.relational import FI_MIN_SUPPORT, FI_TOP_N

    return f"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {FI_MIN_SUPPORT}),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
                 FROM b GROUP BY 1),
        no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
        scored AS (
          SELECT p.part_a, p.part_b, p.support,
                 {sql_qround(
                     "(CAST(p.support AS DOUBLE) / CAST(o.n_orders AS DOUBLE))"
                     " / ((CAST(ia.n_item AS DOUBLE) / CAST(o.n_orders AS DOUBLE))"
                     " * (CAST(ib.n_item AS DOUBLE) / CAST(o.n_orders AS DOUBLE)))",
                     4)} AS lift
          FROM pairs p
          JOIN item ia ON ia.l_partkey = p.part_a
          JOIN item ib ON ib.l_partkey = p.part_b
          CROSS JOIN no o),
        r AS (SELECT *, row_number() OVER (
                ORDER BY lift DESC, part_a, part_b) AS rn FROM scored)
        SELECT part_a, part_b, support, lift FROM r WHERE rn <= {FI_TOP_N}"""


register("frequent_itemset_pairs", _q_frequent_pairs, _fi_sql())


def _q_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift — chi-square independence statistic for
    priority x quarter (operators/relational.py:chisq_contingency)."""
    return relational.chisq_contingency(load(spark, sf_dir, "orders"))


register(
    "chisq_contingency",
    _q_chisq,
    """WITH obs AS (
          SELECT o_orderpriority AS r, quarter(o_orderdate) AS c,
                 CAST(count(*) AS BIGINT) AS o
          FROM orders GROUP BY 1, 2),
        grid AS (SELECT r, c FROM (SELECT DISTINCT r FROM obs)
                 CROSS JOIN (SELECT DISTINCT c FROM obs)),
        cells AS (SELECT g.r, g.c, CAST(coalesce(o.o, 0) AS BIGINT) AS o
                  FROM grid g LEFT JOIN obs o ON o.r = g.r AND o.c = g.c),
        rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS row_t FROM cells GROUP BY r),
        ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS col_t FROM cells GROUP BY c),
        nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                      CAST(count(DISTINCT r) AS BIGINT) AS nr,
                      CAST(count(DISTINCT c) AS BIGINT) AS nc
               FROM cells),
        q AS (SELECT CAST(floor(
                 (CAST(cells.o AS DOUBLE)
                  - CAST(rt.row_t AS DOUBLE) * CAST(ct.col_t AS DOUBLE)
                    / CAST(nn.n AS DOUBLE))
                 * (CAST(cells.o AS DOUBLE)
                    - CAST(rt.row_t AS DOUBLE) * CAST(ct.col_t AS DOUBLE)
                      / CAST(nn.n AS DOUBLE))
                 / (CAST(rt.row_t AS DOUBLE) * CAST(ct.col_t AS DOUBLE)
                    / CAST(nn.n AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT) AS cq,
                 nn.n AS n, nn.nr AS nr, nn.nc AS nc
              FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN nn)
        SELECT max(n) AS n,
               CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
               CAST(sum(cq) AS BIGINT) / 1000000000.0 AS chi2
        FROM q""",
)


def _q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity planning — per-day peak concurrent sessions via the
    distributed sweep line (per-day running sums + calendar-sized
    carry-in; operators/events.py:concurrent_sessions_daily). Oracle is
    the naive single global window."""
    return events.concurrent_sessions_daily(load(spark, sf_dir, "events"))


register(
    "concurrent_sessions_daily",
    _q_concurrency,
    """WITH e AS (SELECT user_id, event_id, ts,
                        epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events),
        l AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev FROM e),
        f AS (SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800
                             THEN 1 ELSE 0 END AS new_sess FROM l),
        s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sn
              FROM f),
        sess AS (SELECT user_id, sn, min(ts) AS session_start,
                        max(ts) AS session_end
                 FROM s GROUP BY user_id, sn),
        pts AS (SELECT session_start AS ts, 1 AS delta, user_id FROM sess
                UNION ALL
                SELECT session_end, -1, user_id FROM sess),
        run AS (SELECT CAST(ts AS DATE) AS day,
                       sum(delta) OVER (ORDER BY ts, delta, user_id
                                        ROWS UNBOUNDED PRECEDING) AS run,
                       delta
                FROM pts),
        agg AS (SELECT day, CAST(max(run) AS BIGINT) AS day_peak,
                       CAST(sum(delta) AS BIGINT) AS day_delta
                FROM run GROUP BY day)
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(coalesce(sum(day_delta) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS open_at_start,
               CAST(greatest(
                 coalesce(sum(day_delta) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
                 day_peak) AS BIGINT) AS day_peak
        FROM agg""",
)


def _q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRM analytics — RFM quintile segmentation census
    (operators/relational.py:rfm_segments)."""
    return relational.rfm_segments(load(spark, sf_dir, "orders"))


register(
    "rfm_segments",
    _q_rfm,
    f"""WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
        per AS (
          SELECT o_custkey,
                 date_diff('day', max(CAST(o_orderdate AS DATE)),
                           (SELECT ref_day FROM ref)) AS recency_days,
                 CAST(count(*) AS BIGINT) AS freq,
                 {sql_dsum('o_totalprice')} AS monetary
          FROM orders GROUP BY o_custkey),
        scored AS (
          SELECT ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r,
                 ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS f,
                 ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m
          FROM per)
        SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-' ||
               CAST(m AS VARCHAR) AS segment,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM scored GROUP BY 1""",
)


def _q_rfm_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRM analytics at 100 TB posture — RFM census with histogram-cutoff
    quintiles and narrow scoring; zero unpartitioned windows
    (operators/relational.py:rfm_segments_scaled)."""
    return relational.rfm_segments_scaled(load(spark, sf_dir, "orders"))


def _rfm_scaled_sql() -> str:
    from .operators.relational import RFM_QS

    dims = {"recency": "rv", "freq": "fv", "monetary": "mv"}
    rn = {"recency": "rr", "freq": "rf", "monetary": "rm"}
    cuts = ",\n    ".join(
        f"max(CASE WHEN {rn[d]} = CAST(floor({q} * (n - 1)) AS BIGINT) + 1 "
        f"THEN {v} END) AS {d}_{int(q * 100)}"
        for d, v in dims.items()
        for q in RFM_QS
    )

    def n_above(value: str, d: str) -> str:
        return " + ".join(
            f"(CASE WHEN {value} > c.{d}_{int(q * 100)} THEN 1 ELSE 0 END)"
            for q in RFM_QS
        )

    return f"""
    WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
    per AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT ref_day FROM ref)) AS recency_days,
             CAST(count(*) AS BIGINT) AS freq,
             {sql_dsum('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey),
    rks AS (
      SELECT CAST(recency_days AS DOUBLE) AS rv, CAST(freq AS DOUBLE) AS fv,
             monetary AS mv,
             row_number() OVER (ORDER BY recency_days) AS rr,
             row_number() OVER (ORDER BY freq) AS rf,
             row_number() OVER (ORDER BY monetary) AS rm,
             count(*) OVER () AS n
      FROM per),
    cuts AS (SELECT
    {cuts}
    FROM rks),
    scored AS (
      SELECT CAST(5 - ({n_above('CAST(p.recency_days AS DOUBLE)', 'recency')}) AS INT) AS r,
             CAST(1 + ({n_above('CAST(p.freq AS DOUBLE)', 'freq')}) AS INT) AS f,
             CAST(1 + ({n_above('p.monetary', 'monetary')}) AS INT) AS m
      FROM per p CROSS JOIN cuts c)
    SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-' ||
           CAST(m AS VARCHAR) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1"""


register("rfm_segments_scaled", _q_rfm_scaled, _rfm_scaled_sql())


def _q_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI staple — YoY monthly revenue growth, lag-12 over the
    calendar-sized month frame (operators/relational.py:
    yoy_revenue_growth)."""
    return relational.yoy_revenue_growth(load(spark, sf_dir, "orders"))


register(
    "yoy_revenue_growth",
    _q_yoy,
    f"""WITH m AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
                         {sql_dsum('o_totalprice')} AS revenue
                  FROM orders GROUP BY 1),
        prev AS (SELECT strftime(CAST(month || '-01' AS DATE)
                                 + INTERVAL 12 MONTH, '%Y-%m') AS month,
                        revenue AS prev_revenue
                 FROM m)
        SELECT m.month, m.revenue,
               {sql_qround(
                   "(m.revenue - p.prev_revenue) / p.prev_revenue * 100.0", 4)}
                 AS yoy_pct
        FROM m LEFT JOIN prev p ON p.month = m.month""",
)


def _q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity — order-insensitive md5-lane table checksum, the
    cross-system migration validator (operators/profiling.py:
    table_checksum)."""
    from .operators import profiling

    return profiling.table_checksum(load(spark, sf_dir, "lineitem"))


def _checksum_sql() -> str:
    from .registry_ops import _sql_md5_prefix_value

    row = ("""CAST(l_orderkey AS VARCHAR) || '|' ||
              CAST(l_linenumber AS VARCHAR) || '|' ||
              CAST(l_partkey AS VARCHAR) || '|' ||
              CAST(l_suppkey AS VARCHAR) || '|' ||
              l_returnflag || '|' || l_linestatus || '|' ||
              strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') || '|' ||
              CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
              CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)""")
    return f"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum({_sql_md5_prefix_value(f"({row})", 6)}) AS BIGINT)
                AS checksum_lane1,
              CAST(sum({_sql_md5_prefix_value(f"({row})", 6, 6)}) AS BIGINT)
                AS checksum_lane2
       FROM lineitem"""


register("table_checksum", _q_table_checksum, _checksum_sql())


def _q_cube_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate UNDER cube — the Expand + distinct-rewrite
    combination none of the other grouping entries exercise (Catalyst
    plans a double Expand: one for the grouping sets, one for the
    distinct column); counts distinct suppliers per (returnflag,
    linestatus) cell including all subtotal levels."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.count("*").alias("n_rows"),
        )
    )


register(
    "cube_distinct_suppliers",
    _q_cube_distinct,
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
              CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
              count(*) AS n_rows
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)


def _q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 |> operators — the GoogleSQL-style
    linear query form, public): the Q1-pricing shape written as a
    pipeline of FROM |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY.
    Same Catalyst plan as the nested form; the oracle is the classic
    ANSI statement, proving the syntaxes are semantically identical."""
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
      FROM lineitem
      |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |> AGGREGATE
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE)
             AS sum_price
         GROUP BY l_returnflag, l_linestatus
      |> ORDER BY l_returnflag, l_linestatus
    """)


register(
    "sql_pipe_syntax",
    _q_pipe_syntax,
    """SELECT l_returnflag, l_linestatus,
              count(*) AS n_rows,
              CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE)
                AS sum_price
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)


def _q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — gap-correct trailing-week revenue (value-
    bounded frame vs the ROWS frames used elsewhere; operators/
    relational.py:rolling_range_revenue)."""
    return relational.rolling_range_revenue(load(spark, sf_dir, "orders"))


register(
    "rolling_range_revenue",
    _q_rolling_range,
    f"""WITH daily AS (
          SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
                 {sql_dsum('o_totalprice')} AS revenue
          FROM orders GROUP BY 1, 2)
        SELECT series, strftime(day, '%Y-%m-%d') AS day, revenue,
               CAST(coalesce(sum(CAST(revenue AS DECIMAL(24,8))) OVER (
                   PARTITION BY series
                   ORDER BY date_diff('day', DATE '1970-01-01', day)
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0)
                 AS DOUBLE) AS trailing_week
        FROM daily""",
)


# --- PCA top component over embeddings (power iteration) -------------------


def _q_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding linear algebra — top principal component via power
    iteration (operators/similarity.py:pca_top_component): distributed
    n·d² moment aggregate, d×d control-plane iteration."""
    from .operators import similarity as _sim

    return _sim.pca_top_component(load(spark, sf_dir, "embeddings"))


def _pca_ctes() -> tuple[list[str], int]:
    """Shared iterative-CTE body for the PCA entries: moments, covariance,
    and the quantized power-iteration recurrence up to v{T}."""
    from .operators.similarity import PCA_ITERS

    ctes = [
        """ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xj,
                        generate_subscripts(embedding, 1) AS j1
                 FROM embeddings)""",
        """mom AS (SELECT a.j1 AS j, b.j1 AS k,
                 sum(CAST(floor((a.xj * b.xj) * 1000000000.0 + 0.5) AS BIGINT))
                   AS sq
          FROM ex a JOIN ex b USING (vec_id) WHERE b.j1 >= a.j1
          GROUP BY 1, 2)""",
        """mean AS (SELECT j1 AS j,
                  sum(CAST(floor(xj * 1000000.0 + 0.5) AS BIGINT)) AS mq
           FROM ex GROUP BY 1)""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)",
        """covU AS (SELECT m.j, m.k,
                 ((CAST(m.sq AS DOUBLE) / 1000000000.0) / nn.n)
                 - (((CAST(mj.mq AS DOUBLE) / 1000000.0) / nn.n)
                    * ((CAST(mk.mq AS DOUBLE) / 1000000.0) / nn.n)) AS c
          FROM mom m JOIN mean mj ON m.j = mj.j JOIN mean mk ON m.k = mk.j
          CROSS JOIN nn)""",
        """covC AS (SELECT j, k, c FROM covU
           UNION ALL SELECT k AS j, j AS k, c FROM covU WHERE j <> k)""",
        "v0 AS (SELECT j, 0.125 AS v FROM mean)",
    ]
    for t in range(1, PCA_ITERS + 1):
        ctes.append(
            f"""mv{t} AS (SELECT cc.k,
                 sum(CAST(floor((cc.c * v.v) * 1000000000000.0 + 0.5) AS BIGINT))
                   AS qs
               FROM covC cc JOIN v{t - 1} v ON cc.j = v.j GROUP BY cc.k)"""
        )
        ctes.append(
            f"u{t} AS (SELECT k, CAST(qs AS DOUBLE) / 1000000000000.0 AS u"
            f" FROM mv{t})"
        )
        ctes.append(
            f"""n{t} AS (SELECT sqrt(CAST(sum(CAST(floor((u * u)
                 * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000000000.0) AS nrm FROM u{t})"""
        )
        ctes.append(
            f"""v{t} AS (SELECT k AS j,
                 floor((u / nrm) * 100000000.0 + 0.5) / 100000000.0 AS v
               FROM u{t} CROSS JOIN n{t})"""
        )
    T = PCA_ITERS
    ctes.append(
        f"""mvF AS (SELECT cc.k,
             sum(CAST(floor((cc.c * v.v) * 1000000000000.0 + 0.5) AS BIGINT))
               AS qs
           FROM covC cc JOIN v{T} v ON cc.j = v.j GROUP BY cc.k)"""
    )
    ctes.append(
        "uF AS (SELECT k, CAST(qs AS DOUBLE) / 1000000000000.0 AS u FROM mvF)"
    )
    ctes.append(
        f"""lamq AS (SELECT sum(CAST(floor((v.v * u.u) * 1000000000000.0 + 0.5)
             AS BIGINT)) AS lq
           FROM v{T} v JOIN uF u ON v.j = u.k)"""
    )
    ctes.append(
        """trq AS (SELECT sum(CAST(floor(c * 1000000000.0 + 0.5) AS BIGINT))
             AS tq FROM covC WHERE j = k)"""
    )
    ctes.append(
        """met AS (SELECT
             floor((CAST(lq AS DOUBLE) / 1000000000000.0) * 1000000.0 + 0.5)
               / 1000000.0 AS eigenvalue,
             floor(((CAST(lq AS DOUBLE) / 1000000000000.0)
                    / (CAST(tq AS DOUBLE) / 1000000000.0)) * 1000000.0 + 0.5)
               / 1000000.0 AS var_share
           FROM lamq CROSS JOIN trq)"""
    )
    # MATERIALIZED is load-bearing: v{t} references u{t} twice, so with
    # inlined CTEs the plan doubles per iteration (2^ITERS copies of the
    # n*d^2 moment join) and the oracle never finishes.
    return [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes], T


def _pca_sql() -> str:
    ctes, T = _pca_ctes()
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
        SELECT CAST(v.j AS INT) AS dim, v.v AS loading,
               m.eigenvalue, m.var_share
        FROM v{T} v CROSS JOIN met m"""
    )


register("pca_top_component", _q_pca_top, _pca_sql())


def _q_pca_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top projection scores/residual norms per vector
    (operators/similarity.py:pca_project_residual): control-plane power
    iteration + narrow JVM-side zip_with/aggregate map."""
    from .operators import similarity as _sim

    return _sim.pca_project_residual(load(spark, sf_dir, "embeddings"))


def _pca_residual_sql() -> str:
    ctes, T = _pca_ctes()
    ctes.append(
        f"""proj AS MATERIALIZED (SELECT e.vec_id,
             sum(CAST(floor(e.xj * v.v * 1000000000000.0 + 0.5) AS BIGINT))
               AS sq,
             sum(CAST(floor(e.xj * e.xj * 1000000000000.0 + 0.5) AS BIGINT))
               AS ssq
           FROM ex e JOIN v{T} v ON e.j1 = v.j GROUP BY 1)"""
    )
    score = "(CAST(sq AS DOUBLE) / 1000000000000.0)"
    ssq = "(CAST(ssq AS DOUBLE) / 1000000000000.0)"
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
        SELECT vec_id,
               floor({score} * 1000000.0 + 0.5) / 1000000.0 AS score,
               floor(sqrt(greatest({ssq} - {score} * {score}, 0.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS resid_norm
        FROM proj"""
    )


register("pca_project_residual", _q_pca_residual, _pca_residual_sql())


# --- two-sample statistics (welch t / mann-whitney u) ----------------------


def _q_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-test on o_totalprice between priority
    populations (operators/relational.py:welch_ttest): one scalar
    conditional-moment aggregate."""
    return relational.welch_ttest(load(spark, sf_dir, "orders"))


_W_A = "1-URGENT"
_W_B = "5-LOW"


def _welch_sql() -> str:
    def side(tag: str, pri: str) -> str:
        p = f"CASE WHEN o_orderpriority = '{pri}' THEN CAST(o_totalprice AS DOUBLE) END"
        return (
            f"CAST(count({p}) AS DOUBLE) AS n_{tag}, "
            f"{_d(p)} AS sx_{tag}, "
            f"{_d(f'({p}) * ({p})')} AS sxx_{tag}"
        )

    return f"""
        WITH m AS (SELECT {side('a', _W_A)}, {side('b', _W_B)} FROM orders),
        v AS (SELECT n_a, n_b, sx_a / n_a AS ma, sx_b / n_b AS mb,
                     (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS va,
                     (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS vb
              FROM m),
        s AS (SELECT n_a, n_b, ma, mb, va, vb,
                     va / n_a + vb / n_b AS se2 FROM v)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               floor(ma * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
               floor(mb * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
               floor(((ma - mb) / sqrt(se2)) * 1000000.0 + 0.5) / 1000000.0
                 AS t_stat,
               floor(((se2 * se2)
                      / ((va / n_a) * (va / n_a) / (n_a - 1)
                         + (vb / n_b) * (vb / n_b) / (n_b - 1)))
                     * 10000.0 + 0.5) / 10000.0 AS dof
        FROM s"""


register("welch_ttest", _q_welch, _welch_sql())


def _q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U / Wilcoxon rank-sum between the same populations
    (operators/relational.py:mann_whitney_u): histogram ranks, bucketed
    prefix sums, no data-sized sort."""
    return relational.mann_whitney_u(load(spark, sf_dir, "orders"))


def _mannwhitney_sql() -> str:
    return f"""
        WITH vals AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 count(CASE WHEN o_orderpriority = '{_W_A}' THEN 1 END) AS ca,
                 count(CASE WHEN o_orderpriority = '{_W_B}' THEN 1 END) AS cb
          FROM orders
          WHERE o_orderpriority IN ('{_W_A}', '{_W_B}')
          GROUP BY 1),
        r AS (
          SELECT ca, cb, ca + cb AS t,
                 coalesce(sum(ca + cb) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lt
          FROM vals),
        agg AS (
          SELECT CAST(sum(CAST(ca AS DECIMAL(38,0))) AS DOUBLE) AS n_a,
                 CAST(sum(CAST(cb AS DECIMAL(38,0))) AS DOUBLE) AS n_b,
                 CAST(sum(CAST(ca * (2 * cum_lt + t + 1) AS DECIMAL(38,0)))
                      AS DOUBLE) AS r2a,
                 CAST(sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
                   AS ties
          FROM r)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               (r2a - n_a * (n_a + 1)) / 2.0 AS u_a,
               n_a * n_b - (r2a - n_a * (n_a + 1)) / 2.0 AS u_b,
               floor((((r2a - n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0)
                      / sqrt(n_a * n_b / 12.0
                             * ((n_a + n_b + 1)
                                - ties / ((n_a + n_b) * (n_a + n_b - 1)))))
                     * 1000000.0 + 0.5) / 1000000.0 AS z_score
        FROM agg"""


register("mann_whitney_u", _q_mannwhitney, _mannwhitney_sql())


# --- conversion attribution (operators/attribution.py) ---------------------

from .operators import attribution as _attr  # noqa: E402

_ATTR_TOUCH_IN = ", ".join(f"'{t}'" for t in _attr.ATTR_TOUCH_TYPES)


def _q_attr_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution — last-touch revenue credit per channel
    (operators/attribution.py:last_touch): one user-partitioned window +
    channel-sized aggregate."""
    return _attr.last_touch(load(spark, sf_dir, "events"))


_ATTR_LAST_SQL = f"""WITH tagged AS (
          SELECT event_type, value,
                 last_value(CASE WHEN event_type IN ({_ATTR_TOUCH_IN})
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS channel
          FROM events)
        SELECT coalesce(channel, '{_attr.ATTR_NO_TOUCH}') AS channel,
               CAST(count(*) AS BIGINT) AS n_conversions,
               {_d('value')} AS attributed_revenue
        FROM tagged WHERE event_type = '{_attr.ATTR_CONVERSION_TYPE}'
        GROUP BY 1 ORDER BY 1"""

register("attribution_last_touch", _q_attr_last, _ATTR_LAST_SQL)

# streaming twin: same oracle — the emitted credit stream's channel
# rollup must equal the batch window form exactly
register("streaming_last_touch", _sq.streaming_last_touch, _ATTR_LAST_SQL)


def _q_attr_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution — linear (equal-split) credit over a 7-day lookback
    (operators/attribution.py:linear_attribution): user-equi range join +
    conv-keyed split window."""
    return _attr.linear_attribution(load(spark, sf_dir, "events"))


register(
    "attribution_linear",
    _q_attr_linear,
    f"""WITH convs AS (
          SELECT event_id AS conv_id, user_id AS c_user, ts AS c_ts,
                 value AS c_value
          FROM events WHERE event_type = '{_attr.ATTR_CONVERSION_TYPE}'),
        touches AS (
          SELECT user_id AS t_user, ts AS t_ts, event_type AS channel
          FROM events WHERE event_type IN ({_ATTR_TOUCH_IN})),
        pairs AS (
          SELECT conv_id, channel, c_value,
                 count(*) OVER (PARTITION BY conv_id) AS k
          FROM convs JOIN touches
            ON c_user = t_user
           AND t_ts >= c_ts - INTERVAL {_attr.ATTR_LOOKBACK_SEC} SECOND
           AND t_ts < c_ts)
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_touchpoints,
               CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
               {_d('c_value / CAST(k AS DOUBLE)')} AS credited_revenue
        FROM pairs GROUP BY 1 ORDER BY 1""",
)


# --- autocorrelation (operators/relational.py:autocorr_daily_revenue) ------


def _q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — sample ACF of daily revenue at lags 1..7
    (operators/relational.py:autocorr_daily_revenue): one daily
    aggregate + a calendar-bounded lag window."""
    return relational.autocorr_daily_revenue(load(spark, sf_dir, "orders"))


def _acf_sql() -> str:
    k = relational.ACF_MAX_LAG
    lags = ", ".join(
        f"lag(dv, {j}) OVER (ORDER BY day) AS l{j}" for j in range(1, k + 1)
    )
    nums = ", ".join(
        f"{_d(f'dv * l{j}')} AS num{j}" for j in range(1, k + 1)
    )
    from .numeric import sql_qround as _q

    rs = ", ".join(
        f"CASE WHEN den <> 0.0 THEN {_q(f'num{j} / den', 6)} END AS r{j}"
        for j in range(1, k + 1)
    )
    rcase = "CASE l.lag " + " ".join(
        f"WHEN {j} THEN r{j}" for j in range(1, k + 1)
    ) + " END"
    vals = ", ".join(f"({j})" for j in range(1, k + 1))
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} / {relational.ACF_REV_SCALE} AS x
          FROM orders GROUP BY 1),
        m AS (SELECT {_d('x')} / CAST(count(*) AS DOUBLE) AS mu FROM daily),
        dev AS (SELECT day, x - mu AS dv FROM daily CROSS JOIN m),
        lagd AS (SELECT dv, {lags} FROM dev),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                       {_d('dv * dv')} AS den, {nums}
                FROM lagd),
        scored AS (SELECT n_days, {rs} FROM agg)
        SELECT CAST(l.lag AS INT) AS lag, {rcase} AS acf, n_days
        FROM scored CROSS JOIN (VALUES {vals}) l(lag)
        ORDER BY 1"""


register("autocorr_daily_revenue", _q_acf, _acf_sql())


def _q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market basket — directed Apriori rules with confidence and lift
    (operators/relational.py:association_rules); blocked co-occurrence
    join + broadcast item frequencies."""
    return relational.association_rules(load(spark, sf_dir, "lineitem"))


def _assoc_sql() -> str:
    from .operators.relational import AR_TOP_N, FI_MIN_SUPPORT

    return f"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {FI_MIN_SUPPORT}),
        directed AS (
          SELECT part_a AS antecedent, part_b AS consequent, support FROM pairs
          UNION ALL
          SELECT part_b AS antecedent, part_a AS consequent, support FROM pairs),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
                 FROM b GROUP BY 1),
        no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
        scored AS (
          SELECT d.antecedent, d.consequent, d.support,
                 {sql_qround(
                     "CAST(d.support AS DOUBLE) / CAST(ia.n_item AS DOUBLE)",
                     6)} AS confidence,
                 {sql_qround(
                     "(CAST(d.support AS DOUBLE) / CAST(ia.n_item AS DOUBLE))"
                     " / (CAST(ic.n_item AS DOUBLE) / CAST(o.n_orders AS DOUBLE))",
                     4)} AS lift
          FROM directed d
          JOIN item ia ON ia.l_partkey = d.antecedent
          JOIN item ic ON ic.l_partkey = d.consequent
          CROSS JOIN no o),
        r AS (SELECT *, row_number() OVER (
                ORDER BY confidence DESC, antecedent, consequent) AS rn
              FROM scored)
        SELECT antecedent, consequent, support, confidence, lift
        FROM r WHERE rn <= {AR_TOP_N}"""


register("association_rules", _q_assoc_rules, _assoc_sql())


def _q_weekday_season(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — weekday seasonality index of daily revenue
    (operators/relational.py:weekday_seasonality): daily aggregate +
    calendar-bounded weekday rollup."""
    return relational.weekday_seasonality(load(spark, sf_dir, "orders"))


def _weekday_sql() -> str:
    from .numeric import sql_qround as _q

    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders GROUP BY 1),
        m AS (SELECT {_d('x')} / CAST(count(*) AS DOUBLE) AS mu FROM daily),
        wd AS (SELECT CAST(isodow(day) AS INT) AS weekday,
                      CAST(count(*) AS BIGINT) AS n_days,
                      {_d('x')} / CAST(count(*) AS DOUBLE) AS wd_mean
               FROM daily GROUP BY 1)
        SELECT weekday, n_days,
               {_q('wd_mean', 4)} AS mean_revenue,
               {_q('wd_mean / mu', 6)} AS seasonality_index
        FROM wd CROSS JOIN m ORDER BY 1"""


register("weekday_seasonality", _q_weekday_season, _weekday_sql())


# --- share-of-total / concentration / audience analytics -------------------


def _q_share_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP — ratio-to-report: nation revenue share within region + rank
    (operators/relational.py:share_of_total); broadcast dim path, windows
    over the nation-sized frame."""
    return relational.share_of_total(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


register(
    "share_of_total",
    _q_share_total,
    f"""WITH rev AS (
          SELECT r_name AS region_name, n_name AS nation_name,
                 {_d('o_totalprice')} AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2),
        w AS (SELECT *,
                CAST(sum(CAST(revenue AS DECIMAL(24,8)))
                     OVER (PARTITION BY region_name) AS DOUBLE) AS tot,
                row_number() OVER (PARTITION BY region_name
                  ORDER BY revenue DESC, nation_name ASC) AS rk
              FROM rev)
        SELECT region_name, nation_name, revenue,
               {sql_qround('revenue / tot', 6)} AS share_in_region,
               CAST(rk AS INT) AS rank_in_region
        FROM w ORDER BY region_name, rank_in_region""",
)


def _q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats — Gini coefficient of per-customer revenue concentration,
    rank-free via the bucketed-prefix histogram
    (operators/relational.py:gini_revenue)."""
    return relational.gini_revenue(load(spark, sf_dir, "orders"))


def _gini_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import GINI_REV_SCALE

    ranksum = (
        "CAST(c AS DOUBLE) * (2 * CAST(cum_lt AS DOUBLE)"
        " + CAST(c AS DOUBLE) + 1) / 2.0"
    )
    return f"""
        WITH percust AS (
          SELECT o_custkey, {_d('o_totalprice')} / {GINI_REV_SCALE} AS x
          FROM orders GROUP BY 1),
        vals AS (SELECT x, CAST(count(*) AS BIGINT) AS c
                 FROM percust GROUP BY 1),
        r AS (SELECT x, c,
                coalesce(sum(c) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cum_lt
              FROM vals),
        agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_customers,
                       {_d('x * CAST(c AS DOUBLE)')} AS total_x,
                       {_d(f'x * ({ranksum})')} AS s1
                FROM r)
        SELECT n_customers,
               {_q(f'total_x * {GINI_REV_SCALE}', 4)} AS total_revenue,
               {_q('2.0 * s1 / (CAST(n_customers AS DOUBLE) * total_x)'
                   ' - (CAST(n_customers AS DOUBLE) + 1)'
                   ' / CAST(n_customers AS DOUBLE)', 6)} AS gini
        FROM agg"""


register("gini_revenue", _q_gini, _gini_sql())


def _q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events — audience overlap matrix between event types
    (operators/events.py:audience_overlap); user-blocked self-join with
    type-bounded fanout."""
    return events.audience_overlap(load(spark, sf_dir, "events"))


register(
    "audience_overlap",
    _q_audience_overlap,
    f"""WITH base AS (SELECT DISTINCT event_type, user_id FROM events),
        sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                  FROM base GROUP BY 1),
        ab AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                      CAST(count(*) AS BIGINT) AS n_both
               FROM base x JOIN base y
                 ON x.user_id = y.user_id
                AND x.event_type < y.event_type
               GROUP BY 1, 2)
        SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
               {sql_qround(
                   "CAST(n_both AS DOUBLE) / (CAST(sa.n AS DOUBLE)"
                   " + CAST(sb.n AS DOUBLE) - CAST(n_both AS DOUBLE))",
                   6)} AS jaccard
        FROM ab
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b
        ORDER BY type_a, type_b""",
)


def _q_engagement_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events — power-user curve: log2 activity bands with volume shares
    (operators/events.py:engagement_histogram)."""
    return events.engagement_histogram(load(spark, sf_dir, "events"))


register(
    "engagement_histogram",
    _q_engagement_hist,
    f"""WITH peruser AS (SELECT user_id, count(*) AS n
                         FROM events GROUP BY 1),
        bands AS (SELECT CAST(floor(log2(CAST(n AS DOUBLE))) AS INT) AS band,
                         CAST(count(*) AS BIGINT) AS n_users,
                         CAST(sum(n) AS BIGINT) AS n_events
                  FROM peruser GROUP BY 1),
        t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM bands),
        c AS (SELECT band, n_users, n_events,
                     CAST(sum(n_events) OVER (ORDER BY band DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM bands)
        SELECT band, n_users, n_events,
               {sql_qround("CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE)", 6)}
                 AS share_events,
               {sql_qround("CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)", 6)}
                 AS cum_share_from_top
        FROM c CROSS JOIN t ORDER BY band DESC""",
)


def _q_ab_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events — A/B conversion readout with Wilson 95% intervals
    (operators/events.py:ab_test_wilson)."""
    return events.ab_test_wilson(load(spark, sf_dir, "events"))


def _ab_wilson_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.events import AB_Z

    z, z2 = repr(AB_Z), repr(AB_Z * AB_Z)
    p = "CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)"
    n = "CAST(n_users AS DOUBLE)"
    denom = f"(1.0 + {z2} / {n})"
    center = f"(({p} + {z2} / (2.0 * {n})) / {denom})"
    half = (
        f"({z} * sqrt({p} * (1.0 - {p}) / {n}"
        f" + {z2} / (4.0 * {n} * {n})) / {denom})"
    )
    return f"""
        WITH per_user AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
          FROM events GROUP BY 1),
        g AS (SELECT CAST(user_id % 2 AS INT) AS variant,
                     CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(converted) AS BIGINT) AS n_converted
              FROM per_user GROUP BY 1)
        SELECT variant, n_users, n_converted,
               {_q(p, 6)} AS rate,
               {_q(f"{center} - {half}", 6)} AS wilson_low,
               {_q(f"{center} + {half}", 6)} AS wilson_high
        FROM g ORDER BY variant"""


register("ab_test_wilson", _q_ab_wilson, _ab_wilson_sql())


def _q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational — order-to-ship latency histogram with cumulative
    shares on the bounded day domain
    (operators/relational.py:shipping_latency_profile)."""
    return relational.shipping_latency_profile(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


register(
    "shipping_latency_profile",
    _q_ship_latency,
    f"""WITH j AS (
          SELECT date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) AS latency_days
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        hist AS (SELECT latency_days, CAST(count(*) AS BIGINT) AS n
                 FROM j GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM hist),
        c AS (SELECT latency_days, n,
                     CAST(sum(n) OVER (ORDER BY latency_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM hist)
        SELECT CAST(latency_days AS INT) AS latency_days, n,
               {sql_qround("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)", 6)}
                 AS share,
               {sql_qround("CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)", 6)}
                 AS cum_share
        FROM c CROSS JOIN t ORDER BY latency_days""",
)


def _q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events — exp-decay recency-weighted engagement top-k
    (operators/events.py:decayed_engagement)."""
    return events.decayed_engagement(load(spark, sf_dir, "events"))


def _decay_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.events import (
        DECAY_LAMBDA_PER_DAY,
        DECAY_REF_EPOCH,
        DECAY_TOP_K,
    )

    term = (
        f"exp({repr(-DECAY_LAMBDA_PER_DAY)}"
        f" * (({repr(DECAY_REF_EPOCH)} - epoch(ts)) / 86400.0))"
    )
    return f"""
        WITH g AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                 {_d(term)} AS score_raw
          FROM events GROUP BY 1),
        s AS (SELECT user_id, n_events,
                     {_q('score_raw', 6)} AS decay_score
              FROM g),
        r AS (SELECT *, row_number() OVER (
                ORDER BY decay_score DESC, user_id ASC) AS rn FROM s)
        SELECT user_id, n_events, decay_score
        FROM r WHERE rn <= {DECAY_TOP_K} ORDER BY rn"""


register("decayed_engagement", _q_decayed_engagement, _decay_sql())


def _q_segment_pcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational — exact PERCENTILE_DISC-style per-segment percentiles
    via two-pass histogram narrowing, with no per-segment full-sort
    window (operators/relational.py:segment_percentiles). The oracle
    ranks each whole segment, so a green hash proves narrowing ≡ naive
    per-group rank."""
    return relational.segment_percentiles(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


def _segment_pcts_sql() -> str:
    from .operators.relational import SEGMENT_PCTS

    picks = " UNION ALL ".join(
        f"""SELECT c_mktsegment, CAST({q!r} AS DOUBLE) AS pct, v AS value,
                   CAST(n AS BIGINT) AS n_orders
            FROM ranked WHERE rn = ceil({q!r} * CAST(n AS DOUBLE))"""
        for q in SEGMENT_PCTS
    )
    return f"""
        WITH j AS (SELECT c_mktsegment, o_totalprice AS v
                   FROM orders JOIN customer ON o_custkey = c_custkey),
        ranked AS (SELECT c_mktsegment, v,
                          row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY v) AS rn,
                          count(*) OVER (PARTITION BY c_mktsegment) AS n
                   FROM j)
        SELECT * FROM ({picks}) ORDER BY c_mktsegment, pct"""


# both names are driver contract; one plan serves both
register("segment_percentiles", _q_segment_pcts, _segment_pcts_sql())
register("segment_percentiles_scaled", _q_segment_pcts, _segment_pcts_sql())


def _q_wd_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — weekday-adjusted revenue anomaly days
    (operators/relational.py:weekday_adjusted_anomalies)."""
    return relational.weekday_adjusted_anomalies(load(spark, sf_dir, "orders"))


def _wd_anom_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import ANOM_Z_THRESHOLD

    mean_r = "(sr / n)"
    var = f"((srr_m * 1000000.0 - n * {mean_r} * {mean_r}) / (n - 1))"
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders GROUP BY 1),
        wd AS (SELECT CAST(isodow(day) AS INT) AS weekday,
                      {_d('x')} / CAST(count(*) AS DOUBLE) AS wd_mean
               FROM daily GROUP BY 1),
        resid AS (SELECT day, CAST(isodow(day) AS INT) AS weekday, x,
                         x - wd_mean AS r
                  FROM daily JOIN wd ON CAST(isodow(day) AS INT) = weekday),
        mom AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       {_d('r')} AS sr,
                       {_d('r * r / 1000000.0')} AS srr_m
                FROM resid),
        f AS (SELECT strftime(day, '%Y-%m-%d') AS day, weekday,
                     {_q('x', 4)} AS revenue,
                     {_q(f"(r - {mean_r}) / sqrt({var})", 6)} AS z_score
              FROM resid CROSS JOIN mom)
        SELECT day, weekday, revenue, z_score
        FROM f WHERE abs(z_score) >= {ANOM_Z_THRESHOLD!r}
        ORDER BY day"""


register("weekday_adjusted_anomalies", _q_wd_anomalies, _wd_anom_sql())


# --- causal / decomposition analytics ---------------------------------------


def _q_did_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal — difference-in-differences of PROMO-part net revenue per
    line across the DID_CUTOFF ship date
    (operators/relational.py:did_promo_effect): one part-key join, one
    conditional 2×2 aggregate."""
    return relational.did_promo_effect(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _did_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import DID_CUTOFF

    cells = {
        "tp": ("treated", "NOT post"),
        "tq": ("treated", "post"),
        "cp": ("NOT treated", "NOT post"),
        "cq": ("NOT treated", "post"),
    }
    n = {
        k: f"CAST(sum(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT)"
        for k, (a, b) in cells.items()
    }
    s = {
        k: _d(f"CASE WHEN {a} AND {b} THEN rev ELSE NULL END")
        for k, (a, b) in cells.items()
    }
    mu = {k: f"({s[k]} / CAST({n[k]} AS DOUBLE))" for k in cells}
    return f"""
        WITH j AS (
          SELECT p_type LIKE 'PROMO%' AS treated,
                 l_shipdate >= TIMESTAMP '{DID_CUTOFF} 00:00:00' AS post,
                 l_extendedprice * (1.0 - l_discount) AS rev
          FROM lineitem JOIN part ON l_partkey = p_partkey)
        SELECT {n['tp']} AS n_treated_pre,
               {n['tq']} AS n_treated_post,
               {n['cp']} AS n_control_pre,
               {n['cq']} AS n_control_post,
               {_q(mu['tp'], 4)} AS mu_treated_pre,
               {_q(mu['tq'], 4)} AS mu_treated_post,
               {_q(mu['cp'], 4)} AS mu_control_pre,
               {_q(mu['cq'], 4)} AS mu_control_post,
               {_q(f"({mu['tq']} - {mu['tp']}) - ({mu['cq']} - {mu['cp']})", 4)}
                 AS did_estimate
        FROM j"""


register("did_promo_effect", _q_did_promo, _did_sql())


def _q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — additive trend/seasonal/residual decomposition of
    daily revenue (operators/relational.py:seasonal_decompose_daily):
    calendar-correct centered MA trend + centered weekday profile."""
    return relational.seasonal_decompose_daily(load(spark, sf_dir, "orders"))


def _seasonal_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import STL_HALF_WINDOW

    h = STL_HALF_WINDOW
    full = 2 * h + 1
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders GROUP BY 1),
        win AS (
          SELECT day, x,
                 count(*) OVER w AS n_win,
                 CAST(sum(CAST(x AS DECIMAL(24,8))) OVER w AS DOUBLE)
                   / {full}.0 AS trend_raw
          FROM (SELECT day, x,
                       datediff('day', DATE '1995-01-01', day) AS day_idx
                FROM daily)
          WINDOW w AS (ORDER BY day_idx
                       RANGE BETWEEN {h} PRECEDING AND {h} FOLLOWING)),
        t AS (SELECT day, x, {_q('trend_raw', 6)} AS trend,
                     x - {_q('trend_raw', 6)} AS detr
              FROM win WHERE n_win = {full}),
        raw AS (SELECT CAST(isodow(day) AS INT) AS weekday,
                       CAST(count(*) AS BIGINT) AS n_days,
                       {_d('detr')} / CAST(count(*) AS DOUBLE) AS s_raw
                FROM t GROUP BY 1),
        c AS (SELECT {_d('s_raw')} / CAST(count(*) AS DOUBLE) AS s_mean
              FROM raw),
        seasonal AS (SELECT weekday, n_days,
                            {_q('s_raw - s_mean', 6)} AS seasonal
                     FROM raw CROSS JOIN c),
        resid AS (SELECT CAST(isodow(t.day) AS INT) AS weekday,
                         {_d('abs(t.detr - s.seasonal)')}
                           / CAST(count(*) AS DOUBLE) AS mar
                  FROM t JOIN seasonal s
                    ON CAST(isodow(t.day) AS INT) = s.weekday
                  GROUP BY 1)
        SELECT s.weekday, s.n_days,
               {_q('s.seasonal', 4)} AS seasonal,
               {_q('r.mar', 4)} AS mean_abs_residual
        FROM seasonal s JOIN resid r ON s.weekday = r.weekday
        ORDER BY 1"""


register("seasonal_decompose_daily", _q_seasonal_decompose, _seasonal_sql())


# --- recommender -------------------------------------------------------------


def _q_item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender — item-item collaborative filtering: top-k basket-cosine
    neighbors per part (operators/recsys.py:item_item_recs); blocked
    co-occurrence join + per-item window."""
    from .operators import recsys

    return recsys.item_item_recs(load(spark, sf_dir, "lineitem"))


def _item_item_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.recsys import II_MIN_SUPPORT, II_TOP_K

    return f"""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {II_MIN_SUPPORT}),
        directed AS (
          SELECT part_a AS item, part_b AS rec, support FROM pairs
          UNION ALL
          SELECT part_b AS item, part_a AS rec, support FROM pairs),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
                 FROM b GROUP BY 1),
        scored AS (
          SELECT d.item, d.rec, d.support,
                 {_q(
                     "CAST(d.support AS DOUBLE)"
                     " / sqrt(CAST(i.n_item AS DOUBLE) * CAST(r.n_item AS DOUBLE))",
                     6)} AS cosine
          FROM directed d
          JOIN item i ON i.l_partkey = d.item
          JOIN item r ON r.l_partkey = d.rec),
        ranked AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY item ORDER BY cosine DESC, rec) AS INT) AS rank
          FROM scored)
        SELECT item, rec, support, cosine, rank
        FROM ranked WHERE rank <= {II_TOP_K}
        ORDER BY item, rank"""


register("item_item_recs", _q_item_item_recs, _item_item_sql())


def _q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival — Kaplan–Meier customer-lifetime curve with right
    censoring (operators/relational.py:kaplan_meier_retention): one
    per-customer pass, then windows on the distinct-lifetime frame."""
    return relational.kaplan_meier_retention(load(spark, sf_dir, "orders"))


def _km_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import KM_CENSOR, KM_LN_SCALE

    s = f"{KM_LN_SCALE:.1f}"
    return f"""
        WITH cust AS (
          SELECT o_custkey, min(o_orderdate) AS first_o,
                 max(o_orderdate) AS last_o
          FROM orders GROUP BY 1),
        per AS (
          SELECT datediff('day', CAST(first_o AS DATE), CAST(last_o AS DATE)) AS t,
                 CASE WHEN CAST(last_o AS DATE) < DATE '{KM_CENSOR}'
                      THEN 1 ELSE 0 END AS event
          FROM cust),
        by_t AS (
          SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
                 CAST(count(*) AS BIGINT) AS n_exit
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(sum(n_exit) AS BIGINT) AS n_total FROM by_t),
        risk AS (
          SELECT t, d_events,
                 CAST(n_total - COALESCE(sum(n_exit) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM by_t CROSS JOIN tot),
        steps AS (
          SELECT t, d_events, n_risk,
                 CASE WHEN d_events < n_risk THEN CAST(floor(
                     ln(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
                     * {s} + 0.5) AS BIGINT) END AS q
          FROM risk WHERE d_events > 0),
        cum AS (
          SELECT t, d_events, n_risk,
                 max(CASE WHEN q IS NULL THEN 1 ELSE 0 END) OVER w AS all_dead,
                 sum(q) OVER w AS lnsum
          FROM steps
          WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))
        SELECT CAST(t AS INT) AS t_days, n_risk, d_events,
               CASE WHEN all_dead = 1 THEN 0.0
                    ELSE {_q(f'exp(CAST(lnsum AS DOUBLE) / {s})', 6)} END
                 AS survival
        FROM cum ORDER BY 1"""


register("kaplan_meier_retention", _q_kaplan_meier, _km_sql())


def _q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast — Holt linear-trend smoothing of per-segment weekly
    revenue with 7/28-week-ahead projections
    (operators/relational.py:holt_linear_forecast): JVM weekly aggregate,
    then one Arrow batch per segment for the sequential recursion."""
    return relational.holt_linear_forecast(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


def _holt_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import HOLT_ALPHA, HOLT_BETA, HOLT_HORIZONS

    a, b = repr(HOLT_ALPHA), repr(HOLT_BETA)
    ca, cb = repr(1.0 - HOLT_ALPHA), repr(1.0 - HOLT_BETA)
    l_new = _q(f"{a} * x.x + {ca} * (r.l + r.b)", 6)
    b_new = _q(f"{b} * (({l_new}) - r.l) + {cb} * r.b", 6)
    fcasts = ",\n               ".join(
        f"{_q(f'rec.l + {h}.0 * rec.b', 6)} AS forecast_{h}" for h in HOLT_HORIZONS
    )
    return f"""
        WITH RECURSIVE
        weekly AS (
          SELECT c_mktsegment AS segment,
                 CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
                 {_d('o_totalprice')} AS x
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        idx AS (
          SELECT segment, x,
                 row_number() OVER (PARTITION BY segment ORDER BY week) AS i
          FROM weekly),
        nn AS (SELECT segment, CAST(max(i) AS BIGINT) AS n_weeks
               FROM idx GROUP BY 1),
        rec AS (
          SELECT f.segment, CAST(1 AS BIGINT) AS i,
                 {_q('f.x', 6)} AS l,
                 {_q('s.x - f.x', 6)} AS b
          FROM idx f JOIN idx s ON f.segment = s.segment
          WHERE f.i = 1 AND s.i = 2
          UNION ALL
          SELECT r.segment, r.i + 1,
                 {l_new} AS l,
                 {b_new} AS b
          FROM rec r JOIN idx x ON x.segment = r.segment AND x.i = r.i + 1)
        SELECT rec.segment, nn.n_weeks,
               rec.l AS level, rec.b AS trend,
               {fcasts}
        FROM rec JOIN nn ON rec.segment = nn.segment AND rec.i = nn.n_weeks
        ORDER BY rec.segment"""


register("holt_linear_forecast", _q_holt_forecast, _holt_sql())


def _q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — deterministic Poisson-bootstrap CI for mean order
    revenue (operators/relational.py:bootstrap_ci_revenue): hash-drawn
    Poisson(1) weights, one weighted-aggregate pass, order-statistic CI."""
    return relational.bootstrap_ci_revenue(load(spark, sf_dir, "orders"))


def _bootstrap_sql() -> str:
    import math

    from .numeric import sql_qround as _q
    from .operators.relational import BOOT_B, BOOT_Q, POISSON1_CUM
    from .registry_ops import _sql_md5_prefix_value

    lo_rk = max(1, math.ceil(BOOT_Q * BOOT_B))
    hi_rk = math.ceil((1.0 - BOOT_Q) * BOOT_B)
    key = "CAST(okey AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
    u = f"(CAST({_sql_md5_prefix_value(key, 8)} AS DOUBLE) / 4294967296.0)"
    w = str(len(POISSON1_CUM))
    for k in reversed(range(len(POISSON1_CUM))):
        w = f"CASE WHEN u < {POISSON1_CUM[k]!r} THEN {k} ELSE {w} END"
    return f"""
        WITH rep AS (
          SELECT o_orderkey AS okey, o_totalprice AS x, r.b
          FROM orders CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b) r),
        drawn AS (
          SELECT x, b, {u} AS u FROM rep),
        weighted AS (
          SELECT x, b, CAST({w} AS BIGINT) AS w FROM drawn),
        means AS (
          SELECT b, {_d('CAST(w AS DOUBLE) * x')}
                      / CAST(NULLIF(sum(w), 0) AS DOUBLE) AS m
          FROM weighted GROUP BY b),
        ranked AS (
          SELECT m, row_number() OVER (ORDER BY m) AS rk FROM means),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS b_reps,
                 {_d('m')} / CAST(count(*) AS DOUBLE) AS boot_mean,
                 {_d('m * m')} AS smm,
                 max(CASE WHEN rk = {lo_rk} THEN m END) AS ci_lo_raw,
                 max(CASE WHEN rk = {hi_rk} THEN m END) AS ci_hi_raw
          FROM ranked),
        point AS (
          SELECT CAST(count(*) AS BIGINT) AS n_orders,
                 {_d('o_totalprice')} / CAST(count(*) AS DOUBLE) AS pm
          FROM orders)
        SELECT n_orders, b_reps,
               {_q('pm', 4)} AS point_mean,
               {_q('boot_mean', 4)} AS boot_mean,
               {_q('sqrt((smm - CAST(b_reps AS DOUBLE) * boot_mean * boot_mean)'
                   ' / (CAST(b_reps AS DOUBLE) - 1))', 6)} AS se,
               {_q('ci_lo_raw', 4)} AS ci_lo,
               {_q('ci_hi_raw', 4)} AS ci_hi
        FROM stats CROSS JOIN point"""


register("bootstrap_ci_revenue", _q_bootstrap_ci, _bootstrap_sql())


def _q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel — signup→first-purchase latency percentiles + conversion
    rate (operators/events.py:conversion_lag_profile)."""
    return events.conversion_lag_profile(load(spark, sf_dir, "events"))


def _conversion_lag_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.events import LAG_PCTS

    picks = ",\n                 ".join(
        f"max(CASE WHEN rn = CAST(ceil({q!r} * CAST(n AS DOUBLE)) AS BIGINT)"
        f" THEN lag_us END) AS p{int(q * 100)}_us"
        for q in LAG_PCTS
    )
    outs = ",\n               ".join(
        _q(f"CAST(p{int(q * 100)}_us AS DOUBLE) / 1000000.0", 3)
        + f" AS p{int(q * 100)}_sec"
        for q in LAG_PCTS
    )
    return f"""
        WITH su AS (
          SELECT user_id, min(ts) AS s_ts
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        pu AS (
          SELECT e.user_id,
                 epoch_us(min(e.ts)) - epoch_us(min(su.s_ts)) AS lag_us
          FROM events e JOIN su USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
          GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu),
        ranked AS (
          SELECT lag_us, n,
                 row_number() OVER (ORDER BY lag_us, user_id) AS rn
          FROM pu CROSS JOIN nn),
        agg AS (
          SELECT max(n) AS n_converted,
                 {picks}
          FROM ranked),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS n_signup_users FROM su)
        SELECT n_signup_users,
               CAST(n_converted AS BIGINT) AS n_converted,
               {_q('CAST(n_converted AS DOUBLE) / CAST(n_signup_users AS DOUBLE)', 6)}
                 AS conversion_rate,
               {outs}
        FROM agg CROSS JOIN ns"""


register("conversion_lag_profile", _q_conversion_lag, _conversion_lag_sql())


def _q_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel — daily view-abandonment rate: views with no same-user
    purchase within the follow window
    (operators/events.py:abandoned_views_daily); time-banded ANTI join."""
    return events.abandoned_views_daily(load(spark, sf_dir, "events"))


def _abandoned_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.events import ABANDON_WINDOW_SEC

    win_us = ABANDON_WINDOW_SEC * 1_000_000
    return f"""
        WITH v AS (
          SELECT user_id, ts AS v_ts, epoch_us(ts) AS v_us
          FROM events WHERE event_type = 'view'),
        p AS (
          SELECT user_id AS p_user, epoch_us(ts) AS p_us
          FROM events WHERE event_type = 'purchase'),
        abandoned AS (
          SELECT v.* FROM v ANTI JOIN p
            ON v.user_id = p.p_user
           AND p.p_us >= v.v_us AND p.p_us <= v.v_us + {win_us}),
        dv AS (SELECT CAST(v_ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_views
               FROM v GROUP BY 1),
        da AS (SELECT CAST(v_ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_abandoned
               FROM abandoned GROUP BY 1)
        SELECT strftime(dv.day, '%Y-%m-%d') AS day, dv.n_views,
               COALESCE(da.n_abandoned, 0) AS n_abandoned,
               {_q('CAST(COALESCE(da.n_abandoned, 0) AS DOUBLE)'
                   ' / CAST(dv.n_views AS DOUBLE)', 6)} AS abandonment_rate
        FROM dv LEFT JOIN da ON dv.day = da.day
        ORDER BY 1"""


register("abandoned_views_daily", _q_abandoned_views, _abandoned_sql())


def _q_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence ML — first-order Markov next-event prediction accuracy
    per source state (operators/events.py:markov_prediction_accuracy)."""
    return events.markov_prediction_accuracy(load(spark, sf_dir, "events"))


def _markov_acc_sql() -> str:
    from .numeric import sql_qround as _q

    return f"""
        WITH trans AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events),
        t AS (SELECT * FROM trans WHERE next_type IS NOT NULL),
        grid AS (
          SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS n
          FROM t GROUP BY 1, 2),
        model AS (
          SELECT from_type, next_type AS predicted
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY from_type ORDER BY n DESC, next_type) AS rk
                FROM grid)
          WHERE rk = 1),
        scored AS (
          SELECT t.from_type, m.predicted,
                 CASE WHEN t.next_type = m.predicted THEN 1 ELSE 0 END AS hit
          FROM t JOIN model m USING (from_type)),
        per_state AS (
          SELECT from_type, predicted,
                 CAST(count(*) AS BIGINT) AS n_transitions,
                 CAST(sum(hit) AS BIGINT) AS n_correct
          FROM scored GROUP BY 1, 2
          UNION ALL
          SELECT '*', '*', CAST(count(*) AS BIGINT), CAST(sum(hit) AS BIGINT)
          FROM scored)
        SELECT from_type, predicted, n_transitions, n_correct,
               {_q('CAST(n_correct AS DOUBLE) / CAST(n_transitions AS DOUBLE)', 6)}
                 AS accuracy
        FROM per_state ORDER BY from_type"""


register("markov_prediction_accuracy", _q_markov_accuracy, _markov_acc_sql())


def _q_error_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops — multi-window error-budget burn-rate alert hours
    (operators/events.py:error_budget_burn)."""
    return events.error_budget_burn(load(spark, sf_dir, "events"))


def _error_burn_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.events import (
        BURN_LONG_H,
        BURN_LONG_THRESH,
        BURN_SHORT_THRESH,
        SLO_ERROR_TARGET,
    )

    t = repr(SLO_ERROR_TARGET)
    return f"""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_errors,
                 CAST(epoch_us(date_trunc('hour', ts)) / 3600000000 AS BIGINT)
                   AS hour_idx
          FROM events GROUP BY 1),
        rolled AS (
          SELECT hour, n_events, n_errors,
                 CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS rate_1h,
                 CAST(sum(n_errors) OVER w AS DOUBLE)
                   / CAST(sum(n_events) OVER w AS DOUBLE) AS rate_6h
          FROM hourly
          WINDOW w AS (ORDER BY hour_idx
                       RANGE BETWEEN {BURN_LONG_H - 1} PRECEDING AND CURRENT ROW))
        SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, n_events, n_errors,
               {_q('rate_1h', 6)} AS error_rate_1h,
               {_q(f'rate_1h / {t}', 4)} AS burn_1h,
               {_q(f'rate_6h / {t}', 4)} AS burn_6h
        FROM rolled
        WHERE rate_1h / {t} > {BURN_SHORT_THRESH!r}
          AND rate_6h / {t} > {BURN_LONG_THRESH!r}
        ORDER BY 1"""


register("error_budget_burn", _q_error_burn, _error_burn_sql())


def _q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast — naive vs seasonal-naive one-step backtest on daily
    revenue (operators/relational.py:forecast_backtest)."""
    return relational.forecast_backtest(load(spark, sf_dir, "orders"))


def _backtest_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import BACKTEST_SEASON

    def method(n: int, name: str) -> str:
        return f"""
          SELECT '{name}' AS method,
                 CAST(count(*) AS BIGINT) AS n_days,
                 {_d('abs(x - f)')} / CAST(count(*) AS DOUBLE) AS mae_raw,
                 {_d('CASE WHEN x <> 0 THEN abs(x - f) / x END')}
                   / CAST(count(*) AS DOUBLE) AS mape_raw,
                 {_d('(x - f) * (x - f) / 1000000.0')}
                   / CAST(count(*) AS DOUBLE) AS mse_m
          FROM (SELECT day, x,
                       max(x) OVER (ORDER BY day_idx
                         RANGE BETWEEN {n} PRECEDING AND {n} PRECEDING) AS f,
                       max(x) OVER (ORDER BY day_idx
                         RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS f1,
                       max(x) OVER (ORDER BY day_idx
                         RANGE BETWEEN {BACKTEST_SEASON} PRECEDING
                         AND {BACKTEST_SEASON} PRECEDING) AS fs
                FROM d) t
          WHERE f1 IS NOT NULL AND fs IS NOT NULL"""

    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders GROUP BY 1),
        d AS (SELECT day, x,
                     datediff('day', DATE '1995-01-01', day) AS day_idx
              FROM daily),
        m AS ({method(1, 'naive')}
              UNION ALL
              {method(BACKTEST_SEASON, 'seasonal_naive')})
        SELECT method, n_days,
               {_q('mae_raw', 4)} AS mae,
               {_q('mape_raw', 6)} AS mape,
               {_q('sqrt(mse_m * 1000000.0)', 4)} AS rmse
        FROM m ORDER BY method"""


register("forecast_backtest", _q_forecast_backtest, _backtest_sql())


def _q_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — Hampel rolling-median/MAD outlier days
    (operators/relational.py:hampel_outlier_days)."""
    return relational.hampel_outlier_days(load(spark, sf_dir, "orders"))


def _hampel_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import HAMPEL_C, HAMPEL_HALF, HAMPEL_K

    full = 2 * HAMPEL_HALF + 1
    mid = HAMPEL_HALF + 1
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders GROUP BY 1),
        win AS (
          SELECT day, x,
                 list_sort(list(x) OVER (
                   ORDER BY datediff('day', DATE '1995-01-01', day)
                   RANGE BETWEEN {HAMPEL_HALF} PRECEDING
                   AND {HAMPEL_HALF} FOLLOWING)) AS w
          FROM daily),
        med AS (
          SELECT day, x, w[{mid}] AS med,
                 list_sort(list_transform(w, v -> abs(v - w[{mid}])))[{mid}] AS mad
          FROM win WHERE len(w) = {full})
        SELECT strftime(day, '%Y-%m-%d') AS day,
               {_q('x', 4)} AS revenue,
               {_q('med', 4)} AS window_median,
               {_q('mad', 4)} AS window_mad,
               {_q('abs(x - med)', 4)} AS abs_deviation
        FROM med
        WHERE abs(x - med) > {HAMPEL_K!r} * {HAMPEL_C!r} * mad
        ORDER BY 1"""


register("hampel_outlier_days", _q_hampel, _hampel_sql())


def _q_user_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender — per-customer top-k items scored by summed
    item-item cosine over owned items, owned excluded
    (operators/recsys.py:user_item_recommendations)."""
    from .operators import recsys

    return recsys.user_item_recommendations(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    )


def _user_item_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.recsys import II_MIN_SUPPORT, UIR_TOP_K

    return f"""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {II_MIN_SUPPORT}),
        directed AS (
          SELECT part_a AS item, part_b AS rec, support FROM pairs
          UNION ALL
          SELECT part_b AS item, part_a AS rec, support FROM pairs),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
                 FROM b GROUP BY 1),
        simsc AS (
          SELECT d.item, d.rec,
                 {_q(
                     "CAST(d.support AS DOUBLE)"
                     " / sqrt(CAST(i.n_item AS DOUBLE) * CAST(r.n_item AS DOUBLE))",
                     6)} AS cosine
          FROM directed d
          JOIN item i ON i.l_partkey = d.item
          JOIN item r ON r.l_partkey = d.rec),
        sims AS (
          SELECT item, rec, cosine
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY item ORDER BY cosine DESC, rec) AS rk
                FROM simsc)
          WHERE rk <= {UIR_TOP_K}),
        owned AS (
          SELECT DISTINCT o_custkey AS custkey, l_partkey AS item
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        cand AS (
          SELECT o.custkey, s.rec,
                 {_q(_d('s.cosine'), 6)} AS score
          FROM owned o JOIN sims s USING (item)
          GROUP BY 1, 2),
        unowned AS (
          SELECT c.* FROM cand c ANTI JOIN owned w
            ON c.custkey = w.custkey AND c.rec = w.item),
        ranked AS (
          SELECT custkey, rec, score,
                 CAST(row_number() OVER (
                   PARTITION BY custkey ORDER BY score DESC, rec) AS INT) AS rank
          FROM unowned)
        SELECT custkey, rank, rec AS item, score
        FROM ranked WHERE rank <= {UIR_TOP_K}
        ORDER BY custkey, rank"""


register("user_item_recommendations", _q_user_item_recs, _user_item_sql())


def _q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth — cohort lifetime-value curve: cumulative revenue per
    cohort customer by month age (operators/relational.py:cohort_ltv)."""
    return relational.cohort_ltv(load(spark, sf_dir, "orders"))


def _cohort_ltv_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import LTV_MAX_AGE_MONTHS

    return f"""
        WITH base AS (
          SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
                 o_totalprice AS rev,
                 min(date_trunc('month', o_orderdate)) OVER (
                   PARTITION BY o_custkey) AS cohort_m
          FROM orders),
        aged AS (
          SELECT strftime(cohort_m, '%Y-%m') AS cohort,
                 CAST(datediff('month', cohort_m, m) AS INT) AS age,
                 rev
          FROM base
          WHERE datediff('month', cohort_m, m) <= {LTV_MAX_AGE_MONTHS}),
        sizes AS (
          SELECT strftime(cohort_m, '%Y-%m') AS cohort,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
          FROM base GROUP BY 1),
        grid AS (
          SELECT cohort, age, {_d('rev')} AS rev_m
          FROM aged GROUP BY 1, 2),
        cum AS (
          SELECT cohort, age,
                 CAST(sum(CAST(rev_m AS DECIMAL(24,8))) OVER (
                   PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cum_rev
          FROM grid)
        SELECT c.cohort, c.age AS age_months, s.n_customers,
               {_q('c.cum_rev / CAST(s.n_customers AS DOUBLE)', 4)} AS cum_ltv
        FROM cum c JOIN sizes s ON c.cohort = s.cohort
        ORDER BY c.cohort, age_months"""


register("cohort_ltv", _q_cohort_ltv, _cohort_ltv_sql())


def _q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP&A — per-brand revenue bridge: Δrevenue split exactly into
    volume and price effects (operators/relational.py:revenue_bridge)."""
    return relational.revenue_bridge(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _revenue_bridge_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import BRIDGE_Y1, BRIDGE_Y2

    def per(y: int, col: str) -> str:
        return _d(f"CASE WHEN y = {y} THEN {col} END")

    return f"""
        WITH j AS (
          SELECT p_brand, year(l_shipdate) AS y, l_quantity AS q,
                 l_extendedprice * (1.0 - l_discount) AS r
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE year(l_shipdate) IN ({BRIDGE_Y1}, {BRIDGE_Y2})),
        agg AS (
          SELECT p_brand,
                 {per(BRIDGE_Y1, 'q')} AS q1, {per(BRIDGE_Y2, 'q')} AS q2,
                 {per(BRIDGE_Y1, 'r')} AS r1, {per(BRIDGE_Y2, 'r')} AS r2
          FROM j GROUP BY 1)
        SELECT p_brand,
               {_q('r1', 4)} AS rev_y1,
               {_q('r2', 4)} AS rev_y2,
               {_q('r2 - r1', 4)} AS delta,
               {_q('(q2 - q1) * (r1 / q1)', 4)} AS volume_effect,
               {_q('((r2 / q2) - (r1 / q1)) * q2', 4)} AS price_effect
        FROM agg
        WHERE q1 IS NOT NULL AND q2 IS NOT NULL AND q1 > 0 AND q2 > 0
        ORDER BY p_brand"""


register("revenue_bridge", _q_revenue_bridge, _revenue_bridge_sql())


def _q_weighted_pcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics — quantity-weighted PERCENTILE_DISC of line price per
    brand via two-pass histogram narrowing over cumulative WEIGHT, with
    no per-brand full-sort running-sum window
    (operators/relational.py:weighted_percentiles_by_brand). The oracle
    runs the global running sum, so a green hash proves the
    bucket-prefix DECIMAL decomposition ≡ that sum."""
    return relational.weighted_percentiles_by_brand(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _weighted_pcts_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import WPCT_QS

    picks = ",\n                 ".join(
        f"min(CASE WHEN cw >= {q!r} * tw THEN v END) AS p{int(q * 100)}"
        for q in WPCT_QS
    )
    arms = "\n          UNION ALL ".join(
        f"SELECT p_brand, {q!r} AS pct, p{int(q * 100)} AS value,"
        f" {_q('total_weight', 4)} AS total_weight FROM agg"
        for q in WPCT_QS
    )
    return f"""
        WITH j AS (
          SELECT p_brand, l_extendedprice AS v, l_quantity AS wt
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        cum AS (
          SELECT p_brand, v,
                 CAST(sum(CAST(wt AS DECIMAL(24,8))) OVER (
                   PARTITION BY p_brand ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cw,
                 CAST(sum(CAST(wt AS DECIMAL(24,8))) OVER (
                   PARTITION BY p_brand) AS DOUBLE) AS tw
          FROM j),
        agg AS (
          SELECT p_brand, max(tw) AS total_weight,
                 {picks}
          FROM cum GROUP BY 1)
        SELECT * FROM ({arms})
        ORDER BY p_brand, pct"""


# both names are driver contract; one plan serves both
register("weighted_percentiles_by_brand", _q_weighted_pcts, _weighted_pcts_sql())
register(
    "weighted_percentiles_by_brand_scaled", _q_weighted_pcts, _weighted_pcts_sql()
)


def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ML — Jaccard link prediction on the co-purchase graph
    (operators/graph.py:link_prediction_jaccard); wedge join + degree
    broadcast + anti-join on existing edges."""
    from .operators import graph

    return graph.link_prediction_jaccard(load(spark, sf_dir, "lineitem"))


def _link_pred_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.graph import LP_MIN_SUPPORT, LP_REL_SUPPORT_BP2, LP_TOP_K

    return f"""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        th AS (SELECT greatest({LP_MIN_SUPPORT},
                 (count(DISTINCT l_orderkey) * {LP_REL_SUPPORT_BP2} + 9999) // 10000)
                 AS min_s
               FROM b),
        und AS (
          SELECT x.l_partkey AS a, y.l_partkey AS b
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= (SELECT min_s FROM th)),
        edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        wedges AS (
          SELECT e1.a AS u, e2.b AS v, CAST(count(*) AS BIGINT) AS common
          FROM edges e1 JOIN edges e2 ON e1.b = e2.a
          WHERE e1.a < e2.b
          GROUP BY 1, 2),
        cand AS (
          SELECT w.* FROM wedges w ANTI JOIN und
            ON w.u = und.a AND w.v = und.b),
        scored AS (
          SELECT c.u AS part_a, c.v AS part_b,
                 c.common AS common_neighbors,
                 {_q(
                     "CAST(c.common AS DOUBLE)"
                     " / CAST(du.deg + dv.deg - c.common AS DOUBLE)",
                     6)} AS jaccard
          FROM cand c
          JOIN deg du ON du.a = c.u
          JOIN deg dv ON dv.a = c.v)
        SELECT part_a, part_b, common_neighbors, jaccard
        FROM scored
        ORDER BY jaccard DESC, part_a, part_b
        LIMIT {LP_TOP_K}"""


register("link_prediction_jaccard", _q_link_prediction, _link_pred_sql())


def _q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth — monthly new vs returning purchaser mix
    (operators/relational.py:new_vs_returning_monthly)."""
    return relational.new_vs_returning_monthly(load(spark, sf_dir, "orders"))


def _new_vs_returning_sql() -> str:
    from .numeric import sql_qround as _q

    return f"""
        WITH base AS (
          SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
                 min(date_trunc('month', o_orderdate)) OVER (
                   PARTITION BY o_custkey) AS first_m
          FROM orders),
        per AS (
          SELECT DISTINCT o_custkey, m, (m = first_m) AS is_new
          FROM base)
        SELECT strftime(m, '%Y-%m') AS month,
               CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                 AS new_customers,
               CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
                 AS returning_customers,
               {_q('CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS DOUBLE)'
                   ' / CAST(count(*) AS DOUBLE)', 6)} AS new_share
        FROM per GROUP BY m ORDER BY month"""


register("new_vs_returning_monthly", _q_new_vs_returning, _new_vs_returning_sql())


register("streaming_error_burn", _sq.streaming_error_burn, _error_burn_sql())


def _q_pareto_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration — per-region Pareto head-count: smallest #customers
    covering 80% of revenue
    (operators/relational.py:pareto_customers_by_region)."""
    return relational.pareto_customers_by_region(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


def _pareto_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import PARETO_SHARE

    return f"""
        WITH rev AS (
          SELECT r_name AS region, c_custkey AS cust,
                 {_d('o_totalprice')} AS crev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2),
        ranked AS (
          SELECT region,
                 row_number() OVER w AS rk,
                 CAST(sum(CAST(crev AS DECIMAL(24,8))) OVER (
                   w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cum,
                 CAST(sum(CAST(crev AS DECIMAL(24,8))) OVER (
                   PARTITION BY region) AS DOUBLE) AS tot,
                 CAST(count(*) OVER (PARTITION BY region) AS BIGINT)
                   AS n_customers
          FROM rev
          WINDOW w AS (PARTITION BY region ORDER BY crev DESC, cust))
        SELECT region, max(n_customers) AS n_customers,
               CAST(min(rk) AS BIGINT) AS n_top,
               {_q('CAST(min(rk) AS DOUBLE) / CAST(max(n_customers) AS DOUBLE)', 6)}
                 AS top_fraction,
               {_q('max(tot)', 4)} AS total_revenue
        FROM ranked WHERE cum >= {PARETO_SHARE!r} * tot
        GROUP BY region ORDER BY region"""


register("pareto_customers_by_region", _q_pareto_region, _pareto_sql())


# ---------------------------------------------------------------------------
# round 9: causal IPW, robust trend, distribution drift in output units,
# dictionary tagging, bigram-LM cross-entropy, geo recall dial (registry_geo)


def _q_ipw_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal — stratified-propensity IPW average treatment effect of
    PROMO parts on net line revenue
    (operators/relational.py:ipw_treatment_effect); the identification
    twin of did_promo_effect."""
    return relational.ipw_treatment_effect(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _ipw_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import IPW_STRATA_COL

    return f"""
        WITH j AS (
          SELECT {IPW_STRATA_COL} AS stratum,
                 p_type LIKE 'PROMO%' AS treated,
                 l_extendedprice * (1.0 - l_discount) AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        strata AS (
          SELECT stratum, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                 {_d('CASE WHEN treated THEN y END')} AS sy_t,
                 {_d('CASE WHEN NOT treated THEN y END')} AS sy_c
          FROM j GROUP BY 1),
        used AS (
          SELECT n, nt, sy_t, sy_c,
                 CAST(nt AS DOUBLE) / CAST(n AS DOUBLE) AS e
          FROM strata WHERE nt > 0 AND nt < n),
        agg AS (
          SELECT CAST(sum(nt) AS BIGINT) AS n_treated,
                 CAST(sum(n - nt) AS BIGINT) AS n_control,
                 {_d('sy_t / e')} AS sw1,
                 {_d('CAST(nt AS DOUBLE) / e')} AS sd1,
                 {_d('sy_c / (1.0 - e)')} AS sw0,
                 {_d('CAST(n - nt AS DOUBLE) / (1.0 - e)')} AS sd0,
                 {_d('sy_t')} AS tot_y_t,
                 {_d('sy_c')} AS tot_y_c
          FROM used),
        counts AS (
          SELECT CAST(count(*) AS BIGINT) AS n_strata_total,
                 CAST(sum(CASE WHEN nt > 0 AND nt < n THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_strata_used
          FROM strata)
        SELECT n_strata_total, n_strata_used, n_treated, n_control,
               {_q('sw1 / sd1', 4)} AS mu_treated_ipw,
               {_q('sw0 / sd0', 4)} AS mu_control_ipw,
               {_q('sw1 / sd1 - sw0 / sd0', 4)} AS ate_ipw,
               {_q('tot_y_t / CAST(n_treated AS DOUBLE)'
                   ' - tot_y_c / CAST(n_control AS DOUBLE)', 4)} AS naive_diff
        FROM agg CROSS JOIN counts"""


register("ipw_treatment_effect", _q_ipw_effect, _ipw_sql())


def _q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics — Theil–Sen median-of-slopes trend of daily
    revenue (operators/relational.py:theil_sen_trend); the
    outlier-immune twin of the OLS trend."""
    return relational.theil_sen_trend(load(spark, sf_dir, "orders"))


def _theil_sen_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import TS_BASE_DATE

    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        d AS (SELECT datediff('day', DATE '{TS_BASE_DATE}', day) AS x, y
              FROM daily),
        pairs AS (
          SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope,
                 a.x AS xa, b.x AS xb
          FROM d a JOIN d b ON a.x < b.x),
        np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
        ms AS (
          SELECT slope AS m, np AS n_pairs FROM (
            SELECT slope, np,
                   row_number() OVER (ORDER BY slope, xa, xb) AS rk,
                   ceil(CAST(np AS DOUBLE) / 2.0) AS target
            FROM pairs CROSS JOIN np) t
          WHERE rk = target),
        resid AS (
          SELECT d.y - ms.m * CAST(d.x AS DOUBLE) AS r, d.x, ms.m, ms.n_pairs
          FROM d CROSS JOIN ms),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM resid)
        SELECT nd AS n_days, n_pairs,
               {_q('m', 6)} AS slope_per_day,
               {_q('r', 4)} AS intercept
        FROM (SELECT r, x, m, n_pairs, nd,
                     row_number() OVER (ORDER BY r, x) AS rk,
                     ceil(CAST(nd AS DOUBLE) / 2.0) AS target
              FROM resid CROSS JOIN nd) t
        WHERE rk = target"""


register("theil_sen_trend", _q_theil_sen, _theil_sen_sql())


def _q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift — Wasserstein-1 distance (in dollars) between two years'
    order-value distributions
    (operators/relational.py:wasserstein_price_drift); the output-unit
    drift metric next to PSI/KL."""
    return relational.wasserstein_price_drift(load(spark, sf_dir, "orders"))


def _wasserstein_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import W1_BIN, W1_SCALE, W1_YEAR_A, W1_YEAR_B

    return f"""
        WITH base AS (
          SELECT year(o_orderdate) = {W1_YEAR_A} AS is_a,
                 CAST(floor(o_totalprice / {W1_BIN!r}) AS BIGINT) AS bin
          FROM orders
          WHERE year(o_orderdate) IN ({W1_YEAR_A}, {W1_YEAR_B})),
        hist AS (
          SELECT bin,
                 CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM base GROUP BY 1),
        tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                       CAST(sum(cb) AS BIGINT) AS nb FROM hist),
        cum AS (
          SELECT CAST(sum(ca) OVER wc AS DOUBLE) / CAST(na AS DOUBLE) AS fa,
                 CAST(sum(cb) OVER wc AS DOUBLE) / CAST(nb AS DOUBLE) AS fb,
                 na, nb
          FROM hist CROSS JOIN tot
          WINDOW wc AS (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT CAST({W1_YEAR_A} AS INT) AS year_a,
               CAST({W1_YEAR_B} AS INT) AS year_b,
               max(na) AS n_a, max(nb) AS n_b,
               {_q(f'CAST(sum(CAST(floor(abs(fa - fb) * {W1_SCALE!r} + 0.5)'
                   f' AS BIGINT)) AS DOUBLE) / {W1_SCALE!r} * {W1_BIN!r}', 4)}
                 AS w1_dollars
        FROM cum"""


register("wasserstein_price_drift", _q_wasserstein, _wasserstein_sql())


from .operators import corpus as _corpus9  # noqa: E402


def _q_keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text — dictionary/taxonomy tagging coverage per category via a
    broadcast lexicon (operators/corpus.py:keyword_tagging)."""
    return _corpus9.keyword_tagging(load(spark, sf_dir, "documents"))


def _keyword_tagging_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.corpus import TAG_LEXICON

    lex = ", ".join(
        f"('{t}', '{c}')" for c, terms in TAG_LEXICON.items() for t in terms
    )
    return f"""
        WITH lex(term, category) AS (VALUES {lex}),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
        per_doc AS (
          SELECT doc_id, category, CAST(count(*) AS BIGINT) AS hits
          FROM tok JOIN lex USING (term) GROUP BY 1, 2),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents)
        SELECT category,
               CAST(count(*) AS BIGINT) AS n_docs_tagged,
               CAST(sum(hits) AS BIGINT) AS n_hits,
               {_q('CAST(count(*) AS DOUBLE) / CAST(n_docs_total AS DOUBLE)', 6)}
                 AS doc_share
        FROM per_doc CROSS JOIN n
        GROUP BY category, n_docs_total
        ORDER BY category"""


register("keyword_tagging", _q_keyword_tagging, _keyword_tagging_sql())


def _q_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text — per-language add-one bigram-LM cross-entropy
    (operators/corpus.py:bigram_cross_entropy); the order-sensitive
    sibling of unigram_logprob_score."""
    return _corpus9.bigram_cross_entropy(load(spark, sf_dir, "documents"))


def _bigram_xent_sql() -> str:
    from .numeric import sql_qround as _q

    return f"""
        WITH toks AS (
          SELECT lang, string_split(text, ' ') AS ts FROM documents),
        big AS (
          SELECT lang, ts[i] AS w1, ts[i + 1] AS w2
          FROM toks, unnest(range(1, len(ts))) AS r(i)),
        uni AS (
          SELECT t AS w1, CAST(count(*) AS BIGINT) AS c1
          FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          GROUP BY 1),
        vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        bcnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                 FROM big GROUP BY 1, 2),
        scored AS (
          SELECT big.lang,
                 CAST(floor(-ln(CAST(c12 + 1 AS DOUBLE)
                                / CAST(c1 + v AS DOUBLE)) * 1e6 + 0.5)
                      AS BIGINT) AS q
          FROM big JOIN bcnt USING (w1, w2) JOIN uni USING (w1)
          CROSS JOIN vocab)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
               {_q('CAST(sum(q) AS DOUBLE) / 1e6 / count(*)', 4)}
                 AS cross_entropy_nats
        FROM scored GROUP BY lang ORDER BY lang"""


register("bigram_cross_entropy", _q_bigram_xent, _bigram_xent_sql())


def _q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival — Nelson–Aalen cumulative hazard on right-censored
    customer lifetimes (operators/relational.py:nelson_aalen_hazard);
    the additive twin of kaplan_meier_retention's product."""
    return relational.nelson_aalen_hazard(load(spark, sf_dir, "orders"))


def _nelson_aalen_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import KM_CENSOR, NA_SCALE

    s = f"{NA_SCALE:.1f}"
    return f"""
        WITH cust AS (
          SELECT o_custkey, min(o_orderdate) AS first_o,
                 max(o_orderdate) AS last_o
          FROM orders GROUP BY 1),
        per AS (
          SELECT datediff('day', CAST(first_o AS DATE), CAST(last_o AS DATE)) AS t,
                 CASE WHEN CAST(last_o AS DATE) < DATE '{KM_CENSOR}'
                      THEN 1 ELSE 0 END AS event
          FROM cust),
        by_t AS (
          SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
                 CAST(count(*) AS BIGINT) AS n_exit
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(sum(n_exit) AS BIGINT) AS n_total FROM by_t),
        risk AS (
          SELECT t, d_events,
                 CAST(n_total - COALESCE(sum(n_exit) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM by_t CROSS JOIN tot),
        steps AS (
          SELECT t, d_events, n_risk,
                 CAST(floor(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                     * {s} + 0.5) AS BIGINT) AS qh,
                 CAST(floor(CAST(d_events AS DOUBLE)
                     / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
                     * {s} + 0.5) AS BIGINT) AS qv
          FROM risk WHERE d_events > 0),
        cum AS (
          SELECT t, d_events, n_risk,
                 sum(qh) OVER w AS hs, sum(qv) OVER w AS vs
          FROM steps
          WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))
        SELECT CAST(t AS INT) AS t_days, n_risk, d_events,
               {_q(f'CAST(hs AS DOUBLE) / {s}', 6)} AS cum_hazard,
               {_q(f'CAST(vs AS DOUBLE) / {s}', 8)} AS hazard_var
        FROM cum ORDER BY 1"""


register("nelson_aalen_hazard", _q_nelson_aalen, _nelson_aalen_sql())


def _q_attr_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution — closed-form Shapley credit for the symmetric
    any-touch game: equal split across DISTINCT lookback channels
    (operators/attribution.py:shapley_attribution)."""
    return _attr.shapley_attribution(load(spark, sf_dir, "events"))


register(
    "attribution_shapley",
    _q_attr_shapley,
    f"""WITH convs AS (
          SELECT event_id AS conv_id, user_id AS c_user, ts AS c_ts,
                 value AS c_value
          FROM events WHERE event_type = '{_attr.ATTR_CONVERSION_TYPE}'),
        touches AS (
          SELECT user_id AS t_user, ts AS t_ts, event_type AS channel
          FROM events WHERE event_type IN ({_ATTR_TOUCH_IN})),
        participants AS (
          SELECT DISTINCT conv_id, channel, c_value
          FROM convs JOIN touches
            ON c_user = t_user
           AND t_ts >= c_ts - INTERVAL {_attr.ATTR_LOOKBACK_SEC} SECOND
           AND t_ts < c_ts),
        split AS (
          SELECT conv_id, channel, c_value,
                 count(*) OVER (PARTITION BY conv_id) AS k
          FROM participants)
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_conversions,
               {_d('c_value / CAST(k AS DOUBLE)')} AS shapley_revenue
        FROM split GROUP BY 1 ORDER BY 1""",
)


from .operators import profiling as _prof9  # noqa: E402


def _q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling — functional-dependency audit over candidate LHS→RHS
    pairs (operators/profiling.py:fd_violations); TANE-style
    single-column check on distinct-pair frames."""
    tables = {
        "orders": load(spark, sf_dir, "orders"),
        "lineitem": load(spark, sf_dir, "lineitem"),
    }
    return _prof9.fd_violations(tables)


def _fd_violations_sql() -> str:
    from .operators.profiling import FD_CANDIDATES

    arms = "\n        UNION ALL ".join(
        f"""SELECT '{label}' AS candidate,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating_groups,
               CAST(max(variants) AS BIGINT) AS max_rhs_variants,
               max(variants) = 1 AS fd_holds
        FROM (SELECT l, CAST(count(*) AS BIGINT) AS variants
              FROM (SELECT DISTINCT {lhs} AS l, {rhs} AS r FROM {tname})
              GROUP BY l)"""
        for label, tname, lhs, rhs in FD_CANDIDATES
    )
    return f"SELECT * FROM ({arms}) ORDER BY candidate"


register("fd_violations", _q_fd_violations, _fd_violations_sql())


def _q_huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics — Huber M-location of order value per priority
    via 3 IRLS rounds (operators/relational.py:huber_location); pure
    broadcast-back aggregates, no sort/window anywhere."""
    return relational.huber_location(load(spark, sf_dir, "orders"))


def _huber_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import HUBER_DELTA, HUBER_ITERS

    d = f"{HUBER_DELTA!r}"
    prev = "c0"
    iters = [
        """c0 AS (
          SELECT grp, {m} AS m, CAST(count(*) AS BIGINT) AS n,
                 CAST(0 AS BIGINT) AS n_downweighted
          FROM base GROUP BY grp)""".format(m=_d("y") + " / CAST(count(*) AS DOUBLE)")
    ]
    for i in range(1, HUBER_ITERS + 1):
        w = f"CASE WHEN abs(y - m) <= {d} THEN 1.0 ELSE {d} / abs(y - m) END"
        iters.append(f"""c{i} AS (
          SELECT b.grp,
                 {_d(f'({w}) * y')} / {_d(f'({w})')} AS m,
                 max(n) AS n,
                 CAST(sum(CASE WHEN abs(y - m) > {d} THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_downweighted
          FROM base b JOIN {prev} USING (grp) GROUP BY b.grp)""")
        prev = f"c{i}"
    chain = ",\n        ".join(iters)
    return f"""
        WITH base AS (SELECT o_orderpriority AS grp, o_totalprice AS y
                      FROM orders),
        {chain},
        mean AS (SELECT grp, {_d('y')} / CAST(count(*) AS DOUBLE) AS mn
                 FROM base GROUP BY grp)
        SELECT c.grp AS o_orderpriority, c.n AS n_orders,
               {_q('mn', 4)} AS plain_mean,
               {_q('c.m', 4)} AS huber_location,
               c.n_downweighted
        FROM {prev} c JOIN mean USING (grp) ORDER BY 1"""


register("huber_location", _q_huber_location, _huber_sql())


def _q_attr_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution — U-shaped 40/20/40 position credit
    (operators/attribution.py:position_attribution); the fourth model
    bracketing first/last, linear, and Shapley."""
    return _attr.position_attribution(load(spark, sf_dir, "events"))


def _attr_position_sql() -> str:
    from .operators.attribution import POSITION_FIRST, POSITION_LAST

    mid = 1.0 - POSITION_FIRST - POSITION_LAST
    return f"""WITH convs AS (
          SELECT event_id AS conv_id, user_id AS c_user, ts AS c_ts,
                 value AS c_value
          FROM events WHERE event_type = '{_attr.ATTR_CONVERSION_TYPE}'),
        touches AS (
          SELECT user_id AS t_user, ts AS t_ts, event_id AS t_eid,
                 event_type AS channel
          FROM events WHERE event_type IN ({_ATTR_TOUCH_IN})),
        ranked AS (
          SELECT conv_id, channel, c_value,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY t_ts, t_eid) AS pos,
                 count(*) OVER (PARTITION BY conv_id) AS k
          FROM convs JOIN touches
            ON c_user = t_user
           AND t_ts >= c_ts - INTERVAL {_attr.ATTR_LOOKBACK_SEC} SECOND
           AND t_ts < c_ts),
        credited AS (
          SELECT conv_id, channel,
                 c_value * CASE WHEN k = 1 THEN 1.0
                                WHEN k = 2 THEN 0.5
                                WHEN pos = 1 THEN {POSITION_FIRST!r}
                                WHEN pos = k THEN {POSITION_LAST!r}
                                ELSE {mid!r} / CAST(k - 2 AS DOUBLE)
                           END AS credit
          FROM ranked)
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_touchpoints,
               CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
               {_d('credit')} AS position_revenue
        FROM credited GROUP BY 1 ORDER BY 1"""


register("attribution_position", _q_attr_position, _attr_position_sql())


def _q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling — Shannon entropy per categorical column with
    uniformity normalization (operators/profiling.py:column_entropy)."""
    tables = {
        t: load(spark, sf_dir, t)
        for t in ("orders", "lineitem", "customer", "events")
    }
    return _prof9.column_entropy(tables)


def _column_entropy_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.profiling import ENTROPY_COLUMNS, ENTROPY_SCALE

    s = f"{ENTROPY_SCALE!r}"
    arms = "\n        UNION ALL ".join(
        f"""SELECT '{label}' AS column_name,
               CAST(max(n) AS BIGINT) AS n_rows,
               CAST(max(k) AS BIGINT) AS n_distinct,
               {_q(f'CAST(sum(q) AS DOUBLE) / {s}', 6)} AS entropy_nats,
               CASE WHEN max(k) > 1 THEN
                 {_q(f'CAST(sum(q) AS DOUBLE) / {s}'
                     ' / ln(CAST(max(k) AS DOUBLE))', 6)} END AS normalized
        FROM (
          SELECT n, k,
                 CAST(floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * {s} + 0.5) AS BIGINT) AS q
          FROM (SELECT CAST({col} AS VARCHAR) AS v, count(*) AS c
                FROM {tname} GROUP BY 1) counts
          CROSS JOIN (SELECT sum(c) AS n, count(*) AS k FROM (
              SELECT count(*) AS c FROM {tname}
              GROUP BY CAST({col} AS VARCHAR))) tot)"""
        for label, tname, col in ENTROPY_COLUMNS
    )
    return f"SELECT * FROM ({arms}) ORDER BY column_name"


register("column_entropy", _q_column_entropy, _column_entropy_sql())


from .operators import graph as _graph9  # noqa: E402


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph — synchronous label-propagation communities on the weighted
    customer↔supplier bipartite graph
    (operators/graph.py:label_propagation_communities); 3 Pregel-style
    supersteps, self-vote damping, min-label ties."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # node ids carried as lexpack'd LONGS (order-isomorphic to the
    # 'c…'/'s…' strings — graph.py docstring/proof): grouping by the
    # packed key is grouping by the string (bijection), every superstep's
    # min-label tie-break orders identically, and the winning labels are
    # re-derived as strings on the top_k census rows only (r15)
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            _graph9.lexpack(0, F.col("o_custkey")).alias("c"),
            _graph9.lexpack(1, F.col("l_suppkey")).alias("s"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    return _graph9.label_propagation_communities(
        edges, decode=lambda c: _graph9.lexunpack(c, "c", "s")
    )


def _lpa_sql() -> str:
    from .operators.graph import LPA_ITERS, LPA_TOP_K

    prev = "l0"
    rounds = []
    for i in range(1, LPA_ITERS + 1):
        rounds.append(f"""v{i} AS (
          SELECT node, label, sum(wt) AS wt FROM (
            SELECT e.src AS node, p.label, e.w AS wt
            FROM edges e JOIN {prev} p ON e.dst = p.node
            UNION ALL
            SELECT node, label, CAST(1 AS BIGINT) FROM {prev})
          GROUP BY 1, 2),
        l{i} AS (
          SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY wt DESC, label) AS rn
            FROM v{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    chain = ",\n        ".join(rounds)
    return f"""
        WITH pairs AS (
          SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                 's' || CAST(l_suppkey AS VARCHAR) AS s,
                 CAST(count(*) AS BIGINT) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS (SELECT c AS src, s AS dst, w FROM pairs
                  UNION ALL SELECT s, c, w FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        {chain},
        census AS (
          SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
          FROM {prev} GROUP BY 1)
        SELECT community, n_members, CAST(rn AS INT) AS rank FROM (
          SELECT *, row_number() OVER (ORDER BY n_members DESC, community)
                      AS rn
          FROM census) WHERE rn <= {LPA_TOP_K} ORDER BY rn"""


register("lpa_communities", _q_lpa_communities, _lpa_sql())


def _q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival — log-rank test between two customer segments' churn
    curves (operators/relational.py:log_rank_test)."""
    return relational.log_rank_test(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


def _log_rank_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import (
        KM_CENSOR,
        LOGRANK_SEG_A,
        LOGRANK_SEG_B,
        LR_SCALE,
    )

    s = f"{LR_SCALE!r}"
    return f"""
        WITH seg AS (SELECT c_custkey, c_mktsegment AS seg FROM customer
                     WHERE c_mktsegment IN ('{LOGRANK_SEG_A}', '{LOGRANK_SEG_B}')),
        cust AS (
          SELECT o_custkey, seg, min(o_orderdate) AS first_o,
                 max(o_orderdate) AS last_o
          FROM orders JOIN seg ON o_custkey = c_custkey
          GROUP BY 1, 2),
        per AS (
          SELECT seg,
                 datediff('day', CAST(first_o AS DATE), CAST(last_o AS DATE)) AS t,
                 CASE WHEN CAST(last_o AS DATE) < DATE '{KM_CENSOR}'
                      THEN 1 ELSE 0 END AS event
          FROM cust),
        by_t AS (
          SELECT t, CAST(sum(event) AS BIGINT) AS d,
                 CAST(sum(CASE WHEN seg = '{LOGRANK_SEG_A}' THEN event
                          ELSE 0 END) AS BIGINT) AS d_a,
                 CAST(count(*) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN seg = '{LOGRANK_SEG_A}' THEN 1 ELSE 0 END)
                      AS BIGINT) AS x_a
          FROM per GROUP BY 1),
        tot AS (SELECT CAST(sum(x) AS BIGINT) AS n_tot,
                       CAST(sum(x_a) AS BIGINT) AS n_tot_a,
                       CAST(sum(d) AS BIGINT) AS ev_tot,
                       CAST(sum(d_a) AS BIGINT) AS ev_tot_a FROM by_t),
        risk AS (
          SELECT t, d, d_a,
                 n_tot - COALESCE(sum(x) OVER wp, 0) AS n,
                 n_tot_a - COALESCE(sum(x_a) OVER wp, 0) AS n_a,
                 n_tot, n_tot_a, ev_tot, ev_tot_a
          FROM by_t CROSS JOIN tot
          WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING)),
        steps AS (
          SELECT *,
                 CAST(floor((CAST(d_a AS DOUBLE)
                     - CAST(d AS DOUBLE) * (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)))
                     * {s} + 0.5) AS BIGINT) AS q_oe,
                 CAST(floor(CAST(d AS DOUBLE)
                     * (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1.0) * {s} + 0.5) AS BIGINT) AS q_v
          FROM risk WHERE d > 0 AND n > 1),
        agg AS (
          SELECT max(n_tot_a) AS n_a_total,
                 max(n_tot) - max(n_tot_a) AS n_b_total,
                 max(ev_tot_a) AS events_a,
                 max(ev_tot) - max(ev_tot_a) AS events_b,
                 CAST(sum(q_oe) AS BIGINT) AS qoe,
                 CAST(sum(q_v) AS BIGINT) AS qv
          FROM steps)
        SELECT '{LOGRANK_SEG_A}' AS segment_a, '{LOGRANK_SEG_B}' AS segment_b,
               CAST(n_a_total AS BIGINT) AS n_a_total,
               CAST(n_b_total AS BIGINT) AS n_b_total,
               CAST(events_a AS BIGINT) AS events_a,
               CAST(events_b AS BIGINT) AS events_b,
               {_q(f'CAST(qoe AS DOUBLE) / {s}', 6)} AS observed_minus_expected,
               {_q(f'CAST(qv AS DOUBLE) / {s}', 6)} AS variance,
               {_q(f'(CAST(qoe AS DOUBLE) / {s}) * (CAST(qoe AS DOUBLE) / {s})'
                   f' / (CAST(qv AS DOUBLE) / {s})', 6)} AS chi_sq
        FROM agg"""


register("log_rank_test", _q_log_rank, _log_rank_sql())


def _q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time series — Mann–Kendall monotone-trend test on daily revenue
    (operators/relational.py:mann_kendall_trend); the nonparametric
    companion to theil_sen_trend on the same calendar-bounded pairs."""
    return relational.mann_kendall_trend(load(spark, sf_dir, "orders"))


def _mann_kendall_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.relational import TS_BASE_DATE

    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        d AS (SELECT datediff('day', DATE '{TS_BASE_DATE}', day) AS x, y
              FROM daily),
        s_agg AS (
          SELECT CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM d a JOIN d b ON a.x < b.x),
        ties AS (
          SELECT CAST(COALESCE(sum(tg * (tg - 1) * (2 * tg + 5)), 0)
                      AS BIGINT) AS tie_num
          FROM (SELECT count(*) AS tg FROM d GROUP BY y HAVING count(*) > 1)),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        j AS (SELECT * FROM s_agg CROSS JOIN ties CROSS JOIN nn),
        f AS (
          SELECT n, n_pairs, s,
                 CAST(n * (n - 1) * (2 * n + 5) - tie_num AS DOUBLE) / 18.0
                   AS var_s
          FROM j)
        SELECT n AS n_days, n_pairs, s AS s_statistic,
               {_q('var_s', 4)} AS var_s,
               {_q("CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_s) "
                   "WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_s) "
                   "ELSE 0.0 END", 6)} AS z_score,
               CASE WHEN s > 0 THEN 'increasing'
                    WHEN s < 0 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM f"""


register("mann_kendall_trend", _q_mann_kendall, _mann_kendall_sql())


from .operators import recsys as _recsys9  # noqa: E402


def _q_rec_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender evaluation — temporal-split hit-rate / precision@k of
    the item-item recommender
    (operators/recsys.py:recommendation_hitrate)."""
    return _recsys9.recommendation_hitrate(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    )


def _rec_hitrate_sql() -> str:
    from .numeric import sql_qround as _q
    from .operators.recsys import II_MIN_SUPPORT, REC_EVAL_SPLIT, UIR_TOP_K

    return f"""
        WITH train_o AS (SELECT o_orderkey, o_custkey FROM orders
                         WHERE CAST(o_orderdate AS DATE) < DATE '{REC_EVAL_SPLIT}'),
        test_o AS (SELECT o_orderkey, o_custkey FROM orders
                   WHERE CAST(o_orderdate AS DATE) >= DATE '{REC_EVAL_SPLIT}'),
        train_l AS (SELECT l.l_orderkey, l.l_partkey
                    FROM lineitem l JOIN train_o t ON l.l_orderkey = t.o_orderkey),
        b AS (SELECT DISTINCT l_orderkey, l_partkey FROM train_l),
        pairs AS (
          SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM b x JOIN b y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {II_MIN_SUPPORT}),
        directed AS (
          SELECT part_a AS item, part_b AS rec, support FROM pairs
          UNION ALL
          SELECT part_b AS item, part_a AS rec, support FROM pairs),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
                 FROM b GROUP BY 1),
        simsc AS (
          SELECT d.item, d.rec,
                 {_q(
                     "CAST(d.support AS DOUBLE)"
                     " / sqrt(CAST(i.n_item AS DOUBLE) * CAST(r.n_item AS DOUBLE))",
                     6)} AS cosine
          FROM directed d
          JOIN item i ON i.l_partkey = d.item
          JOIN item r ON r.l_partkey = d.rec),
        sims AS (
          SELECT item, rec, cosine
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY item ORDER BY cosine DESC, rec) AS rk
                FROM simsc)
          WHERE rk <= {UIR_TOP_K}),
        owned AS (
          SELECT DISTINCT t.o_custkey AS custkey, l.l_partkey AS item
          FROM train_l l JOIN train_o t ON l.l_orderkey = t.o_orderkey),
        cand AS (
          SELECT o.custkey, s.rec,
                 {_q(_d('s.cosine'), 6)} AS score
          FROM owned o JOIN sims s USING (item)
          GROUP BY 1, 2),
        unowned AS (
          SELECT c.* FROM cand c ANTI JOIN owned w
            ON c.custkey = w.custkey AND c.rec = w.item),
        recs AS (
          SELECT custkey, rec
          FROM (SELECT custkey, rec,
                       row_number() OVER (
                         PARTITION BY custkey ORDER BY score DESC, rec) AS rank
                FROM unowned)
          WHERE rank <= {UIR_TOP_K}),
        test_new AS (
          SELECT DISTINCT t.o_custkey AS custkey, l.l_partkey AS item
          FROM lineitem l JOIN test_o t ON l.l_orderkey = t.o_orderkey
          ANTI JOIN owned w
            ON t.o_custkey = w.custkey AND l.l_partkey = w.item),
        eval_users AS (
          SELECT custkey FROM (SELECT DISTINCT custkey FROM recs)
          INTERSECT SELECT DISTINCT custkey FROM test_new),
        recs_eval AS (SELECT r.* FROM recs r JOIN eval_users USING (custkey)),
        hits AS (SELECT r.custkey, r.rec FROM recs_eval r
                 JOIN test_new t ON r.custkey = t.custkey AND r.rec = t.item),
        agg_r AS (SELECT CAST(count(DISTINCT custkey) AS BIGINT) AS n_users_eval,
                         CAST(count(*) AS BIGINT) AS n_recs_eval
                  FROM recs_eval),
        agg_h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits,
                         CAST(count(DISTINCT custkey) AS BIGINT) AS n_hit_users
                  FROM hits)
        SELECT '{REC_EVAL_SPLIT}' AS split_date,
               CAST({UIR_TOP_K} AS INT) AS k,
               n_users_eval, n_recs_eval, n_hits, n_hit_users,
               {_q('CAST(n_hit_users AS DOUBLE) / CAST(n_users_eval AS DOUBLE)', 6)}
                 AS hit_rate,
               {_q('CAST(n_hits AS DOUBLE) / CAST(n_recs_eval AS DOUBLE)', 6)}
                 AS precision_at_k
        FROM agg_r CROSS JOIN agg_h"""


register("recommendation_hitrate", _q_rec_hitrate, _rec_hitrate_sql())

"""Second wave of driver-facing queries: the SCD2 merge verified end-to-end
against a SQL oracle, the as-of join (oracled by DuckDB's native ASOF
JOIN), and the remaining relational surface (set ops, pivot, cube,
top-k per group)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.functions.expressions import keep_first
from _data_engineering_pipeline_project_spark.operators.asof import asof_join
from _data_engineering_pipeline_project_spark.operators.scd2 import scd2_merge
from _data_engineering_pipeline_project_spark.queries import query

_T1 = datetime(2024, 1, 1)
_T2 = datetime(2024, 2, 1)

# batch1 = part keys not divisible by 5; batch2 = keys not divisible by 7,
# with p_brand bumped on keys divisible by 3 → between the batches there
# are inserts (%5==0, %7!=0), deletes (%7==0), updates (%3==0 overlap),
# and unchanged rows.
_PART_COLS = "p_partkey, p_name, p_brand, p_type, p_size, p_retailprice"
_BATCHES_SQL = f"""
    b1 AS (SELECT {_PART_COLS} FROM part WHERE p_partkey % 5 <> 0),
    b2 AS (SELECT p_partkey, p_name,
                  CASE WHEN p_partkey % 3 = 0 THEN 'BUMPED' ELSE p_brand END AS p_brand,
                  p_type, p_size, p_retailprice
           FROM part WHERE p_partkey % 7 <> 0)
"""


def _part_batches(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    p = table(spark, sf, "part")
    b1 = p.filter(F.col("p_partkey") % 5 != 0)
    b2 = p.filter(F.col("p_partkey") % 7 != 0).withColumn(
        "p_brand",
        F.when(F.col("p_partkey") % 3 == 0, F.lit("BUMPED")).otherwise(
            F.col("p_brand")
        ),
    )
    return b1, b2


@query(
    "scd2_snapshot_after_two_batches",
    f"""
    WITH {_BATCHES_SQL}
    SELECT coalesce(b2.p_partkey, b1.p_partkey) AS p_partkey,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_name
                ELSE b1.p_name END AS p_name,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_brand
                ELSE b1.p_brand END AS p_brand,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_type
                ELSE b1.p_type END AS p_type,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_size
                ELSE b1.p_size END AS p_size,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_retailprice
                ELSE b1.p_retailprice END AS p_retailprice,
           CASE WHEN b1.p_partkey IS NULL THEN TIMESTAMP '2024-02-01'         -- insert
                WHEN b2.p_partkey IS NULL THEN TIMESTAMP '2024-02-01'         -- delete
                WHEN b2.p_brand IS DISTINCT FROM b1.p_brand
                  THEN TIMESTAMP '2024-02-01'                                 -- update
                ELSE TIMESTAMP '2024-01-01' END AS updated_at,                -- unchanged
           (b2.p_partkey IS NULL) AS is_deleted
    FROM b1 FULL OUTER JOIN b2 ON b1.p_partkey = b2.p_partkey
    """,
)
def scd2_snapshot_after_two_batches(spark: SparkSession, sf: str) -> DataFrame:
    """M1 flagship verified end-to-end: two scd2_merge passes over derived
    part snapshots; the oracle reconstructs the expected current state
    with one FULL OUTER JOIN."""
    b1, b2 = _part_batches(spark, sf)
    r1 = scd2_merge(b1, None, ["p_partkey"], _T1)
    r2 = scd2_merge(b2, r1.snapshot, ["p_partkey"], _T2)
    return r2.snapshot


@query(
    "scd2_history_after_two_batches",
    f"""
    WITH {_BATCHES_SQL}
    SELECT b1.p_partkey, b1.p_name, b1.p_brand, b1.p_type, b1.p_size,
           b1.p_retailprice,
           (b2.p_partkey IS NULL) AS is_deleted,
           TIMESTAMP '2024-01-01' AS valid_from,
           TIMESTAMP '2024-02-01' AS valid_to
    FROM b1 LEFT JOIN b2 ON b1.p_partkey = b2.p_partkey
    WHERE b2.p_partkey IS NULL                         -- archived by delete
       OR b2.p_brand IS DISTINCT FROM b1.p_brand       -- archived by update
    """,
)
def scd2_history_after_two_batches(spark: SparkSession, sf: str) -> DataFrame:
    """History delta of the second merge: the OLD version of every updated
    row plus a tombstone copy of every deleted row (reference etl2:346-369,
    382-401)."""
    b1, b2 = _part_batches(spark, sf)
    r1 = scd2_merge(b1, None, ["p_partkey"], _T1)
    r2 = scd2_merge(b2, r1.snapshot, ["p_partkey"], _T2)
    return r2.history


@query(
    "asof_join_events",
    """
    WITH clicks AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
      FROM events WHERE event_type = 'click'
    ), signups AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                      ORDER BY event_id NULLS FIRST) AS rn
            FROM events WHERE event_type = 'signup')
      WHERE rn = 1
    )
    SELECT c.event_id, c.ts, c.user_id, c.value,
           s.ts AS ts_asof, s.event_id AS signup_event_id
    FROM clicks c ASOF LEFT JOIN signups s
      ON c.user_id = s.user_id AND c.ts >= s.ts
    """,
)
def asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent signup at
    or before it (point-in-time lookup). DuckDB's native ASOF JOIN is the
    oracle for the engine's union-tag-window implementation."""
    ev = table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    # unique (user_id, ts) on the right side for deterministic ties
    signups, _ = keep_first(signups, ["user_id", "ts"], ["event_id"])
    return asof_join(
        clicks,
        signups,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id"],
    ).withColumnRenamed("event_id_asof", "signup_event_id")


@query(
    "range_join_events_pairs",
    """
    SELECT a.event_id AS l_event_id, b.event_id AS r_event_id,
           a.user_id AS l_user_id,
           CAST(a.ts AS TIMESTAMP) AS l_ts, CAST(b.ts AS TIMESTAMP) AS r_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id <> b.event_id
     AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1800 SECOND
    """,
)
def range_join_events_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join: same-user event pairs within 30 minutes, planned as a
    bucketized hash join (operators/rangejoin.py) — NOT the quadratic
    BroadcastNestedLoopJoin Spark produces for a raw inequality join."""
    from _data_engineering_pipeline_project_spark.operators.rangejoin import (
        range_join_within,
    )

    ev = table(spark, sf, "events").select("event_id", "ts", "user_id")
    out = range_join_within(ev, ev, ["user_id"], "ts", "ts", 1800)
    return out.filter(F.col("l_event_id") != F.col("r_event_id")).select(
        "l_event_id", "r_event_id", "l_user_id", "l_ts", "r_ts"
    )


@query(
    "distinct_users_per_event_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users_per_event_type(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation (exact; the approx_count_distinct twin is the
    scale path but is engine-specific, so the oracle checks the exact one)."""
    return (
        table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "windowed_order_analytics",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           max(o_totalprice) OVER w AS running_max,
           CAST(count(*) OVER w AS BIGINT) AS n_so_far,
           o_totalprice - lag(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST,
              o_orderkey NULLS FIRST) AS delta_vs_prev,
           CAST(row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST,
              o_orderkey NULLS FIRST) AS INTEGER) AS order_seq
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST,
                 o_orderkey NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def windowed_order_analytics(spark: SparkSession, sf: str) -> DataFrame:
    """Window frames + lag analytics per customer: running max, running
    count, delta vs previous order, sequence number. Only order-exact
    aggregates (max/count/lag) — window SUMS accumulate in engine-specific
    order (DuckDB segment trees) and can drift in the last ulp."""
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.max("o_totalprice").over(frame).alias("running_max"),
        F.count(F.lit(1)).over(frame).alias("n_so_far"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias(
            "delta_vs_prev"
        ),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "sql_api_revenue_by_segment",
    """
    SELECT c.c_mktsegment, round(sum(o.o_totalprice), 2) AS total_price,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sql_api_revenue_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """The engine's SQL surface: tables registered as temp views, query
    written in spark.sql — Catalyst produces the same plan as the
    DataFrame API (the engine supports both front ends)."""
    table(spark, sf, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c.c_mktsegment, round(sum(o.o_totalprice), 2) AS total_price,
               count(*) AS n_orders
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )


@query(
    "json_extract_events",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured ops: parse the JSON props column JVM-side
    (get_json_object — no Python, full codegen) and aggregate a field."""
    ev = table(spark, sf, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "median_value_per_type",
    """
    SELECT event_type, CAST(median(value) AS DOUBLE) AS median_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def median_value_per_type(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median (order statistic — no accumulation-order float drift,
    unlike sums)."""
    return (
        table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.median("value").alias("median_value"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "udaf_value_stats_per_user",
    """
    SELECT user_id, count(*) AS n,
           CAST(median(value) AS DOUBLE) AS median_value,
           max(value) - min(value) AS value_range
    FROM events GROUP BY user_id
    """,
)
def udaf_value_stats_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Custom UDAF surface (SURVEY §2h): per-group pandas aggregation via
    applyInPandas — the engine's pattern for aggregates Spark lacks. The
    oracle cross-checks the pandas implementation against DuckDB's
    built-ins (median = numpy median, avg-of-middle-two for even counts)."""
    import numpy as np
    import pandas as pd

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n": [len(v)],
                "median_value": [float(np.median(v))],
                "value_range": [float(v.max() - v.min())],
            }
        )

    return (
        table(spark, sf, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            stats, "user_id long, n long, median_value double, value_range double"
        )
    )


@query("approx_distinct_and_quantiles")  # rows-only: sketches are engine-specific
def approx_distinct_and_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch-based scale path for distinct counts and quantiles
    (HyperLogLog++ / GK): at 100 TB these replace their exact twins
    (`distinct_users_per_event_type`, `median_value_per_type`) at a
    fraction of the shuffle. Engine-specific estimates → rows-only check;
    accuracy is asserted against the exact values in tests."""
    return (
        table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5).alias("approx_median_value"),
            F.percentile_approx("value", 0.99).alias("approx_p99_value"),
        )
    )


@query(
    "orders_snapshot_except",
    """
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
    EXCEPT ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def orders_snapshot_except(spark: SparkSession, sf: str) -> DataFrame:
    """Set ops (SURVEY §2f): bag difference between two snapshots."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    a = o.filter(F.col("o_orderkey") % 3 != 0)
    b = o.filter(F.col("o_orderkey") % 7 != 0)
    return a.exceptAll(b)


@query(
    "orders_snapshot_intersect",
    """
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
    INTERSECT
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 5 <> 0
    """,
)
def orders_snapshot_intersect(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    return o.filter(F.col("o_orderkey") % 3 != 0).intersect(
        o.filter(F.col("o_orderkey") % 5 != 0)
    )


@query(
    "events_pivot_by_type",
    """
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def events_pivot_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: event counts per day × type (fixed pivot values keep the
    schema stable and let Catalyst plan a single aggregation)."""
    ev = table(spark, sf, "events")
    out = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot yields nullable counts; normalize missing combos to 0
    for c in ["click", "error", "purchase", "signup", "view"]:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


@query(
    "cube_lineitem_flags",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "topk_parts_per_brand",
    """
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey
    )
    SELECT p_brand, l_partkey, revenue, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
                    ORDER BY revenue DESC, l_partkey) AS rnk FROM rev)
    WHERE rnk <= 3
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group: window over partitioned rank (the distributed
    top-k idiom — no global sort)."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("l_partkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "l_partkey", "revenue", "rnk")
    )


@query(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Native GROUPING SETS (the general form behind cube/rollup): three
    explicit granularities in ONE aggregate pass — Spark's Expand node
    replicates each input row once per set inside the stage, so there is
    exactly one shuffle regardless of how many sets are requested (a
    UNION-of-groupBys would scan and shuffle once per set). grouping()
    flags disambiguate subtotal rows from genuine NULL group keys."""
    table(spark, sf, "lineitem").createOrReplaceTempView("v_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "incremental_rollup_orders",
    """
    WITH b1 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         b2 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
         allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT o_orderstatus,
           CAST(count(o_totalprice) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total,
           vmin, vmax
    FROM allb
    JOIN (SELECT o_orderstatus AS s2, min(o_totalprice) AS vmin,
                 max(o_totalprice) AS vmax
          FROM allb GROUP BY 1) ON s2 = o_orderstatus
    GROUP BY o_orderstatus, vmin, vmax
    """,
)
def incremental_rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance verified end-to-end:
    orders split into two micro-batches, each partial-aggregated and
    monoid-merged into the rollup (streaming/aggmaint.py — counts/sums
    add, min/max take least/greatest). The oracle recomputes the same
    rollup from scratch over all rows: incremental == full recompute is
    exactly the invariant that makes per-batch O(batch) maintenance
    correct at 100 TB. Sums rounded at 2 (o_totalprice is 2-decimal) —
    note the incremental path adds two partial sums, which lands on the
    same 2-decimal value as the one-pass sum."""
    from _data_engineering_pipeline_project_spark.streaming.aggmaint import (
        merge_rollup,
        partial_agg,
    )

    o = table(spark, sf, "orders")
    b1 = o.filter(F.col("o_orderkey") % 2 == 0)
    b2 = o.filter(F.col("o_orderkey") % 2 == 1)
    r1 = merge_rollup(partial_agg(b1, ["o_orderstatus"], "o_totalprice"), None,
                      ["o_orderstatus"])
    r2 = merge_rollup(partial_agg(b2, ["o_orderstatus"], "o_totalprice"), r1,
                      ["o_orderstatus"])
    return r2.select(
        "o_orderstatus", "n", F.round("total", 2).alias("total"), "vmin", "vmax"
    )


@query(
    "order_rank_distribution",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
    """,
)
def order_rank_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-analytic window functions (ntile / percent_rank /
    cume_dist / lead) per order-status partition — the remaining window
    surface beyond frames/lag. The ORDER BY carries o_orderkey as a
    unique tiebreak: rank-family results on ties are otherwise
    engine-dependent. percent_rank/cume_dist divide exact integer
    ranks by exact counts — identical doubles in both engines, rounded
    at 6 only to normalize repr."""
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "daily_event_counts_gapfilled",
    """
    WITH days AS (
      SELECT unnest(generate_series(
               date_trunc('day', (SELECT min(ts) FROM events)),
               date_trunc('day', (SELECT max(ts) FROM events)),
               INTERVAL 1 DAY)) AS day),
         types AS (SELECT DISTINCT event_type FROM events),
         counts AS (SELECT date_trunc('day', ts) AS day, event_type,
                           count(*) AS n
                    FROM events GROUP BY 1, 2)
    SELECT d.day, t.event_type,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM days d
    CROSS JOIN types t
    LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
    """,
)
def daily_event_counts_gapfilled(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resampling with gap fill: daily counts per event type
    on a DENSE day spine (missing (day, type) combos become explicit
    zeros — the difference between a chart with holes and a correct
    one). The spine is generated from a 1-row min/max aggregate via
    sequence+explode and cross-joined with the distinct types — both
    sides are tiny and broadcast; the only fact-sized work is the one
    groupBy. ts arrives as TIMESTAMP(NANOS) parquet; the catalog
    normalizes to microseconds identically in both engines, and
    date_trunc erases any sub-second concern."""
    ev = table(spark, sf, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    )
    counts = ev.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("_n"))
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = ev.select("event_type").distinct()
    return (
        days.crossJoin(types)
        .join(counts, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("_n", F.lit(0)).alias("n"),
        )
    )


@query(
    "value_quartiles_per_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS q25,
           round(quantile_cont(value, 0.50), 6) AS q50,
           round(quantile_cont(value, 0.75), 6) AS q75,
           CAST(count(value) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def value_quartiles_per_type(spark: SparkSession, sf: str) -> DataFrame:
    """Exact multi-quantile aggregate (order statistics with linear
    interpolation — both engines interpolate (1-g)*lo + g*hi over the
    same sorted doubles, so values match to the bit; round(6) only
    normalizes repr). The approximate twin for 100 TB is
    approx_distinct_and_quantiles (GK sketch)."""
    pcts = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        table(spark, sf, "events")
        .groupBy("event_type")
        .agg(pcts.alias("_p"), F.count("value").alias("n"))
        .select(
            "event_type",
            F.round(F.col("_p")[0], 6).alias("q25"),
            F.round(F.col("_p")[1], 6).alias("q50"),
            F.round(F.col("_p")[2], 6).alias("q75"),
            "n",
        )
    )


@query(
    "udtf_json_kv_explode",
    """
    SELECT event_id,
           regexp_extract(props, '"(\\w+)"', 1) AS key,
           regexp_extract(props, ': ?([^}]+)}', 1) AS val
    FROM events WHERE props IS NOT NULL
    """,
)
def udtf_json_kv_explode(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table functions): schema-on-read
    explosion of a JSON column into (key, value) rows WITHOUT declaring
    the keys up front — the one JSON shape `get_json_object` can't
    express (unknown keys). The UDTF runs per-row in a lateral join;
    for known-key extraction the codegen'd `get_json_object` path
    (`json_extract_events`) is the fast lane — this covers the dynamic
    case and the UDTF API itself. Oracle exploits the testdata's
    single-key props via regexp (DuckDB's json extension isn't bundled
    offline)."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="event_id bigint, key string, val string")
    class JsonKV:
        def eval(self, event_id, props):  # noqa: ANN001 — UDTF protocol
            if props is None:
                return
            for k, v in json.loads(props).items():
                yield event_id, k, str(v)

    spark.udtf.register("json_kv", JsonKV)
    table(spark, sf, "events").createOrReplaceTempView("v_ev_udtf")
    return spark.sql(
        """
        SELECT kv.event_id, kv.key, kv.val
        FROM v_ev_udtf e, LATERAL json_kv(e.event_id, e.props) kv
        WHERE e.props IS NOT NULL
        """
    )


@query(
    "value_stats_moments_per_type",
    """
    SELECT event_type,
           round(stddev_samp(value), 6) AS sd,
           round(var_samp(value), 6) AS var,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_user,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_user,
           CAST(count(value) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def value_stats_moments_per_type(spark: SparkSession, sf: str) -> DataFrame:
    """Second-moment statistical aggregates (stddev/variance/covariance/
    correlation) per group — single-pass co-moment accumulation in both
    engines (Welford-style), numerically stable; round(6) absorbs the
    accumulation-order ulp drift (relative error ~1e-12, far below the
    rounding digit)."""
    uid = F.col("user_id").cast("double")
    return (
        table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 6).alias("sd"),
            F.round(F.var_samp("value"), 6).alias("var"),
            F.round(F.covar_samp(F.col("value"), uid), 6).alias("cov_user"),
            F.round(F.corr(F.col("value"), uid), 6).alias("corr_user"),
            F.count("value").alias("n"),
        )
    )


@query(
    "value_histogram",
    """
    SELECT CAST(least(greatest(floor(value / 10.0), -1), 10) AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram as a one-pass aggregate: bucket index from
    floor division (clamped tails), per-bucket count and actual bounds.
    The bucket expression is identical integer arithmetic in both
    engines — no width_bucket dialect differences. At scale this is the
    map-side-combinable histogram every profiler needs (distinct bucket
    count is tiny, so the shuffle is O(buckets))."""
    b = F.least(
        F.greatest(F.floor(F.col("value") / 10.0), F.lit(-1)), F.lit(10)
    ).cast("long")
    return (
        table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@query(
    "nested_roundtrip_orders",
    """
    SELECT o_orderkey, o_custkey, l_linenumber, l_quantity, l_extendedprice,
           CAST(n_lines AS BIGINT) AS n_lines
    FROM (SELECT l_orderkey, count(*) OVER (PARTITION BY l_orderkey) AS n_lines,
                 l_linenumber, l_quantity, l_extendedprice
          FROM lineitem) l
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderkey % 100 = 0
    """,
)
def nested_roundtrip_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Denormalize→renormalize round trip: order lines collected into an
    array<struct> (the nested document shape data lakes store), then
    exploded back to flat rows with the nest-level count attached —
    proving the nesting is lossless. collect_list inside a groupBy is
    one shuffle on the join key; inline() re-flattens in-stage. The
    oracle never nests (DuckDB list-of-struct stringification differs):
    it recomputes the same flat result with a window count."""
    li = (
        table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_linenumber", "l_quantity", "l_extendedprice")
        ).alias("lines")
    )
    return (
        nested.join(
            table(spark, sf, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.size("lines").cast("long").alias("n_lines"),
            F.explode("lines").alias("line"),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("line.l_linenumber").alias("l_linenumber"),
            F.col("line.l_quantity").alias("l_quantity"),
            F.col("line.l_extendedprice").alias("l_extendedprice"),
            "n_lines",
        )
    )


@query(
    "fuzzy_part_name_pairs",
    """
    WITH p AS (
        SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
        FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM p a JOIN p b
      ON a.blk = b.blk
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy matching / entity resolution over the FULL table: blocked
    candidate generation + edit-distance verify, the standard two-stage
    shape (same as the MinHash verify stage). The block key is the first
    name token (a shuffle-friendly equi-join key — Catalyst picks
    sort-merge/shuffled-hash, never a theta join), with the length
    necessary-condition |len(a)-len(b)| <= 3 pruning candidates before
    the DP runs; within-block work is quadratic only in the block width,
    not the table. levenshtein is built-in JVM-side in Spark and core in
    DuckDB — same DP definition, exact integer parity. Candidate recall
    is defined by the block: pairs whose FIRST token itself drifted are
    out of contract (multi-key blocking — add last-token or phonetic
    blocks and union — widens recall at one extra equi-join each)."""
    p = table(spark, sf, "part").select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
    )
    # ER classic: run the expensive comparator over DISTINCT values, not
    # rows — with heavy name duplication (sf0.1: 20k parts, ~50 distinct
    # names) this cuts levenshtein evals from millions of row pairs to
    # thousands of name pairs; the cheap hash-join expansion back to key
    # pairs then just materializes the (inherently quadratic-in-group-
    # size) output the contract asks for. Identical result set, so the
    # oracle keeps the row-level formulation.
    names = p.select("p_name", "blk").distinct()
    na, nb = names.alias("na"), names.alias("nb")
    # bounded-DP levenshtein: O(len·k) per pair instead of O(len²);
    # returns -1 past the bound, which the 1..3 filter already excludes,
    # so results match the oracle's unbounded form exactly
    ndist = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"), threshold=3)
    name_pairs = (
        na.join(
            nb,
            (F.col("na.blk") == F.col("nb.blk"))
            & (F.col("na.p_name") != F.col("nb.p_name"))
            & (F.abs(F.length("na.p_name") - F.length("nb.p_name")) <= 3),
        )
        .select(
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            ndist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist").between(1, 3))
    )
    ka = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    kb = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    return (
        name_pairs.join(ka, "name_a")
        .join(kb, "name_b")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


@query(
    "table_health_summary",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(count(DISTINCT o_orderkey) / CAST(count(*) AS DOUBLE), 6)
             AS pk_uniqueness,
           round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS custkey_null_ratio,
           round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS price_null_ratio,
           max(o_orderdate) AS freshness_high_water,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_cardinality
    FROM orders
    """,
)
def table_health_summary(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass table health profile (the quality dashboard every sink
    table needs): volume, PK uniqueness ratio, per-column null ratios,
    freshness high-water mark, enum cardinality. All from a single
    aggregate — at 100 TB this is one scan, not one scan per metric
    (the reference computes each check in its own pandas pass). Ratios
    divide exact integers -> bit-identical."""
    o = table(spark, sf, "orders")
    n = F.count(F.lit(1))
    return o.agg(
        n.alias("n_rows"),
        F.round(F.countDistinct("o_orderkey") / n.cast("double"), 6).alias(
            "pk_uniqueness"
        ),
        F.round(
            F.sum(F.col("o_custkey").isNull().cast("int")) / n.cast("double"), 6
        ).alias("custkey_null_ratio"),
        F.round(
            F.sum(F.col("o_totalprice").isNull().cast("int")) / n.cast("double"), 6
        ).alias("price_null_ratio"),
        F.max("o_orderdate").alias("freshness_high_water"),
        F.countDistinct("o_orderstatus").alias("status_cardinality"),
    )


@query(
    "value_drift_psi",
    """
    WITH binned AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'ref' ELSE 'cur' END
               AS period,
             CAST(least(greatest(floor(value / 10.0), -1), 10) AS BIGINT)
               AS bucket
      FROM events WHERE value IS NOT NULL),
    dist AS (
      SELECT bucket,
             sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bucket),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM dist)
    SELECT round(sum((greatest(n_cur / t_cur, 1e-6)
                      - greatest(n_ref / t_ref, 1e-6))
                     * ln(greatest(n_cur / t_cur, 1e-6)
                          / greatest(n_ref / t_ref, 1e-6))), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM dist, tot
    """,
)
def value_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    period of the value distribution — the standard drift alarm for
    training-data pipelines (PSI > 0.2 ≈ actionable shift). One binned
    aggregate produces BOTH period histograms (conditional counts), the
    PSI fold runs over the tiny bucket table; floors at 1e-6 keep empty
    buckets finite identically in both engines. Integer counts divide
    exactly; ln of bit-identical doubles is bit-identical."""
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 10.0), F.lit(-1)), F.lit(10)
    ).cast("long")
    period = F.when(
        F.col("ts") < F.lit("2024-01-15").cast("timestamp"), "ref"
    ).otherwise("cur")
    dist = (
        ev.select(period.alias("period"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = dist.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = F.greatest(F.col("n_cur") / F.col("t_cur"), F.lit(1e-6))
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref"), F.lit(1e-6))
    return (
        dist.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


@query(
    "funnel_view_click_purchase",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS stage_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM firsts
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel analysis (ordered event-sequence matching): users advancing
    view → click → purchase with each stage's FIRST occurrence strictly
    after the previous stage's. Spark-first shape: one conditional-min
    aggregate per user collapses the event stream to a stage-timestamp
    row (single shuffle on user_id, map-side partial mins), then the
    ordering predicates are row-local — no self-joins per stage (the
    naive funnel is an N-way self-join on user_id; this is the same
    result with one pass). NULL stage timestamps fail the > predicates,
    ANSI three-valued logic dropping incomplete funnels in both
    engines."""
    ev = table(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") > F.col("t_view"))
    reached_purchase = reached_click & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(reached_view.cast("int")).alias("stage_view"),
        F.sum(reached_click.cast("int")).alias("stage_click"),
        F.sum(reached_purchase.cast("int")).alias("stage_purchase"),
    )


@query(
    "weekly_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)
               AS active_week
      FROM events)
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week, a.active_week) / 7.0)
                AS INTEGER) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted in each subsequent activity week — THE product-analytics
    companion to the funnel. Two aggregates keyed by user_id (AQE
    co-partitions them with the join); week offsets via day-difference
    integer division, which is portable (both engines' datediff('week')
    count boundary crossings differently — day/7 floor is unambiguous).
    date_trunc('week') starts Monday in both engines."""
    ev = table(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .withColumn(
            "week_offset",
            F.floor(
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7.0
            ).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query("frequent_event_types")  # rows-only: lossy-counting sketch internals
def frequent_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate heavy hitters via DataFrame.stat.freqItems (single-pass
    lossy counting): every item with frequency > support is GUARANTEED
    present (possible false positives — the sketch trade; the guarantee
    direction is pytest-pinned). At 100 TB this answers 'which keys
    dominate' in one scan with O(1/support) memory — the precursor to
    targeted skew salting. Sketch contents are partition-layout
    dependent -> rows-only."""
    freq = (
        table(spark, sf, "events")
        .stat.freqItems(["event_type"], support=0.15)
    )
    return freq.select(
        F.explode("event_type_freqItems").alias("event_type")
    ).orderBy("event_type")


@query(
    "scd2_point_in_time_brand",
    f"""
    WITH {_BATCHES_SQL}
    SELECT 'at_batch1' AS probe, p_partkey, p_brand, TRUE AS alive
    FROM b1 WHERE p_partkey % 10 = 1
    UNION ALL
    SELECT 'at_batch2' AS probe,
           coalesce(b2.p_partkey, b1.p_partkey) AS p_partkey,
           CASE WHEN b2.p_partkey IS NOT NULL THEN b2.p_brand
                ELSE b1.p_brand END AS p_brand,
           (b2.p_partkey IS NOT NULL) AS alive
    FROM b1 FULL OUTER JOIN b2 ON b1.p_partkey = b2.p_partkey
    WHERE coalesce(b2.p_partkey, b1.p_partkey) % 10 = 1
    """,
)
def scd2_point_in_time_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel over the SCD2 merge output: the dimension state AS OF
    each batch time, resolved from the FINAL (snapshot ∪ history)
    artifacts by `scd2_point_in_time` (operators/scd2.py) — archived
    versions answer for the interval they were alive, tombstones kill
    keys only from their deletion time on, later-born keys are absent
    earlier. The oracle reconstructs each probe's expected state
    directly from the batch definitions, so the hash-match proves the
    resolver inverts the merge exactly."""
    from _data_engineering_pipeline_project_spark.operators.scd2 import (
        scd2_point_in_time,
    )

    b1, b2 = _part_batches(spark, sf)
    r1 = scd2_merge(b1, None, ["p_partkey"], _T1)
    r2 = scd2_merge(b2, r1.snapshot, ["p_partkey"], _T2)
    out = None
    for label, ts in (("at_batch1", _T1), ("at_batch2", _T2)):
        pit = scd2_point_in_time(
            r2.snapshot, r2.history, ts, ["p_partkey"], ["p_brand"]
        ).filter(F.col("p_partkey") % 10 == 1)
        row = pit.select(
            F.lit(label).alias("probe"), "p_partkey", "p_brand", "alive"
        )
        out = row if out is None else out.unionByName(row)
    return out

"""Driver-facing query surface: every SURVEY.md §2 operator instantiated
on the TPC-H-ish testdata (FIXTURES.md §B), each paired with a DuckDB
oracle SQL string in ``ORACLES``.

Parity rules (driver compare = row count + schema + order-insensitive
value hash):
- every computed column is aliased identically in Spark and SQL;
- aggregates over doubles are rounded identically in BOTH engines
  (partial-aggregation order differs, so raw double sums can differ in
  the last ulp) — and the rounding digit must be AT OR FINER THAN the
  summed values' decimal granularity: discounted revenue terms have 4
  decimals, so their sums land exactly on ``.xx5`` and ``round(x, 2)``
  diverges between engines; ``round(x, 4)`` has no halfway cases;
- dedup/top-k are made deterministic with explicit unique tie-breaks;
- timestamps stay timestamps (session TZ pinned to UTC).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.functions.expressions import (
    keep_first,
    keep_first_agg,
    money_cents,
)
from _data_engineering_pipeline_project_spark.operators import quality as Q
from _data_engineering_pipeline_project_spark.operators.joins import snapshot_diff
from _data_engineering_pipeline_project_spark.operators.normalize import (
    extract_dimension,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# values are SQL strings, or zero-arg callables resolved lazily by
# resolve_oracles() — for oracles whose literals derive from data the
# twin must re-derive independently (e.g. the OPQ rotation: DuckDB
# covariance + numpy eigh at the driver's fixed compare scale). Static
# strings stay the norm; a callable is the exception that keeps import
# time free of data reads.
ORACLES: dict[str, "str | Callable[[], str]"] = {}


def resolve_oracles() -> dict[str, str]:
    """ORACLES with every deferred (callable) entry resolved to its SQL
    string. Resolution is memoized in place — a resolver that reads
    data (DuckDB over the fixed oracle-scale parquet) runs at most
    once per process."""
    out: dict[str, str] = {}
    for name, sql in ORACLES.items():
        if callable(sql):
            sql = sql()
            ORACLES[name] = sql
        out[name] = sql
    return out


def query(name: str, oracle: "str | Callable[[], str] | None" = None):
    def deco(fn: QueryFn) -> QueryFn:
        # The REGISTERED callable opens an ambient collection context so
        # operator-INTERNAL cached frames (which fn cannot name — see
        # functions/cachetrack.py) join this query's tracked generation
        # and get released when the next query registers. Only the
        # outermost registered call owns the context: composites that
        # invoke other registered queries attribute every internal cache
        # to the composite. The module-level symbol stays the raw fn, so
        # direct calls (tests, intra-module composition) are untouched.
        @functools.wraps(fn)
        def tracked(spark: SparkSession, sf: str) -> DataFrame:
            from _data_engineering_pipeline_project_spark.functions.cachetrack import (
                _PENDING,
            )

            if _PENDING.get() is not None:  # nested: outer query owns it
                return fn(spark, sf)
            pending: list = []
            token = _PENDING.set(pending)
            try:
                out = fn(spark, sf)
            finally:
                _PENDING.reset(token)
            if pending:
                from _data_engineering_pipeline_project_spark.queries_ext import (
                    _QUERY_LOCAL_CACHES,
                    track_query_caches,
                )

                key = (spark.sparkContext.applicationId, name, sf)
                track_query_caches(
                    spark,
                    name,
                    sf,
                    list(_QUERY_LOCAL_CACHES.get(key, [])) + pending,
                )
            return out

        QUERIES[name] = tracked
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)

# (l_orderkey, l_linenumber) is NOT unique in the testdata, so keep-first
# tie-breaks must order by every remaining column to be deterministic;
# NULLS FIRST pins DuckDB to Spark's ascending null order.
_LINEITEM_TIEBREAK = [
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]
_LINEITEM_TIEBREAK_SQL = ", ".join(f"{c} NULLS FIRST" for c in _LINEITEM_TIEBREAK)


# --------------------------------------------------------------------------
# Q1 — primary-key validation (SURVEY §2i Q1; dq:95-129)
# --------------------------------------------------------------------------
@query(
    "pk_violations_customer",
    f"""
    SELECT *, 'null_pk' AS issue FROM customer WHERE c_custkey IS NULL
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'duplicate_pk' AS issue
    FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                    ORDER BY c_name NULLS FIRST, c_nationkey NULLS FIRST,
                             c_acctbal NULLS FIRST, c_mktsegment NULLS FIRST) AS rn
          FROM customer WHERE c_custkey IS NOT NULL)
    WHERE rn > 1
    """,
)
def pk_violations_customer(spark: SparkSession, sf: str) -> DataFrame:
    """NULL/duplicate PKs on customer (clean data → empty, honestly so)."""
    return Q.validate_primary_keys(table(spark, sf, "customer"), ["c_custkey"]).violations


@query(
    "pk_dup_violations_lineitem_orderkey",
    f"""
    SELECT {_LINEITEM_COLS}, 'duplicate_pk' AS issue
    FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY {_LINEITEM_TIEBREAK_SQL}) AS rn FROM lineitem
          WHERE l_orderkey IS NOT NULL)
    WHERE rn > 1
    UNION ALL
    SELECT *, 'null_pk' AS issue FROM lineitem WHERE l_orderkey IS NULL
    """,
)
def pk_dup_violations_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-first duplicate detection with a real payload: treating
    l_orderkey alone as the PK makes every 2nd+ line of an order a
    'duplicate' — exercises A4's window path non-trivially."""
    return Q.validate_primary_keys(
        table(spark, sf, "lineitem"), ["l_orderkey"], order_by=_LINEITEM_TIEBREAK
    ).violations


@query(
    "pk_dedup_keep_first_lineitem",
    f"""
    SELECT {_LINEITEM_COLS}
    FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY {_LINEITEM_TIEBREAK_SQL}) AS rn FROM lineitem
          WHERE l_orderkey IS NOT NULL)
    WHERE rn = 1
    """,
)
def pk_dedup_keep_first_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """The cleaned side of the same check: first line per order.

    Physical shape (r5): the kept side alone needs no window — the
    ``min_by``-struct hash aggregate (`functions/expressions.py:
    keep_first_agg`) partial-aggregates map-side, shuffling ~one
    candidate per (key, partition) instead of sorting every duplicate.
    The violations side (`pk_dup_violations_lineitem_orderkey`) still
    runs the ranked window, which needs every row."""
    li = table(spark, sf, "lineitem").filter(F.col("l_orderkey").isNotNull())
    return keep_first_agg(li, ["l_orderkey"], _LINEITEM_TIEBREAK)


# --------------------------------------------------------------------------
# Q2 — foreign-key validation (SURVEY §2i Q2, §2c J2; dq:131-164)
# --------------------------------------------------------------------------
@query(
    "fk_orphans_orders_customer",
    """
    SELECT o.*, 'orphan_fk' AS issue FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def fk_orphans_orders_customer(spark: SparkSession, sf: str) -> DataFrame:
    return Q.validate_foreign_keys(
        table(spark, sf, "orders"),
        ["o_custkey"],
        table(spark, sf, "customer"),
        ["c_custkey"],
    ).violations


@query(
    "fk_orphans_stale_supplier_dim",
    """
    SELECT l.*, 'orphan_fk' AS issue FROM lineitem l
    WHERE l.l_suppkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey AND s.s_suppkey <= 5)
    """,
)
def fk_orphans_stale_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Stale-dimension scenario: parent restricted to s_suppkey <= 5, so
    half the fact rows become orphans — the anti join has real work."""
    parent = table(spark, sf, "supplier").filter(F.col("s_suppkey") <= 5)
    return Q.validate_foreign_keys(
        table(spark, sf, "lineitem"), ["l_suppkey"], parent, ["s_suppkey"]
    ).violations


@query(
    "fk_clean_lineitem_orders",
    """
    SELECT l.* FROM lineitem l
    WHERE l.l_orderkey IS NULL
       OR EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def fk_clean_lineitem_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Cleaned side: semi join keeps matching rows, NULL FKs kept (dq:151)."""
    return Q.validate_foreign_keys(
        table(spark, sf, "lineitem"),
        ["l_orderkey"],
        table(spark, sf, "orders"),
        ["o_orderkey"],
    ).cleaned


# --------------------------------------------------------------------------
# Q5 — null counts (SURVEY §2d A1; dq:226-239)
# --------------------------------------------------------------------------
@query(
    "null_counts_events",
    """
    SELECT 'event_id' AS column_name, CAST(COALESCE(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_count FROM events
    UNION ALL SELECT 'ts', CAST(COALESCE(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
    UNION ALL SELECT 'user_id', CAST(COALESCE(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
    UNION ALL SELECT 'event_type', CAST(COALESCE(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
    UNION ALL SELECT 'value', CAST(COALESCE(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
    UNION ALL SELECT 'props', CAST(COALESCE(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
    """,
)
def null_counts_events(spark: SparkSession, sf: str) -> DataFrame:
    return Q.check_nulls(table(spark, sf, "events")).withColumnRenamed(
        "column", "column_name"
    )


# --------------------------------------------------------------------------
# Q6 — required-attribute nulls (dq:244-268)
# --------------------------------------------------------------------------
@query(
    "required_nulls_part",
    """
    SELECT *, 'missing_required' AS issue FROM part
    WHERE p_name IS NULL OR p_brand IS NULL OR p_type IS NULL
       OR p_size IS NULL OR p_retailprice IS NULL
    """,
)
def required_nulls_part(spark: SparkSession, sf: str) -> DataFrame:
    return Q.detect_required_nulls(
        table(spark, sf, "part"),
        ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    ).violations


# --------------------------------------------------------------------------
# Q7 — date inversion (dq:270-293)
# --------------------------------------------------------------------------
@query(
    "date_inversion_ship_before_order",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate,
           'o_orderdate > l_shipdate' AS issue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
      AND o.o_orderdate > l.l_shipdate
    """,
)
def date_inversion_ship_before_order(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate"
    )
    return Q.check_date_inversion(joined, "o_orderdate", "l_shipdate").violations


# --------------------------------------------------------------------------
# Q8 — chronological lifecycle chain (dq:295-328, F6)
# --------------------------------------------------------------------------
@query(
    "chronology_orders_lifecycle",
    """
    WITH agg AS (
      SELECT o.o_orderkey, o.o_orderdate,
             min(l.l_shipdate) AS first_ship, max(l.l_shipdate) AS last_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), iss AS (
      SELECT *,
        CASE WHEN first_ship IS NOT NULL AND o_orderdate IS NOT NULL
                  AND first_ship < o_orderdate
             THEN 'o_orderdate > first_ship' END AS i1,
        CASE WHEN last_ship IS NOT NULL
                  AND coalesce(first_ship, o_orderdate) IS NOT NULL
                  AND last_ship < coalesce(first_ship, o_orderdate)
             THEN (CASE WHEN first_ship IS NOT NULL THEN 'first_ship'
                        ELSE 'o_orderdate' END) || ' > last_ship' END AS i2
      FROM agg
    )
    SELECT o_orderkey, o_orderdate, first_ship, last_ship,
           array_to_string(list_filter([i1, i2], x -> x IS NOT NULL), '; ') AS issue
    FROM iss WHERE i1 IS NOT NULL OR i2 IS NOT NULL
    """,
)
def chronology_orders_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Order lifecycle: orderdate ≤ first ship ≤ last ship, null-skipping —
    the TPC-H instantiation of the reference's 4-timestamp chain."""
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    # pre-aggregate the fact side BEFORE the join (r5): min/max per
    # orderkey partial-aggregates map-side, so the join input shrinks
    # from |lineitem| to |orders| rows and both sides hash on the same
    # key (no extra shuffle). Exact rewrite: min/max are
    # order-insensitive and inner-join semantics are unchanged.
    ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    agg = o.select("o_orderkey", "o_orderdate").join(ship, "o_orderkey")
    return Q.check_chronological_order(
        agg, ["o_orderdate", "first_ship", "last_ship"]
    ).violations


# --------------------------------------------------------------------------
# Q9 — negative values (dq:330-347)
# --------------------------------------------------------------------------
@query(
    "negatives_lineitem",
    f"""
    SELECT {_LINEITEM_COLS}, 'negative:l_quantity' AS issue FROM lineitem WHERE l_quantity < 0
    UNION ALL
    SELECT {_LINEITEM_COLS}, 'negative:l_extendedprice' AS issue FROM lineitem WHERE l_extendedprice < 0
    UNION ALL
    SELECT {_LINEITEM_COLS}, 'negative:l_discount' AS issue FROM lineitem WHERE l_discount < 0
    UNION ALL
    SELECT {_LINEITEM_COLS}, 'negative:l_tax' AS issue FROM lineitem WHERE l_tax < 0
    """,
)
def negatives_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return Q.detect_negative_values(
        table(spark, sf, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ).violations


# --------------------------------------------------------------------------
# Q4/F1 — pattern-containment column scan (dq:197-223)
# --------------------------------------------------------------------------
@query(
    "pattern_scan_documents",
    """
    SELECT 'text' AS column_name,
           coalesce(max(CASE WHEN regexp_matches(text, 'spark') THEN TRUE ELSE FALSE END), FALSE) AS has_match FROM documents
    UNION ALL
    SELECT 'lang', coalesce(max(CASE WHEN regexp_matches(lang, 'spark') THEN TRUE ELSE FALSE END), FALSE) FROM documents
    UNION ALL
    SELECT 'source', coalesce(max(CASE WHEN regexp_matches(source, 'spark') THEN TRUE ELSE FALSE END), FALSE) FROM documents
    """,
)
def pattern_scan_documents(spark: SparkSession, sf: str) -> DataFrame:
    return Q.detect_pattern_columns(
        table(spark, sf, "documents"), pattern="spark"
    ).withColumnRenamed("column", "column_name")


# --------------------------------------------------------------------------
# A3 — deterministic dedup (dq:329, etl2:207)
# --------------------------------------------------------------------------
@query(
    "dedup_events_user_type",
    """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn FROM events)
    WHERE rn = 1
    """,
)
def dedup_events_user_type(spark: SparkSession, sf: str) -> DataFrame:
    """dropDuplicates with a deterministic keep-earliest tie-break —
    via the map-side-combining ``min_by`` aggregate (keep_first_agg;
    the unorderable ``props`` map rides in the VALUE struct, which
    min_by never compares)."""
    return keep_first_agg(
        table(spark, sf, "events"), ["user_id", "event_type"], ["ts", "event_id"]
    )


# --------------------------------------------------------------------------
# M4/A5 — dimension extraction with surrogate keys (etl2:204-243)
# --------------------------------------------------------------------------
@query(
    "surrogate_dim_customer_segment",
    """
    SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS INTEGER) AS segment_id,
           c_mktsegment
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
)
def surrogate_dim_customer_segment(spark: SparkSession, sf: str) -> DataFrame:
    dim, _ = extract_dimension(
        table(spark, sf, "customer"), ["c_mktsegment"], "segment_id"
    )
    return dim


@query(
    "normalize_customer_segment_map",
    """
    WITH dim AS (
      SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS INTEGER) AS segment_id,
             c_mktsegment
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c.c_custkey, d.segment_id
    FROM customer c LEFT JOIN dim d ON c.c_mktsegment = d.c_mktsegment
    """,
)
def normalize_customer_segment_map(spark: SparkSession, sf: str) -> DataFrame:
    _, mapped = extract_dimension(
        table(spark, sf, "customer"), ["c_mktsegment"], "segment_id"
    )
    return mapped.select("c_custkey", "segment_id")


# --------------------------------------------------------------------------
# J1/J4/J5/M1 — snapshot diff classifier (etl2:270-296, 329-331, 383)
# --------------------------------------------------------------------------
_SNAPSHOT_DIFF_SQL = """
    WITH existing AS (
      SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    ), incoming AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X-BUMPED' ELSE o_orderpriority END
               AS o_orderpriority
      FROM orders WHERE o_orderkey % 3 <> 0
    )
    SELECT coalesce(i.o_orderkey, e.o_orderkey) AS o_orderkey,
           CASE WHEN e.o_orderkey IS NULL THEN 'insert'
                WHEN i.o_orderkey IS NULL THEN 'delete'
                WHEN (i.o_custkey IS DISTINCT FROM e.o_custkey)
                  OR (i.o_orderstatus IS DISTINCT FROM e.o_orderstatus)
                  OR (i.o_totalprice IS DISTINCT FROM e.o_totalprice)
                  OR (i.o_orderdate IS DISTINCT FROM e.o_orderdate)
                  OR (i.o_orderpriority IS DISTINCT FROM e.o_orderpriority)
                THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM incoming i FULL OUTER JOIN existing e ON i.o_orderkey = e.o_orderkey
"""


@query("snapshot_diff_orders", _SNAPSHOT_DIFF_SQL)
def snapshot_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-load classifier on two derived order snapshots:
    keys mod-7-absent exist only upstream (inserts), mod-3-absent only in
    the sink (deletes), mod-5 rows have a changed priority (updates)."""
    o = table(spark, sf, "orders")
    existing = o.filter(F.col("o_orderkey") % 7 != 0)
    incoming = o.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-BUMPED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return snapshot_diff(incoming, existing, ["o_orderkey"]).select(
        "o_orderkey", "change_type"
    )


# --------------------------------------------------------------------------
# KPI / analytic extensions (SURVEY §2d absence note: engine exposes
# groupBy aggregations as first-class queries)
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (single-pass hash agg)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "revenue_by_nation",
    """
    SELECT n.n_name, r.r_name,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                 / 10000.0, 4) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: fact × 2 mid tables × 2 broadcast dims, then hash agg.

    Scale shape (r5, same rewrite as ``top_customers_by_revenue``): the
    fact side pre-aggregates per orderkey BEFORE the orders join — the
    revenue sum partial-aggregates map-side and the join input shrinks
    ~4× (lines per order), with both sides hashing on orderkey so AQE
    co-partitions them.

    Parity engineering (ADVICE r5): revenue accumulates as exact
    integer micro-money — price_cents × (100 − disc_cents), the
    ``salted_revenue_by_brand`` pattern — so both the per-order partial
    and the per-nation combine are associative int64 sums whose result
    cannot drift with aggregation-tree shape; the single divide + round
    happens once at the end in both engines. (The previous
    double-precision sum matched the oracle only up to FP error that
    GROWS with the row count — a latent large-SF flake.)

    Headroom bound (ADVICE r6): the per-nation int64 sum holds exactly
    up to ≈ SF 4×10⁴ (~2.4×10¹⁰ rows/nation × ≤ ~1.05×10⁹ micro-money
    per row approaches 2⁶³; Spark's non-ANSI bigint sum would then wrap
    while DuckDB promotes to HUGEINT), and past ~SF 40 the final
    /10000.0 divide exceeds 2⁵³ so it rounds (identically in both
    engines — parity holds, absolute cents do not). Workloads beyond
    that envelope should accumulate as DECIMAL(38,0) — exact in both
    engines — at a measured ~2× aggregate-path cost; at any benchmark
    SF the int64 form is exact AND cheaper."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region")
    rev_fp = money_cents("l_extendedprice") * (
        100 - money_cents("l_discount")
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(rev_fp).alias("__rev_fp"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_order.join(o.select("o_orderkey", "o_custkey"), "o_orderkey")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("__rev_fp") / 10000.0, 4).alias("revenue"),
            F.sum("__n").alias("n_lineitems"),
        )
    )


@query(
    "top_customers_by_revenue",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name
    )
    SELECT c_custkey, c_name, revenue,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rnk
          FROM rev)
    WHERE rnk <= 10
    """,
)
def top_customers_by_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per global ranking, deterministic tie-break on key; ranking is
    over the ROUNDED revenue so both engines rank identical values.

    Scale shape: lineitem pre-aggregates to per-order revenue BEFORE the
    orders join — the join input shrinks ~4x and both the pre-agg and the
    join hash on l_orderkey, so AQE co-partitions them (no extra
    shuffle). The global top-10 runs as orderBy+limit → Spark's
    TakeOrderedAndProject (per-partition heaps + driver merge of 10),
    not a single-partition window sort of every customer; row_number
    then ranks only the 10 survivors. Rounding at 4 decimals commutes
    with the added aggregation level (4-decimal terms land exactly on
    4-decimal sums under any partial-sum tree)."""
    from pyspark.sql import Window

    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_name")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__r")
    )
    rev = (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("__r"), 4).alias("revenue"))
    )
    top = rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "c_custkey", "c_name", "revenue", "rnk"
    )


@query(
    "shipping_priority_topn",
    """
    SELECT l.l_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def shipping_priority_topn(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → star join → agg →
    global top-N (TakeOrderedAndProject — no full sort at scale)."""
    c = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


@query(
    "returned_items_by_customer",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS lost_revenue,
           count(*) AS n_returned_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    HAVING count(*) >= 5
    """,
)
def returned_items_by_customer(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: fact filter pushed to the scan, broadcast dims,
    HAVING post-aggregation filter."""
    li = table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .filter(F.col("n_returned_items") >= 5)
    )


@query(
    "order_priority_count",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def order_priority_count(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "rollup_order_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Grouping-sets rollup (engine surface beyond the reference; counts +
    rounded sums are exact in both engines)."""
    return (
        table(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "events_hourly_agg",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming operator)."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "sessionization_events",
    """
    WITH seq AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM seq
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def sessionization_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: a new session starts after a >30 min gap per user.
    lag + conditional count — the batch form of session_window(). The gap
    test compares timestamps directly (micros-exact in both engines;
    epoch-seconds would truncate differently)."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


@query(
    "session_window_events",
    """
    WITH seq AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts >= prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM seq
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def session_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Native ``session_window`` gap-merge (the state-store-backed operator
    Structured Streaming uses) — unlike the lag+cumsum form above there is
    no per-user sort window, just one hash aggregate whose grouping key
    merges overlapping [ts, ts+gap) intervals. Boundary is half-open:
    an event exactly gap after the previous STARTS a new session (hence
    ``>=`` in the oracle's island flag, vs ``>`` in sessionization_events).
    """
    ev = table(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "large_order_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def large_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): IN-subquery over an
    aggregate → left-semi join against the pre-aggregated keys. The
    aggregate side shrinks lineitem to one row per orderkey BEFORE the
    semi join, and the customer dim joins broadcast — the only full-size
    shuffle is the lineitem groupBy. l_quantity is integer-valued, so the
    HAVING comparison is exact in both engines."""
    li = table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 200)
        .select("l_orderkey")
    )
    return (
        table(spark, sf, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(big, "l_orderkey", "left_semi")
        .join(
            F.broadcast(table(spark, sf, "customer")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "cheapest_supplier_per_part",
    """
    SELECT DISTINCT l.l_partkey, l.l_suppkey, s.s_name,
           l.l_extendedprice AS min_price
    FROM lineitem l
    JOIN (SELECT l_partkey, min(l_extendedprice) AS mp
          FROM lineitem GROUP BY l_partkey) m
      ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.mp
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-per-group correlated subquery, decorrelated):
    aggregate once, join the min back on (key, value) equality — two
    shuffles on l_partkey which AQE coalesces into co-partitioned stages;
    the supplier dim is broadcast. Price equality compares stored double
    bits (min of stored values IS a stored value) — exact in both
    engines. Ties produce one row per tying supplier in both."""
    li = (
        table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .alias("l")
    )
    m = (
        table(spark, sf, "lineitem")
        .groupBy(F.col("l_partkey").alias("m_partkey"))
        .agg(F.min("l_extendedprice").alias("mp"))
        .alias("m")
    )
    return (
        li.join(
            m,
            (F.col("l.l_partkey") == F.col("m.m_partkey"))
            & (F.col("l.l_extendedprice") == F.col("m.mp")),
        )
        .join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l.l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("l.l_partkey"),
            F.col("l.l_suppkey"),
            F.col("s_name"),
            F.col("l.l_extendedprice").alias("min_price"),
        )
        .distinct()
    )


@query(
    "idle_rich_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery (global avg broadcast as
    a 1-row cross join — no collect, stays one lazy plan) + NOT EXISTS as
    a left-anti join against filtered orders (every testdata customer has
    SOME order, so the no-orders-at-all form would be vacuously empty).
    The threshold compares the raw double avg (rounding a near-tie would
    diverge between engines; unrounded only misfires within 1 ulp)."""
    c = table(spark, sf, "customer")
    avg_df = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("__avg"))
    )
    return (
        c.join(
            table(spark, sf, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .crossJoin(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "waiting_suppliers",
    """
    SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who were the SOLE late shipper on a
    multi-supplier finished order). The reference has no such operator;
    this exercises the hardest decorrelation: correlated EXISTS +
    NOT EXISTS over the same fact table.

    Spark-first rewrite: instead of two self-joins (what a naive EXISTS
    translation produces — three scans of lineitem shuffled twice), the
    fact join is computed ONCE and collapsed to one row per
    (order, supplier) with a map-side-combining `max(is_late)` agg;
    per-order counts (n_supp, n_late_supp) come from a window over that
    already-reduced frame, so qualifying rows filter in place with NO
    join back to the fact. Two key-local shuffles total (the (order,
    supplier) hash agg, then the per-order window repartition of the
    REDUCED frame); supplier dim broadcast. After the n_late_supp == 1
    filter exactly one row per qualifying order survives, so numwait is
    a plain count — no distinct agg. At 100 TB this is the difference
    between 2 reduced-frame shuffles and 4 full fact shuffles."""
    from pyspark.sql import Window

    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    per_ls = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_ls.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late").over(w).alias("n_late_supp"),
    )
    return (
        flagged.filter(
            (F.col("late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(
    "unpivot_lineitem_measures",
    """
    WITH longf AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           round(sum(val), 2) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM longf
    GROUP BY l_returnflag, measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshape (melt) + aggregate: the ETL complement of the
    pivot query. Native `DataFrame.unpivot` stays in whole-stage codegen
    (one scan, the 4× row expansion happens inside the stage — no union of
    4 scans, which is what the portable oracle SQL spells). Summed columns
    carry ≤2 decimals, so round(2) has no halfway cases (see module
    docstring)."""
    return (
        table(spark, sf, "lineitem")
        .select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
        .unpivot(
            ["l_returnflag"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            F.round(F.sum("val"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "disjunctive_part_revenue",
    """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 5 AND 50)
    GROUP BY p_brand
    """,
)
def disjunctive_part_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    Catalyst extracts the common `p_brand IN (...)` / quantity bounds as
    pushable conjuncts (visible as PushedFilters on both scans) while the
    cross-table residual evaluates post-join; part is broadcast. Revenue
    terms have 4 decimals → round(4) (no halfway cases; round(2)
    diverges between engines — module docstring)."""
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 30)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(5, 50)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond1 | cond2)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer
          LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): left OUTER
    join with the priority filter INSIDE the join condition (a WHERE would
    silently turn it inner and drop zero-order customers), then a double
    aggregation. count(o_orderkey) counts matches only — null for
    no-order customers — giving the c_count=0 bucket. First groupBy
    shuffles on c_custkey; the second input is at most |distinct counts|
    rows, so its shuffle is negligible at any scale."""
    c = table(spark, sf, "customer").select("c_custkey")
    o = table(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "promo_revenue_ratio",
    """
    SELECT round(100.0 * promo / total, 6) AS promo_pct,
           promo AS promo_revenue, total AS total_revenue
    FROM (SELECT round(sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END), 4) AS promo,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS total
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01')
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): conditional aggregate ratio
    in ONE pass over the date-pruned lineitem slice — the shipdate range
    reaches the scan as a pushed filter, part is broadcast, and both
    branches of the ratio come from a single hash aggregate (no second
    scan for the denominator). Each sum is rounded at 4 decimals (exact —
    the terms have 4-decimal granularity) BEFORE the division, so the
    ratio divides bit-identical doubles in both engines."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 4
            ).alias("promo"),
            F.round(F.sum(rev), 4).alias("total"),
        )
    )
    return agg.select(
        F.round(100.0 * F.col("promo") / F.col("total"), 6).alias("promo_pct"),
        F.col("promo").alias("promo_revenue"),
        F.col("total").alias("total_revenue"),
    )


@query(
    "top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4)
             AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by windowed revenue): the CTE-backed
    scalar-max subquery becomes aggregate → 1-row max → broadcast cross
    join back, all one lazy plan (no collect, no second lineitem scan —
    Spark reuses the rev aggregate for both branches under AQE). Per-
    supplier revenue is rounded at 4 decimals BEFORE max/compare, so the
    equality matches bit-identical doubles in both engines; ties emit one
    row per tying supplier in both."""
    rev = (
        table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "small_order_part_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS a_partkey,
                 sum(l_quantity) / count(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty
    """,
)
def small_order_part_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity orders vs per-part average): the
    correlated scalar subquery `0.2 * avg(l_quantity) WHERE partkey = ...`
    decorrelates to one groupBy over lineitem joined back on partkey —
    two shuffles on l_partkey that AQE co-partitions, vs one shuffle per
    part for the naive correlated plan. The boundary compare is exact:
    l_quantity is integer-valued, its per-part sum is an exactly-
    representable double regardless of partial-agg order, so sum/count is
    bit-identical in both engines (spelled sum/count in the oracle —
    DuckDB's avg() uses a different summation order)."""
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty")
    )
    p = (
        table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "nation_pair_shipping_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def nation_pair_shipping_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume): the same dimension table
    joined TWICE under different roles (supplier nation vs customer
    nation) with a symmetric pair predicate. Both nation joins and the
    supplier/customer dims broadcast, so the only big shuffle is
    lineitem⋈orders; the nation-pair filter can't prune the fact scans
    (it needs both sides joined) but the shipdate range pushes down."""
    n1 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            table(spark, sf, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(table(spark, sf, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "nation_market_share",
    """
    SELECT o_year,
           round(round(sum(CASE WHEN nat = 'NATION_3' THEN volume
                                ELSE 0 END), 4)
                 / round(sum(volume), 4), 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n_name AS nat
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_type = 'ECONOMY')
    GROUP BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (market share of one nation per year): conditional
    share-of-total ratio from a single aggregate pass — numerator and
    denominator both come from one hash agg, no second scan. The
    p_type filter prunes through the broadcast part join; numerator and
    denominator are each rounded at 4 decimals (exact for 4-decimal
    terms) BEFORE the division so the ratio is bit-deterministic."""
    li = table(spark, sf, "lineitem")
    p = (
        table(spark, sf, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            table(spark, sf, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(table(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.round(
                    F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(0.0)), 4
                )
                / F.round(F.sum(vol), 4),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "product_profit_by_nation_year",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity), 4) AS sum_profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
)
def product_profit_by_nation_year(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): LIKE-filtered part dim
    pruning a 4-way star join, profit grouped by supplier nation and
    order year. The testdata has no partsupp/supplycost table, so cost is
    p_retailprice * l_quantity (2-decimal x integer keeps the summed
    terms at 4-decimal granularity -> round(4) exact). Part/supplier/
    nation broadcast; lineitem⋈orders is the single big shuffle."""
    p = (
        table(spark, sf, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        table(spark, sf, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            table(spark, sf, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(table(spark, sf, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(table(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("__p"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("__p"), 4).alias("sum_profit"))
    )


@query(
    "priority_line_counts",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def priority_line_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode priority classification): conditional
    counts splitting one pass by a CASE over the joined dimension's
    priority — no second scan per class. The shipdate range is the only
    pushed fact filter; integer counts are exact in both engines. The
    testdata lacks l_shipmode, so l_returnflag plays the grouping role
    (same plan shape: group on a low-cardinality fact column)."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_returnflag")
        .join(
            table(spark, sf, "orders").select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "filtered_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def filtered_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure scan-filter-agg, no
    join — the canonical pushdown benchmark. All three predicates reach
    the parquet scan as PushedFilters (only shipdate/discount/quantity/
    extendedprice columns are read); the aggregate is a single partial+
    final pass. Discount values are exact 2-decimal doubles stored in the
    data, so BETWEEN on them compares identically in both engines."""
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "important_part_inventory",
    """
    WITH value_per_part AS (
      SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, part_value
    FROM value_per_part
    WHERE part_value > (SELECT round(sum(l_extendedprice), 2) * 1.5
                               / count(DISTINCT l_partkey)
                        FROM lineitem)
    """,
)
def important_part_inventory(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (parts above a fraction of global value): HAVING
    against a global scalar subquery over the SAME aggregate input. Spark
    plan: one groupBy on l_partkey + a 1-row global agg broadcast as a
    cross join — no correlated re-scan per group. Both sides round at 2
    decimals (l_extendedprice is 2-decimal, sums land exactly) before the
    strict compare, so the threshold test is bit-deterministic; the
    *1.5/n arithmetic over identical doubles and an exact integer count
    is identical in both engines. Threshold = 1.5x the average per-part
    value, which scales with sf (a fixed fraction of total would empty
    out as the part count grows)."""
    li = table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("part_value")
    )
    total = li.agg(
        (
            F.round(F.sum("l_extendedprice"), 2)
            * 1.5
            / F.countDistinct("l_partkey")
        ).alias("__threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__threshold"))
        .select("l_partkey", "part_value")
    )


@query(
    "supplier_count_by_part_class",
    """
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def supplier_count_by_part_class(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part class): distinct-agg
    over an anti-joined fact. NOT IN over a non-null key column becomes a
    left-anti join against the filtered supplier dim (broadcast — the
    excluded set is tiny); the negated part predicates prune through the
    broadcast part join. countDistinct expands to a two-phase partial
    distinct + final count, so the shuffle carries deduped (group, supp)
    pairs, not raw lineitem rows."""
    bad_supp = (
        table(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        table(spark, sf, "part")
        .filter((F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_size")
    )
    return (
        table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "excess_stock_suppliers",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_type = 'PROMO')
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 100)
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    """,
)
def excess_stock_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess stock of a part class):
    a two-level nested IN chain — parts of a type -> per-(supplier, part)
    shipped quantity above a threshold -> supplier semi join. Each IN
    level decorrelates to a semi join against a pre-aggregated key set;
    the part filter is broadcast into the fact scan side, the groupBy on
    (l_suppkey, l_partkey) is the single fact shuffle, and the final
    semi join against the supplier dim is broadcast. l_quantity sums are
    integer-valued -> the HAVING threshold is exact in both engines."""
    promo_parts = (
        table(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    heavy_supp = (
        table(spark, sf, "lineitem")
        .join(F.broadcast(promo_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        table(spark, sf, "supplier")
        .join(F.broadcast(heavy_supp), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(
                table(spark, sf, "nation").filter(
                    F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )


# every module that registers queries beyond this one, in registration
# order; load_all() is the one place the full surface is assembled
_QUERY_MODULES = (
    "queries_ext",
    "queries_ops",
    *(f"queries_ext{i}" for i in range(2, 14)),
)


def load_all() -> dict[str, QueryFn]:
    """Import every query module (each registers into ``QUERIES`` /
    ``ORACLES`` on import) and return ``QUERIES``. Every entry point
    calls this, so the CLI, ``__spark_entry__`` and bench see the same
    registry."""
    import importlib

    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__package__}.{mod}")
    return QUERIES

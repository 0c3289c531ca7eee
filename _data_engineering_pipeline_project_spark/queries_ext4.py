"""Round-3 extension queries: the governance / modeling layer a
production pipeline puts on top of the ingest+curation engine —
declarative expectation suites (the reference's quality checker
re-shaped from one-scan-per-check to one-scan-per-suite), corpus LM
quality scoring (CCNet-style perplexity filtering), closed-form trend
regression, Pareto-frontier (skyline) selection, Kaplan-Meier survival,
graph triangle counting / clustering coefficient, golden-record
survivorship (MDM consolidation), multi-touch attribution, and
HyperLogLog mergeable-sketch rollups.

Cross-engine parity conventions (same as queries.py / queries_ext3.py):
- integer arithmetic end-to-end where possible; a single final division
  produces the only compared double;
- transcendental outputs (ln/exp) go through a fixed-point bigint stage
  (``floor(ln(x)*1e6)``) so SUMS are exact-integer and only the per-term
  libm call relies on IEEE parity, then round before compare;
- float sums that cannot be fixed-pointed (credit fractions, ltv) are
  rounded at 2-4 dp, far above accumulation-order noise;
- window tie-breaks always include a unique key (event_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.functions.expressions import (
    money_cents,
)
from _data_engineering_pipeline_project_spark.functions.twopass import (
    bucketed_cumulative,
)
from _data_engineering_pipeline_project_spark.operators import expectations as E
from _data_engineering_pipeline_project_spark.operators import skyline as SK
from _data_engineering_pipeline_project_spark.operators import textstats as TS
from _data_engineering_pipeline_project_spark.operators.dedup import jaccard_verify
from _data_engineering_pipeline_project_spark.queries import query


# --------------------------------------------------------------------------
# Declarative expectation suite — the data-contract runner
# --------------------------------------------------------------------------
@query(
    "expectations_suite_orders",
    """
    WITH s AS (
      SELECT count(*) AS n_rows,
        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e0,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS e1,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e2,
        CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                 THEN 1 ELSE 0 END) AS BIGINT) AS e3,
        CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS e4,
        CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                   OR o_orderdate > TIMESTAMP '2002-01-01'
                 THEN 1 ELSE 0 END) AS BIGINT) AS e5,
        CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                 THEN 1 ELSE 0 END) AS BIGINT) AS e6
      FROM orders)
    SELECT expectation, n_rows, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'pk_not_null' AS expectation, n_rows, e0 AS n_violations FROM s
      UNION ALL SELECT 'pk_unique', n_rows, e1 FROM s
      UNION ALL SELECT 'custkey_not_null', n_rows, e2 FROM s
      UNION ALL SELECT 'status_in_set', n_rows, e3 FROM s
      UNION ALL SELECT 'price_positive', n_rows, e4 FROM s
      UNION ALL SELECT 'orderdate_in_range', n_rows, e5 FROM s
      UNION ALL SELECT 'priority_format', n_rows, e6 FROM s)
    """,
)
def expectations_suite_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Data-contract suite over orders, ONE scan for all seven checks.

    The reference's quality checker (data_quality_checker.py) runs each
    validation as a separate full-table pandas pass; the suite here
    compiles every check into one partial-aggregated scan
    (operators/expectations.py) — the shuffle moves one row per
    partition, and adding a check adds a column to that row, not a scan.
    The NOT IN / NOT regexp forms match the oracle's CASE semantics
    exactly (NULL input -> not counted; nullability is its own check).
    """
    o = table(spark, sf, "orders")
    suite = [
        E.not_null("pk_not_null", "o_orderkey"),
        E.unique("pk_unique", "o_orderkey"),
        E.not_null("custkey_not_null", "o_custkey"),
        E.in_set("status_in_set", "o_orderstatus", ["O", "F", "P"]),
        E.positive("price_positive", "o_totalprice"),
        E.in_range(
            "orderdate_in_range",
            "o_orderdate",
            "1992-01-01 00:00:00",
            "2002-01-01 00:00:00",
        ),
        E.matches("priority_format", "o_orderpriority", "^[1-5]-"),
    ]
    return E.run_expectations(o, suite)


# --------------------------------------------------------------------------
# Unigram-LM corpus quality scoring (CCNet-style perplexity filter)
# --------------------------------------------------------------------------
_LM_CTES = r"""
    tok AS (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents),
    tk AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
    vocab AS (SELECT term, count(*) AS c FROM tk GROUP BY term),
    tot AS (SELECT count(*) AS total,
                   (SELECT count(*) FROM vocab) AS v
            FROM tk),
    lp AS (SELECT term,
                  CAST(floor(ln((c + 1) / CAST(total + v AS DOUBLE)) * 1000000)
                       AS BIGINT) AS lp_fp
           FROM vocab, tot)
"""


@query(
    "unigram_lm_quality_documents",
    f"""
    WITH {_LM_CTES},
    doc AS (SELECT t.doc_id, count(*) AS n_tokens, sum(lp.lp_fp) AS s
            FROM tk t JOIN lp USING (term) GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(-s / (1000000.0 * n_tokens), 6) AS nll_per_token
    FROM doc
    """,
)
def unigram_lm_quality_documents(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality score: train an add-1-smoothed unigram LM
    on the corpus itself, score every document by negative log-likelihood
    per token (low = in-distribution/fluent, high = outlier/garbage —
    the cut axis of perplexity-based corpus filters).

    Scale shape: one token-keyed groupBy builds the vocab (Zipf-skewed
    but partial-aggregated map-side, so hot terms combine before the
    shuffle); the scoring join is tokens⋈vocab on term — the vocab side
    is one row per distinct term, so the hash build is small relative to
    the corpus and the probe is a single pass. Fixed-point trick: each
    term's log-prob becomes ``floor(ln(p)*1e6)`` ONCE per vocab entry;
    per-document sums are then exact bigint arithmetic — no
    accumulation-order drift across 32 (or 10,000) partitions.
    """
    d = table(spark, sf, "documents")
    tk = d.select(
        "doc_id", F.explode(TS.tokens("text")).alias("term")
    ).filter(F.length("term") > 0)
    vocab = tk.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("v")
    )
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(
            F.ln(
                (F.col("c") + F.lit(1))
                / (F.col("total") + F.col("v")).cast("double")
            )
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("lp_fp"),
    )
    doc = tk.join(lp, "term").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp_fp").alias("s")
    )
    return doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            -F.col("s") / (F.lit(1000000.0) * F.col("n_tokens")), 6
        ).alias("nll_per_token"),
    )


# --------------------------------------------------------------------------
# Closed-form OLS trend per daily series
# --------------------------------------------------------------------------
@query(
    "ols_trend_events_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    d0 AS (SELECT min(day) AS day0 FROM daily),
    xy AS (SELECT event_type,
                  CAST(date_diff('day', day0, day) AS BIGINT) AS x,
                  CAST(y AS BIGINT) AS y
           FROM daily, d0),
    s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          FROM xy GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS slope,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS intercept,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
                ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                            * (n * sxy - sx * sy))
                           / (CAST(n * sxx - sx * sx AS DOUBLE)
                              * (n * syy - sy * sy)), 6)
           END AS r2
    FROM s
    """,
)
def ols_trend_events_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series linear trend via the closed-form least-squares
    estimator — slope, intercept, R² of daily event counts against a day
    index. The whole regression is five integer sums per group (one
    partial-aggregated shuffle on event_type); slope and intercept are
    each a ratio of exact bigints, so the only doubles compared are two
    identical final divisions. This is the drift detector you run over
    every metric series in a pipeline health dashboard — no fitting
    loop, no driver collect, trivially parallel across millions of
    series at 100 TB because each series is one aggregation group.
    """
    ev = table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    d0 = daily.agg(F.min("day").alias("day0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff(F.col("day"), F.col("day0")).cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
    )
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num.cast("double") / dx, 6).alias("slope"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
                "double"
            )
            / dx,
            6,
        ).alias("intercept"),
        F.when(dx * dy == 0, F.lit(None).cast("double"))
        .otherwise(F.round((num.cast("double") * num) / (dx.cast("double") * dy), 6))
        .alias("r2"),
    )


# --------------------------------------------------------------------------
# Pareto frontier (skyline) — sort-based, no all-pairs dominance join
# --------------------------------------------------------------------------
@query(
    "pareto_frontier_parts",
    """
    SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline of parts under (minimize retail price, maximize size):
    the catalog rows no buyer can strictly improve on. The oracle states
    the textbook NOT-EXISTS dominance predicate; the Spark plan is the
    sort-based 2-D skyline (operators/skyline.py) — groupBy(price).max(
    size), a running max over the distinct-price frame, and a hash join
    back. No theta join: cost is one shuffle on price + one broadcast
    join, vs the O(n²) dominance join the SQL literally describes.
    """
    p = table(spark, sf, "part")
    return SK.pareto_frontier_min_max(
        p.select("p_partkey", "p_name", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival: time-to-first-purchase
# --------------------------------------------------------------------------
@query(
    "kaplan_meier_conversion_events",
    """
    WITH u AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS purch_us,
             max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id),
    lif AS (
      SELECT user_id,
             CASE WHEN purch_us IS NOT NULL
                  THEN (purch_us - first_us) // 3600000000
                  ELSE (last_us - first_us) // 3600000000 END AS t_hours,
             CASE WHEN purch_us IS NOT NULL THEN 0 ELSE 1 END AS censored
      FROM u),
    tot AS (SELECT count(*) AS n0 FROM lif),
    byd AS (SELECT t_hours, CAST(sum(1 - censored) AS BIGINT) AS d,
                   CAST(sum(censored) AS BIGINT) AS c
            FROM lif GROUP BY t_hours),
    km AS (
      SELECT t_hours, d, c,
             n0 - coalesce(sum(d + c) OVER (ORDER BY t_hours
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM byd, tot),
    fp AS (
      SELECT t_hours, d, c, n_risk,
             CASE WHEN d = 0 THEN 0
                  WHEN d < n_risk THEN CAST(floor(ln((n_risk - d)
                       / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
             END AS f_fp,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hits_zero
      FROM km),
    acc AS (
      SELECT t_hours, d, c, n_risk,
             sum(f_fp) OVER (ORDER BY t_hours
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_fp,
             max(hits_zero) OVER (ORDER BY t_hours
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
      FROM fp)
    SELECT CAST(t_hours AS BIGINT) AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_converted, c AS n_censored,
           CASE WHEN z = 1 THEN 0.0
                ELSE round(exp(s_fp / 1000000.0), 6) END AS survival
    FROM acc
    """,
)
def kaplan_meier_conversion_events(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier estimator of time-to-first-purchase (hours from a
    user's first event), right-censoring users who never purchase at
    their last observed event. The survival curve is the product
    ``Π (1 - d_i/n_i)`` over event times — computed as
    ``exp(cumsum(floor(ln((n-d)/n)*1e6))/1e6)`` so the cumulative stage
    is exact integer addition and only the per-time-point ln/exp relies
    on IEEE parity (then rounded). Heavy lifting is two groupBys
    (user lifetimes, then per-duration death/censor counts); the
    cumulative window runs over the distinct-duration frame (bounded by
    the observation span in hours — post-aggregation scale, same policy
    as the repo's other post-agg global windows).
    """
    ev = table(spark, sf, "events")
    # parquet stores ts as TIMESTAMP_NTZ; session tz is pinned UTC by
    # catalog.table, so the cast makes unix_micros == DuckDB epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("purch_us"),
        F.max(us).alias("last_us"),
    )
    has_p = F.col("purch_us").isNotNull()
    lif = u.select(
        "user_id",
        F.when(
            has_p,
            F.expr("(purch_us - first_us) div 3600000000"),
        )
        .otherwise(F.expr("(last_us - first_us) div 3600000000"))
        .alias("t_hours"),
        F.when(has_p, F.lit(0)).otherwise(F.lit(1)).alias("censored"),
    )
    tot = lif.agg(F.count(F.lit(1)).alias("n0"))
    byd = lif.groupBy("t_hours").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("d"),
        F.sum("censored").cast("bigint").alias("c"),
    )
    # both cumulative stages run on the bucketed two-pass
    # (functions/twopass.py): the duration grid is span-bounded but at
    # cluster scale still should not serialize into one WindowExec.
    # Exclusive cumsum = inclusive − own row (exact integers).
    byd = byd.crossJoin(F.broadcast(tot)).withColumn(
        "dc", F.col("d") + F.col("c")
    ).cache()  # grid-sized; each two-pass references its input ~3x
    km = bucketed_cumulative(byd, ["t_hours"], sums={"dc": "cum_dc"}).select(
        "t_hours",
        "d",
        "c",
        (
            F.col("n0") - (F.col("cum_dc") - F.col("dc"))
        ).alias("n_risk"),
    )
    f_fp = (
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.ln(
                    (F.col("n_risk") - F.col("d"))
                    / F.col("n_risk").cast("double")
                )
                * F.lit(1000000)
            ).cast("bigint"),
        )
    )
    hits_zero = F.when(F.col("d") >= F.col("n_risk"), F.lit(1)).otherwise(F.lit(0))
    # f_fp is NULL exactly when the curve hits zero (d ≥ n_risk, d > 0),
    # and hits_zero's sticky max forces survival = 0.0 from that point
    # on — so coalescing the null to 0 before the cumsum cannot change
    # any emitted survival value, while keeping the two-pass sum's
    # null algebra trivial
    km2 = km.select(
        "t_hours",
        "d",
        "c",
        "n_risk",
        F.coalesce(f_fp, F.lit(0)).alias("f0"),
        hits_zero.alias("hz"),
    ).cache()
    acc = bucketed_cumulative(
        km2, ["t_hours"], sums={"f0": "s_fp"}, prev_maxes={"hz": "pm_hz"}
    ).select(
        "t_hours",
        "d",
        "c",
        "n_risk",
        "s_fp",
        # inclusive running max = greatest(own, exclusive prefix max)
        F.greatest(F.col("hz"), F.col("pm_hz")).alias("z"),
    )
    from _data_engineering_pipeline_project_spark.queries_ext import (
        track_query_caches,
    )

    track_query_caches(
        spark, "kaplan_meier_conversion_events", sf, [byd, km2]
    )
    return acc.select(
        F.col("t_hours").cast("bigint").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        F.when(F.col("z") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("s_fp") / F.lit(1000000.0)), 6))
        .alias("survival"),
    )


# --------------------------------------------------------------------------
# Triangle counting / global clustering coefficient
# --------------------------------------------------------------------------
_TRIANGLE_MAX_BASKET = 1024
"""Hyper-basket guard for the co-purchase edge expansion: orders wider
than this are dropped before the |basket|² pair explode (VERDICT r7 #2 —
one 10^5-part wholesale order is 10^10 edges before the degree
orientation ever sees them). TPC-H orders are ≤ 7 lines so the cap
never fires on the test data; the SQL oracle applies the identical cap
so the semantics agree at every scale, not just where the cap is
inactive."""


@query(
    "triangle_count_copurchase",
    f"""
    WITH ok AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING count(*) <= {_TRIANGLE_MAX_BASKET}),
    li AS (
      SELECT l.l_orderkey, l.l_partkey FROM lineitem l JOIN ok USING (l_orderkey)),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    tri AS (
      SELECT count(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    deg AS (
      SELECT n, count(*) AS dg FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY n),
    agg AS (SELECT count(*) AS n_nodes, sum(dg * (dg - 1)) AS wedges2 FROM deg),
    ecnt AS (SELECT count(*) AS n_edges FROM edges)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles,
           CASE WHEN wedges2 = 0 THEN NULL
                ELSE round(CAST(6 * t AS DOUBLE) / wedges2, 6)
           END AS clustering_coeff
    FROM tri, agg, ecnt
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the
    co-purchase graph (parts sharing an order). Edges are id-oriented
    (u < v), so each triangle is counted exactly once by the
    edge-edge-edge join; the clustering coefficient is
    ``3·triangles / wedges`` with wedges = Σ deg·(deg-1)/2, kept as the
    integer Σ deg·(deg-1) and divided once at the end — all-integer
    until the final division.

    The Spark plan uses DEGREE ORIENTATION (the oracle's id-oriented
    triple join states the same count declaratively): each undirected
    edge is directed from its lower-(degree, id) endpoint to the
    higher one, wedges are enumerated only at each node's OUT-neighbor
    pairs, and a wedge closes iff its (id-ordered) third side is an
    edge. Out-degrees under this orientation are bounded by the graph's
    arboricity (≈√|E|), so wedge volume is Σ outdeg² ≪ Σ deg² — hub
    nodes (the skew killer in id-ordered enumeration, where one popular
    part appearing with k others spawns k² wedges) get their fan
    distributed to lower-degree endpoints.

    TRIANGLE CORE — adjacency-intersection, not a wedge stream: with
    out-adjacency lists ``N+`` under the orientation, each triangle is
    counted exactly once as ``Σ over oriented edges (u→v) of
    |N+(u) ∩ N+(v)|`` (the orientation is acyclic, so every triangle
    has exactly one vertex with BOTH its triangle edges outgoing — the
    lowest in the (degree, id) order — and is found at that vertex's
    two out-edges... i.e. at edge (u→v) where u is that vertex). The
    pre-r8 plan materialized the Σ outdeg² wedge stream (41M rows at
    sf0.1 for 1.2M edges) through two joins; this plan does the same
    Σ outdeg² element work INSIDE codegen (`array_intersect` per edge
    row), joining only edge-sized and node-sized frames — no wedge row
    ever exists. Per-row array width is bounded by the orientation
    out-degree (≈ graph arboricity ≈ √|E| worst case), the same bound
    the wedge stream relied on.

    ADAPTIVE BROADCAST GATE: when the edge set is small (row gate
    derived from autoBroadcastJoinThreshold — ~4M edges at the
    engine's 16 MB conf; `functions/gates.py`), the node-sized
    adjacency frame (Σ outdeg = |E| total elements) and the deg joins
    broadcast; above the gate every
    join degrades to a shuffled equi-join on src/dst — the only plan
    that scales past executor memory (AQE still re-promotes at runtime
    if a side turns out small). n_edges is already materialized for
    the output, so the gate costs one count on the cached edge frame.

    SKEW GUARD: per-order part sets are capped at
    ``_TRIANGLE_MAX_BASKET`` rows BEFORE the |basket|² pair explode —
    the same hyper-active-key discipline as `cap_group_width` /
    hot shingles (VERDICT r7 #2), but FUSED into the set-building
    aggregate itself (a count beside the collect_set + a filter)
    instead of a separate census pass + anti-join: the cap costs zero
    extra scans, and aggregate state for an over-cap order is O(basket
    width) — the |basket|² explosion the cap guards never forms. The
    SQL oracle applies the identical HAVING cap, so both engines
    compute the same capped graph at any scale.
    """
    from _data_engineering_pipeline_project_spark.functions.gates import (
        broadcast_row_gate,
    )
    from _data_engineering_pipeline_project_spark.queries_ext import (
        track_query_caches,
    )

    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # per-order id-ordered pairs via one groupBy + double explode: one
    # shuffle of (orderkey, partkey) instead of a two-sided self-join
    # sort; per-row memory is O(order width), pairs stream out of the
    # second explode
    parts = (
        li.groupBy("l_orderkey")
        .agg(
            F.collect_set("l_partkey").alias("ps"),
            F.count(F.lit(1)).alias("__w"),
        )
        .filter(F.col("__w") <= _TRIANGLE_MAX_BASKET)
        .drop("__w")
    )
    from _data_engineering_pipeline_project_spark.operators.skew import (
        explode_ordered_pairs,
    )

    edges = explode_ordered_pairs(parts, "ps", "u", "v").distinct()
    edges = edges.cache()
    n_edges = edges.count()  # needed for output; doubles as the gate
    # ~4M edges at the engine's 16 MB threshold: an edge row is two
    # longs (~40 B hashed incl. entry overhead) and the count is EXACT
    # (edges is materialized), so the build may safely run ~10× the
    # speculative plan-time bound — see functions/gates.py
    small = n_edges <= broadcast_row_gate(
        spark, est_row_bytes=40, build_factor=10.0
    )
    hint = F.broadcast if small else (lambda df: df)
    # deg is consumed THREE times (two orientation broadcast builds +
    # the wedges2 aggregate), and each build would otherwise re-run the
    # 2|E|-row union+groupBy from the edge cache — caching the node-
    # sized result halves the query (measured 13.4 s → 6.6 s at sf0.1).
    # Node-sized and spill-safe (MEMORY_AND_DISK), so it holds at any
    # graph size the rest of the plan survives.
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("dg"))
    ).cache()
    du = deg.select(F.col("n").alias("u"), F.col("dg").alias("dgu"))
    dv = deg.select(F.col("n").alias("v"), F.col("dg").alias("dgv"))
    lower_first = (F.col("dgu") < F.col("dgv")) | (
        (F.col("dgu") == F.col("dgv")) & (F.col("u") < F.col("v"))
    )
    # oriented feeds the adjacency build AND the edge stream of the
    # intersection join — cache so the 3-way edges⋈deg⋈deg runs once
    oriented = edges.join(hint(du), "u").join(hint(dv), "v").select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).cache()
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    nu = adj.select(F.col("src").alias("__ju"), F.col("nbrs").alias("nu"))
    nv = adj.select(F.col("src").alias("__jv"), F.col("nbrs").alias("nv"))
    # every src has an adjacency row (it is the source of ≥1 oriented
    # edge) → inner; a dst may have out-degree 0 → left, counted as 0
    common = F.when(F.col("nv").isNull(), F.lit(0)).otherwise(
        F.size(F.array_intersect(F.col("nu"), F.col("nv")))
    )
    tri = (
        oriented.join(hint(nu), F.col("src") == F.col("__ju"))
        .join(hint(nv), F.col("dst") == F.col("__jv"), "left")
        .agg(F.coalesce(F.sum(common), F.lit(0)).alias("t"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("dg") * (F.col("dg") - 1)).alias("wedges2"),
    )
    ecnt = spark.range(1).select(F.lit(n_edges).alias("n_edges"))
    track_query_caches(
        spark, "triangle_count_copurchase", sf, [edges, deg, oriented]
    )
    return (
        tri.crossJoin(agg)
        .crossJoin(ecnt)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("t").cast("bigint").alias("n_triangles"),
            F.when(F.col("wedges2") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    (F.lit(6) * F.col("t")).cast("double") / F.col("wedges2"), 6
                )
            )
            .alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# Golden-record survivorship (MDM consolidation)
# --------------------------------------------------------------------------
@query(
    "golden_record_users",
    """
    WITH base AS (
      SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM events GROUP BY user_id),
    lv AS (
      SELECT user_id, value AS last_value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE value IS NOT NULL) WHERE rn = 1),
    lk AS (
      SELECT user_id, k AS last_k FROM (
        SELECT user_id,
               CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE props IS NOT NULL) WHERE rn = 1),
    md AS (
      SELECT user_id, event_type AS top_event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type) WHERE rn = 1)
    SELECT b.user_id, b.first_seen, b.last_seen,
           CAST(b.n_events AS BIGINT) AS n_events,
           round(lv.last_value, 4) AS last_value, lk.last_k,
           md.top_event_type, b.total_value
    FROM base b
    LEFT JOIN lv USING (user_id)
    LEFT JOIN lk USING (user_id)
    LEFT JOIN md USING (user_id)
    """,
)
def golden_record_users(spark: SparkSession, sf: str) -> DataFrame:
    """Golden-record survivorship: consolidate each user's event stream
    into one master row — recency-wins for attribute fields (latest
    non-null value, latest JSON prop), frequency-wins for the dominant
    event type (count desc, then lexicographic — fully deterministic),
    plus lifetime aggregates. This is the MDM merge step after identity
    resolution: every rule is a window or aggregate keyed on user_id,
    so the whole consolidation is AQE-co-partitioned on one key — the
    per-user windows and groupBys share a single shuffle's partitioning
    at 100 TB. Ties on ts are broken by event_id everywhere.
    """
    ev = table(spark, sf, "events")
    base = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    w_rec = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    lv = (
        ev.filter(F.col("value").isNotNull())
        .withColumn("rn", F.row_number().over(w_rec))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("last_value"))
    )
    lk = (
        ev.filter(F.col("props").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
            .cast("bigint")
            .alias("k"),
        )
        .withColumn("rn", F.row_number().over(w_rec))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("k").alias("last_k"))
    )
    w_freq = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type")
    )
    md = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w_freq))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"))
    )
    return (
        base.join(lv, "user_id", "left")
        .join(lk, "user_id", "left")
        .join(md, "user_id", "left")
        .select(
            "user_id",
            "first_seen",
            "last_seen",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round("last_value", 4).alias("last_value"),
            "last_k",
            "top_event_type",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# Multi-touch position-based attribution
# --------------------------------------------------------------------------
@query(
    "position_attribution_events",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS purch_cum,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id) AS total_purch
      FROM events),
    touches AS (
      SELECT user_id, event_id, ts, event_type,
             purch_cum + 1 AS conv
      FROM seq
      WHERE event_type IN ('view', 'click', 'signup')
        AND purch_cum < total_purch),
    pos AS (
      SELECT user_id, conv, event_type,
             row_number() OVER (PARTITION BY user_id, conv
                                ORDER BY ts, event_id) AS p,
             count(*) OVER (PARTITION BY user_id, conv) AS k
      FROM touches),
    credit AS (
      SELECT event_type AS channel,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN p = 1 OR p = k THEN 0.4
                  ELSE 0.2 / (k - 2) END AS cr,
             user_id, conv
      FROM pos)
    SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT (user_id, conv)) AS BIGINT)
             AS n_conversions_touched,
           round(sum(cr), 4) AS credit
    FROM credit GROUP BY channel
    """,
)
def position_attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    every view/click/signup between two purchases is credited to the
    NEXT purchase — 40% to the first touch, 40% to the last, the middle
    20% split evenly (degenerate paths: 1 touch → 1.0, 2 touches → 0.5
    each). Conversion assignment is the cumulative-purchase-count trick:
    a touch with ``purch_cum = p`` converts at purchase p+1, so no
    as-of join is needed — one user-keyed window does the whole
    assignment, and all three windows share the user_id shuffle.
    Credits are small exact rationals (0.4, 0.5, 0.2/(k-2)); the final
    per-channel sum is rounded at 4 dp, far above accumulation noise.
    """
    ev = table(spark, sf, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("user_id")
    is_p = F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(is_p).over(w_seq).alias("purch_cum"),
        F.sum(is_p).over(w_all).alias("total_purch"),
    )
    touches = seq.filter(
        F.col("event_type").isin("view", "click", "signup")
        & (F.col("purch_cum") < F.col("total_purch"))
    ).select(
        "user_id", "event_id", "ts", "event_type",
        (F.col("purch_cum") + 1).alias("conv"),
    )
    w_conv = Window.partitionBy("user_id", "conv").orderBy("ts", "event_id")
    w_convall = Window.partitionBy("user_id", "conv")
    pos = touches.select(
        "user_id",
        "conv",
        "event_type",
        F.row_number().over(w_conv).alias("p"),
        F.count(F.lit(1)).over(w_convall).alias("k"),
    )
    cr = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("p") == 1) | (F.col("p") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    credit = pos.select(
        F.col("event_type").alias("channel"), cr.alias("cr"), "user_id", "conv"
    )
    return credit.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("user_id", "conv")
        .cast("bigint")
        .alias("n_conversions_touched"),
        F.round(F.sum("cr"), 4).alias("credit"),
    )


# --------------------------------------------------------------------------
# HyperLogLog mergeable-sketch rollup (Spark datasketches)
# --------------------------------------------------------------------------
@query("hll_distinct_users_per_type")  # rows-only: HLL binary sketches have
# no DuckDB-parity form (different estimator internals); the pytest suite
# pins the estimate inside the published HLL error envelope vs exact.
def hll_distinct_users_per_type(spark: SparkSession, sf: str) -> DataFrame:
    """Production approximate-distinct: per-(type, shard) HyperLogLog
    sketches built with ``hll_sketch_agg``, then MERGED with
    ``hll_union_agg`` — demonstrating the property that matters at
    100 TB: sketches are monoids, so per-partition/per-day sketch
    columns can be stored and rolled up later without rescanning raw
    data (the KMV twin `kmv_distinct_users_per_type` is the
    oracle-checkable variant; this is the datasketches-backed one you
    would actually persist). Output carries the exact count alongside
    for an in-row error check.
    """
    ev = table(spark, sf, "events")
    shards = ev.withColumn("shard", (F.col("event_id") % 4).cast("int"))
    sk = shards.groupBy("event_type", "shard").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = sk.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        F.col("n_approx").cast("bigint").alias("n_approx"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test
# --------------------------------------------------------------------------
@query(
    "ks_two_sample_events",
    """
    WITH s AS (
      SELECT round(value, 4) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
      FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    n AS (SELECT CAST(sum(is1) AS BIGINT) AS n1,
                 CAST(sum(1 - is1) AS BIGINT) AS n2 FROM s),
    byv AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
                   CAST(sum(1 - is1) AS BIGINT) AS c2
            FROM s GROUP BY v),
    cum AS (SELECT v,
                   sum(c1) OVER (ORDER BY v) AS f1,
                   sum(c2) OVER (ORDER BY v) AS f2
            FROM byv),
    d AS (SELECT max(abs(f1 * n2 - f2 * n1)) AS dmax FROM cum, n)
    SELECT n1, n2,
           round(dmax / CAST(n1 * n2 AS DOUBLE), 6) AS ks_stat,
           round(1.358 * sqrt((n1 + n2) / CAST(n1 * n2 AS DOUBLE)), 6)
             AS crit_05,
           round(dmax / CAST(n1 * n2 AS DOUBLE), 6)
             > round(1.358 * sqrt((n1 + n2) / CAST(n1 * n2 AS DOUBLE)), 6)
             AS reject_h0
    FROM d, n
    """,
)
def ks_two_sample_events(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the click and error
    value distributions — the nonparametric drift detector (PSI's
    `value_drift_psi` twin without binning assumptions). The statistic
    is computed as ``max |F1·n2 − F2·n1| / (n1·n2)``: the sup-distance
    numerator stays an exact integer under the cumulative window, so
    the only compared doubles are one final division and the
    closed-form 5% critical value. The ECDF grid is quantized to 1e-4
    (identically in both engines), which bounds the ordered frame by
    the value range — not the row count — and at cluster scale the
    windowed cumsum is the standard two-phase scan (per-partition
    subtotal + offset broadcast) over a range-partitioned sort.
    """
    ev = table(spark, sf, "events")
    s = ev.filter(
        F.col("event_type").isin("click", "error") & F.col("value").isNotNull()
    ).select(
        F.round("value", 4).alias("v"),
        F.when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is1"),
    )
    n = s.agg(
        F.sum("is1").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("is1")).cast("bigint").alias("n2"),
    )
    byv = s.groupBy("v").agg(
        F.sum("is1").cast("bigint").alias("c1"),
        F.sum(F.lit(1) - F.col("is1")).cast("bigint").alias("c2"),
    )
    # ECDF prefix counts via the bucketed two-pass — the grid is bounded
    # by the quantized value range, but at cluster scale even the grid
    # should not serialize into one WindowExec partition
    cum = bucketed_cumulative(byv, ["v"], sums={"c1": "f1", "c2": "f2"}).select(
        "f1", "f2"
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))).alias(
            "dmax"
        )
    )
    ks = F.round(F.col("dmax") / (F.col("n1") * F.col("n2")).cast("double"), 6)
    crit = F.round(
        F.lit(1.358)
        * F.sqrt(
            (F.col("n1") + F.col("n2"))
            / (F.col("n1") * F.col("n2")).cast("double")
        ),
        6,
    )
    return d.crossJoin(F.broadcast(n)).select(
        "n1", "n2", ks.alias("ks_stat"), crit.alias("crit_05"),
        (ks > crit).alias("reject_h0"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (tie-corrected)
# --------------------------------------------------------------------------
@query(
    "mann_whitney_events",
    """
    WITH s AS (
      SELECT round(value, 4) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
      FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    n AS (SELECT CAST(sum(is1) AS BIGINT) AS n1,
                 CAST(sum(1 - is1) AS BIGINT) AS n2,
                 CAST(count(*) AS BIGINT) AS nn FROM s),
    byv AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
                   CAST(sum(is1) AS BIGINT) AS t1
            FROM s GROUP BY v),
    cum AS (SELECT v, t, t1,
                   coalesce(sum(t) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS before
            FROM byv),
    r AS (SELECT sum(t1 * (2 * before + t + 1)) AS r2_1,
                 sum(t * t * t - t) AS tie3
          FROM cum)
    SELECT n1, n2,
           (r2_1 - n1 * (n1 + 1)) / 2.0 AS u1,
           round((r2_1 - n1 * (n1 + 1) - n1 * n2)
                 / (2.0 * sqrt((n1 * n2 / 12.0)
                    * ((nn + 1) - tie3 / CAST(nn * (nn - 1) AS DOUBLE)))), 4)
             AS z
    FROM r, n
    """,
)
def mann_whitney_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U rank-sum test (click vs error
    values) — the robust two-sample location test to pair with the KS
    shape test. Average ranks are handled without fractions: per
    distinct value the DOUBLED rank-sum contribution is the integer
    ``t1·(2·before + t + 1)``, so R₁, U₁ and the tie term Σ(t³−t) are
    exact bigints; the z-score is assembled from those integers with
    identical double ops in both engines and rounded at 4 dp. Shares
    the quantized-grid + two-phase-cumsum scale shape with the KS
    query — one groupBy on value, one ordered scan over the grid.
    """
    ev = table(spark, sf, "events")
    s = ev.filter(
        F.col("event_type").isin("click", "error") & F.col("value").isNotNull()
    ).select(
        F.round("value", 4).alias("v"),
        F.when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is1"),
    )
    n = s.agg(
        F.sum("is1").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("is1")).cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("nn"),
    )
    byv = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("is1").cast("bigint").alias("t1"),
    )
    # exclusive prefix = inclusive two-pass cumsum minus the row's own
    # count — same no-global-WindowExec shape as the KS query
    cum = bucketed_cumulative(byv, ["v"], sums={"t": "_ct"}).select(
        "t", "t1", (F.col("_ct") - F.col("t")).alias("before")
    )
    r = cum.agg(
        F.sum(
            F.col("t1") * (F.lit(2) * F.col("before") + F.col("t") + 1)
        ).alias("r2_1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    u2 = F.col("r2_1") - F.col("n1") * (F.col("n1") + 1)
    sigma = F.sqrt(
        (F.col("n1") * F.col("n2") / F.lit(12.0))
        * (
            (F.col("nn") + 1)
            - F.col("tie3") / (F.col("nn") * (F.col("nn") - 1)).cast("double")
        )
    )
    return r.crossJoin(F.broadcast(n)).select(
        "n1",
        "n2",
        (u2 / F.lit(2.0)).alias("u1"),
        F.round(
            (u2 - F.col("n1") * F.col("n2")) / (F.lit(2.0) * sigma), 4
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------
@query(
    "rfm_segmentation_events",
    """
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
    p AS (
      SELECT user_id,
             date_diff('day', max(CAST(ts AS DATE)), d1) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(CAST(round(value * 100) AS BIGINT)) AS mon_cents
      FROM events, mx
      WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY user_id, d1),
    sc AS (
      SELECT user_id, recency_days, frequency, mon_cents,
             6 - ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score,
             ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
             ntile(5) OVER (ORDER BY mon_cents, user_id) AS m_score
      FROM p)
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency,
           round(mon_cents / 100.0, 2) AS monetary,
           CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm
    FROM sc
    """,
)
def rfm_segmentation_events(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    purchase events: quintile scores per axis, composed into the
    classic 3-digit segment code. Monetary sums per-row cent-rounded
    bigints (exact under any accumulation order); every quintile
    ordering carries user_id so boundaries are fully deterministic.
    Quintiles are EXACT ntile(5) semantics (first n%5 buckets take the
    extra row) but computed scale-safe: the bucketed two-pass
    (`functions/twopass.py`) assigns each row its global rank per axis
    with per-bucket windows + stitched offsets — no single-partition
    sort at user cardinality — and the ntile arithmetic
    ``i ≤ r·(b+1) ? ⌈i/(b+1)⌉ : r + ⌈(i−r·(b+1))/b⌉`` maps rank →
    quintile identically to the SQL ntile in the oracle.
    """
    ev = table(spark, sf, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("d1"))
    p = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .crossJoin(F.broadcast(mx))
        .groupBy("user_id", "d1")
        .agg(
            F.max(F.to_date("ts")).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("mon_cents"),
        )
        .select(
            "user_id",
            F.datediff(F.col("d1"), F.col("last_d")).alias("recency_days"),
            "frequency",
            "mon_cents",
        )
    )
    # cache the per-user frame: each two-pass rank references its input
    # ~3× (envelope, local pass, totals); caching keeps that a re-read
    # of the tiny aggregated frame, not a re-scan of events. Keyed by
    # canonical plan, so repeated query invocations share one entry;
    # evicted with the session's clearCache/eviction hook.
    p = p.cache()
    # three slim rank frames joined back on user_id — NOT nested helper
    # calls, which would recompute the upstream exponentially
    r_frame = bucketed_cumulative(
        p.select("user_id", "recency_days"),
        ["recency_days", "user_id"],
        rank_col="_ri",
        count_col="_n",
    ).select("user_id", "_ri", "_n")
    f_frame = bucketed_cumulative(
        p.select("user_id", "frequency"),
        ["frequency", "user_id"],
        rank_col="_fi",
    ).select("user_id", "_fi")
    m_frame = bucketed_cumulative(
        p.select("user_id", "mon_cents"),
        ["mon_cents", "user_id"],
        rank_col="_mi",
    ).select("user_id", "_mi")
    ranked = (
        p.join(r_frame, "user_id")
        .join(f_frame, "user_id")
        .join(m_frame, "user_id")
    )

    def ntile5(i: Column) -> Column:
        # exact ntile(5): base-size b = n div 5, first r = n mod 5
        # buckets get b+1 rows; ceil-div in doubles is exact to 2^53
        n = F.col("_n")
        b = F.floor(n / 5)
        r = n % 5
        cut = r * (b + 1)
        return (
            F.when(i <= cut, F.ceil(i.cast("double") / (b + 1)))
            .otherwise(
                r
                + F.ceil(
                    (i - cut).cast("double") / F.greatest(b, F.lit(1))
                )
            )
            .cast("int")
        )

    sc = ranked.select(
        "user_id",
        "recency_days",
        "frequency",
        "mon_cents",
        (F.lit(6) - ntile5(F.col("_ri"))).alias("r_score"),
        ntile5(F.col("_fi")).alias("f_score"),
        ntile5(F.col("_mi")).alias("m_score"),
    )
    from _data_engineering_pipeline_project_spark.queries_ext import (
        track_query_caches,
    )

    track_query_caches(spark, "rfm_segmentation_events", sf, [p])
    return sc.select(
        "user_id",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        "frequency",
        F.round(F.col("mon_cents") / F.lit(100.0), 2).alias("monetary"),
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm"),
    )


# --------------------------------------------------------------------------
# Gini revenue concentration per market segment
# --------------------------------------------------------------------------
@query(
    "gini_revenue_by_segment",
    """
    WITH bycust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey),
    rk AS (
      SELECT c_mktsegment, x,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY x, o_custkey) AS i
      FROM bycust),
    g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                 sum(x) AS sx, sum(i * x) AS six
          FROM rk GROUP BY c_mktsegment)
    SELECT c_mktsegment, n AS n_customers,
           round(sx / 100.0, 2) AS total_revenue,
           round(CAST(2 * six - (n + 1) * sx AS DOUBLE) / (n * sx), 6) AS gini
    FROM g
    """,
)
def gini_revenue_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-customer revenue inside each market
    segment — the inequality/concentration metric behind "does 1% of
    customers carry 90% of revenue" dashboards (and, in a training-data
    pipeline, the same statistic flags source/domain concentration in a
    corpus). Revenue goes to exact integer cents per row, the rank-sum
    identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ) is evaluated in bigints
    with ONE final division, and the rank window is partitioned by
    segment — every segment sorts independently, so the plan shards
    across the cluster instead of one global sort.
    """
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    bycust = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                money_cents("o_totalprice")
            ).alias("x")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("x", "o_custkey")
    rk = bycust.select("c_mktsegment", "x", F.row_number().over(w).alias("i"))
    g = rk.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return g.select(
        "c_mktsegment",
        F.col("n").alias("n_customers"),
        F.round(F.col("sx") / F.lit(100.0), 2).alias("total_revenue"),
        F.round(
            (
                F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx")
            ).cast("double")
            / (F.col("n") * F.col("sx")),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 connector API)
# --------------------------------------------------------------------------
@query(
    "pydatasource_synthetic_docs",
    """
    WITH h AS (
      SELECT i,
             ('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 2))::INTEGER AS x1,
             ('0x' || substr(md5(CAST(i AS VARCHAR)), 3, 2))::INTEGER AS x2,
             ('0x' || substr(md5(CAST(i AS VARCHAR)), 5, 2))::INTEGER AS x3
      FROM range(0, 500) t(i)),
    rows_ AS (
      SELECT i AS doc_id,
             'w' || (x1 % 16) || ' w' || (x2 % 16) || ' w' || (x3 % 16) AS text,
             CASE x1 % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                         WHEN 2 THEN 'fr' ELSE 'es' END AS lang,
             CASE x2 % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
                         ELSE 'code' END AS source
      FROM h)
    SELECT doc_id, text, lang, source,
           CAST(length(text) AS INTEGER) AS n_chars
    FROM rows_
    """,
)
def pydatasource_synthetic_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Batch read through the custom Spark 4 Python DataSource
    (sources/pydatasource.py): 500 deterministic md5-derived documents
    over 8 range partitions. The oracle regenerates the identical table
    from ``range(500)`` in SQL, so the correctness gate certifies the
    CONNECTOR (schema, partitioned generation, row contents), not just
    a transformation. The source also implements ``pushFilters`` —
    doc_id range predicates prune partitions before any row is
    generated (pinned by the pytest plan/unit tests; this registered
    read is the full-scan path). ``sf`` is unused: the source is the
    data."""
    from _data_engineering_pipeline_project_spark.sources import (
        pydatasource as P,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    P.register(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n", 500)
        .option("parts", 8)
        .load()
    )


# --------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs/PPJoin shape)
# --------------------------------------------------------------------------
_PREFIX_CTES = r"""
    tok AS (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents),
    tk AS (SELECT DISTINCT doc_id, term FROM tok WHERE length(term) > 0),
    sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
    df AS (SELECT term, count(*) AS dfreq FROM tk GROUP BY term),
    ranked AS (
      SELECT t.doc_id, t.term, s.n,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.dfreq, t.term) AS pos
      FROM tk t JOIN df d USING (term) JOIN sz s USING (doc_id)),
    prefix AS (
      SELECT doc_id, term, n FROM ranked
      WHERE pos <= n - (4 * n + 4) // 5 + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.term = b.term AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS common
      FROM cand c
      JOIN tk ta ON ta.doc_id = c.id_a
      JOIN tk tb ON tb.doc_id = c.id_b AND tb.term = ta.term
      GROUP BY c.id_a, c.id_b)
"""


@query(
    "prefix_filter_jaccard_pairs",
    f"""
    WITH {_PREFIX_CTES}
    SELECT i.id_a, i.id_b,
           round(CAST(i.common AS DOUBLE)
                 / (sa.n + sb.n - i.common), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE 9 * i.common >= 4 * (sa.n + sb.n)
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT token-set similarity join (Jaccard ≥ 0.8) via prefix
    filtering — the AllPairs/PPJoin family: order each document's
    tokens globally by rarity (document frequency asc, term asc as the
    canonical total order), keep only the first ``n − ceil(n/2) + 1``
    tokens (``ceil(0.8·n)`` removed) as the *prefix*, and generate candidates by equi-joining
    prefixes. The prefix principle guarantees zero false negatives at
    the threshold, so unlike MinHash this join is exact — but like
    MinHash it never goes all-pairs: candidate volume is driven by
    RARE terms (a term shared by k prefixes creates k² candidate
    slots, and frequent terms are exactly the ones pushed OUT of
    prefixes). The verify stage (``jaccard_verify``) packs full token
    sets and applies the integer-form threshold ``9·common ≥ 4·(|a|+|b|)``
    (⇔ J ≥ 0.8) — no float compare in the cut, one division at output.
    """
    d = table(spark, sf, "documents")
    tk = (
        d.select("doc_id", F.explode(TS.tokens("text")).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = tk.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "term")
    ranked = (
        tk.join(dfreq, "term")
        .join(sz, "doc_id")
        .select("doc_id", "term", "n", F.row_number().over(w).alias("pos"))
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n") - F.floor((4 * F.col("n") + 4) / 5).cast("bigint") + 1
    ).select("doc_id", "term")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    return (
        jaccard_verify(cand, tk, "doc_id", "id_a", "id_b", "term")
        .filter(9 * F.col("common") >= 4 * (F.col("n_a") + F.col("n_b")))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# KL-divergence mixture drift per corpus source
# --------------------------------------------------------------------------
@query(
    "kl_mixture_drift_sources",
    """
    WITH sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c_sl
                FROM documents GROUP BY source, lang),
    s AS (SELECT source, sum(c_sl) AS c_s FROM sl GROUP BY source),
    l AS (SELECT lang, sum(c_sl) AS c_l FROM sl GROUP BY lang),
    t AS (SELECT sum(c_sl) AS c_tot FROM sl),
    terms AS (
      SELECT sl.source, sl.c_sl, s.c_s,
             CAST(floor(ln((sl.c_sl * t.c_tot)
                           / CAST(s.c_s * l.c_l AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lnr_fp,
             CAST(floor(ln(sl.c_sl / CAST(s.c_s AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lnp_fp
      FROM sl JOIN s USING (source) JOIN l USING (lang), t)
    SELECT source, CAST(max(c_s) AS BIGINT) AS n_docs,
           round(sum(c_sl * lnr_fp) / (max(c_s) * 1000000.0), 6)
             AS kl_vs_corpus,
           round(-sum(c_sl * lnp_fp) / (max(c_s) * 1000000.0), 6)
             AS lang_entropy
    FROM terms GROUP BY source
    """,
)
def kl_mixture_drift_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture-drift monitor: per corpus source, the KL divergence of
    its language distribution against the whole corpus, plus its
    language entropy — the two numbers a data-mixing pipeline tracks to
    catch a source whose composition shifted (KL spikes) or collapsed
    to one language (entropy drops). Probability ratios stay exact
    integer ratios (``c_sl·c_tot / (c_s·c_l)``) until one ln per
    (source, lang) cell; per-source sums run over fixed-point bigints.
    The whole thing is three tiny aggregates off ONE groupBy(source,
    lang) scan — cells, not rows, flow through every later stage.
    """
    docs = table(spark, sf, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_sl")
    )
    s = sl.groupBy("source").agg(F.sum("c_sl").alias("c_s"))
    l = sl.groupBy("lang").agg(F.sum("c_sl").alias("c_l"))
    t = sl.agg(F.sum("c_sl").alias("c_tot"))
    terms = (
        sl.join(s, "source")
        .join(l, "lang")
        .crossJoin(F.broadcast(t))
        .select(
            "source",
            "c_sl",
            "c_s",
            F.floor(
                F.ln(
                    (F.col("c_sl") * F.col("c_tot"))
                    / (F.col("c_s") * F.col("c_l")).cast("double")
                )
                * F.lit(1000000)
            )
            .cast("bigint")
            .alias("lnr_fp"),
            F.floor(
                F.ln(F.col("c_sl") / F.col("c_s").cast("double"))
                * F.lit(1000000)
            )
            .cast("bigint")
            .alias("lnp_fp"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("c_s").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("c_sl") * F.col("lnr_fp"))
            / (F.max("c_s") * F.lit(1000000.0)),
            6,
        ).alias("kl_vs_corpus"),
        F.round(
            -F.sum(F.col("c_sl") * F.col("lnp_fp"))
            / (F.max("c_s") * F.lit(1000000.0)),
            6,
        ).alias("lang_entropy"),
    )


# --------------------------------------------------------------------------
# VARIANT semi-structured path (Spark 4 native)
# --------------------------------------------------------------------------
@query(
    "variant_props_events",
    """
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
             AS BIGINT) AS sum_k,
           CAST(max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
             AS BIGINT) AS max_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def variant_props_events(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: ``parse_json``
    once into a variant column, then typed ``variant_get`` extractions —
    the open-schema path for JSON whose keys are not known at write
    time. VARIANT stores a parsed binary form, so repeated extractions
    skip re-parsing (vs ``get_json_object``, which re-parses the string
    per call — the twin `json_extract_events` covers that classic
    path). The oracle regexp-extracts the same field (DuckDB's json
    extension isn't loadable offline), exercising identical values
    through a different engine mechanism.
    """
    ev = table(spark, sf, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("vp")
    ).select(
        "event_type",
        F.variant_get(F.col("vp"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# CDC changelog apply (Debezium/Delta-CDF compaction)
# --------------------------------------------------------------------------
_CDC_CTES = """
    h AS (SELECT o_orderkey, o_custkey, o_totalprice,
                 ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2))
                   ::INTEGER AS hb
          FROM orders),
    changes AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 1 AS seq, 'I' AS op FROM h
      UNION ALL
      SELECT o_orderkey, o_custkey, round(o_totalprice + 10.0, 2), 2, 'U'
      FROM h WHERE hb % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, 3, 'D'
      FROM h WHERE hb % 5 = 0)
"""


@query(
    "cdc_apply_orders_changelog",
    f"""
    WITH {_CDC_CTES},
    ranked AS (
      SELECT o_orderkey, o_custkey, o_totalprice, seq, op,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY seq DESC, op DESC) AS rn
      FROM changes)
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(seq AS INTEGER) AS version, op AS last_op
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_orders_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """CDC compaction: an insert/update/delete changelog (derived
    deterministically from orders — every key an INSERT, hash-selected
    keys an UPDATE at seq 2 and/or a DELETE at seq 3) collapsed to the
    latest snapshot by ``operators/cdc.apply_changelog``. One window
    keyed on the PK replaces the reference's per-row UPDATE statements
    (etl2.py:371-380); sequence ordering — not arrival order — decides
    the winner, so out-of-order and replayed deliveries are harmless
    (pinned by the pytest scenarios). At scale this is the nightly
    Debezium-topic → lake-table compaction: one shuffle on the key.
    """
    from _data_engineering_pipeline_project_spark.operators.cdc import (
        apply_changelog,
    )

    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    hb = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
        .cast("int")
        .alias("hb")
    )
    h = o.select("*", hb)
    ins = h.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = h.filter(F.col("hb") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dels = h.filter(F.col("hb") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    changes = ins.unionAll(upd).unionAll(dels)
    snap = apply_changelog(changes, ["o_orderkey"], ["seq"])
    return snap.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("seq").cast("int").alias("version"),
        F.col("op").alias("last_op"),
    )


# --------------------------------------------------------------------------
# EWMA via sequential fold (recursive smoother, declaratively)
# --------------------------------------------------------------------------
@query(
    "ewma_daily_counts_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    arr AS (SELECT event_type, list(y ORDER BY day) AS ys
            FROM daily GROUP BY event_type)
    SELECT event_type, CAST(len(ys) AS BIGINT) AS n_days,
           round(list_reduce(ys, (s, x) -> (s + x) / 2), 6) AS ewma,
           round(ys[len(ys)] - list_reduce(ys, (s, x) -> (s + x) / 2), 6)
             AS last_minus_ewma
    FROM arr
    """,
)
def ewma_daily_counts_events(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA (alpha = 1/2) of each series' daily counts, expressed as a
    SEQUENTIAL FOLD over an ordered array — the way to run a genuinely
    recursive smoother inside a declarative engine without a UDF:
    collect the (small, bounded-by-observation-span) ordered series per
    group, then ``F.aggregate`` folds it left in one codegen'd
    expression; DuckDB's ``list_reduce`` folds identically. Because the
    fold order is PINNED (unlike commutative SUM), and alpha = 1/2 makes
    every step an IEEE-exact halving of one addition, the result is
    bit-identical across engines before any rounding. The final
    ``last − ewma`` residual is the anomaly signal (recency-weighted
    drift of the newest point).
    """
    ev = table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    arr = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys")
    )
    # left fold with the first element as the seed == DuckDB list_reduce
    ewma = F.aggregate(
        F.slice(F.col("ys"), 2, F.size("ys") - 1),
        F.element_at(F.col("ys"), 1),
        lambda s, x: (s + x) / F.lit(2.0),
    )
    return arr.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.round(ewma, 6).alias("ewma"),
        F.round(F.element_at(F.col("ys"), -1) - ewma, 6).alias(
            "last_minus_ewma"
        ),
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (asymmetric distance computation)
# --------------------------------------------------------------------------
_PQ_M, _PQ_SD, _PQ_K = 32, 2, 64  # 32 subspaces x 2 dims, 64 codes each

_PQ_CB_SLICES = "\n      UNION ALL ".join(
    f"SELECT code, {s} AS subspace, "
    f"svec[{1 + _PQ_SD * s}:{_PQ_SD * (s + 1)}] AS cvec FROM codes0"
    for s in range(_PQ_M)
)
_PQ_SUB_SLICES = "\n      UNION ALL ".join(
    f"SELECT vec_id, {s} AS subspace, "
    f"CAST(embedding AS DOUBLE[])[{1 + _PQ_SD * s}:{_PQ_SD * (s + 1)}] AS svec "
    f"FROM embeddings"
    for s in range(_PQ_M)
)

_PQ_SQL = f"""
    WITH seeds AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS svec,
             md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings ORDER BY h, vec_id LIMIT {_PQ_K}),
    codes0 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS code,
             svec
      FROM seeds),
    cb AS (
      {_PQ_CB_SLICES}),
    sub AS (
      {_PQ_SUB_SLICES}),
    enc0 AS (
      SELECT s.vec_id, s.subspace, c.code,
             round(list_dot_product(s.svec, s.svec)
                   - 2 * list_dot_product(s.svec, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), 6) AS d2
      FROM sub s JOIN cb c USING (subspace)),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, code) AS rn
        FROM enc0) WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, subspace, svec
             FROM sub WHERE vec_id < 10),
    dtab AS (
      SELECT q.query_id, q.subspace, c.code,
             CAST(round(round(list_dot_product(q.svec, q.svec)
                              - 2 * list_dot_product(q.svec, c.cvec)
                              + list_dot_product(c.cvec, c.cvec), 6)
                        * 1000000) AS BIGINT) AS d2_fp
      FROM qsub q JOIN cb c USING (subspace)),
    scored AS (
      SELECT d.query_id, e.vec_id AS neighbor_id, sum(d.d2_fp) AS s_fp
      FROM enc e JOIN dtab d ON d.subspace = e.subspace AND d.code = e.code
      WHERE d.query_id <> e.vec_id
      GROUP BY d.query_id, e.vec_id)
    SELECT query_id, neighbor_id,
           round(s_fp / 1000000.0, 6) AS approx_d2,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY s_fp, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
"""


@query("embedding_topk_pq", _PQ_SQL)
def embedding_topk_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table (m=32
    subspaces × 2 dims, 64 codes each — measured recall@5 vs exact L2:
    0.72 on this corpus, vs 0.10 for the coarse 4×16×8 grid; random
    embeddings are PQ's adversarial case, so code bits matter): corpus vectors
    are stored as 4 codes, queries (vec_id < 10, the family's standard
    query set) precompute per-subspace distance tables, and the scan
    sums table lookups — the memory-bound ANN design (Jégou et al.'s
    IVF-ADC without the IVF stage here; compose with
    `embedding_topk_ivf`'s lists for IVFPQ). Completes the ANN family
    next to brute force / LSH / IVF / int8: PQ trades recall for a 32×
    smaller scan footprint, the dominant cost at 100 TB. Exact-integer
    ADC sums (fixed-point lookups) make even this approximate operator
    hash-parity checkable.
    """
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        pq_adc_topk,
    )

    emb = table(spark, sf, "embeddings")
    return pq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        m=_PQ_M,
        sub_dim=_PQ_SD,
        ksub=_PQ_K,
    )


# --------------------------------------------------------------------------
# One-pass table profiler
# --------------------------------------------------------------------------
@query(
    "profile_events_table",
    """
    WITH s AS (
      SELECT count(*) AS n_rows,
        CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul0,
        CAST(count(DISTINCT event_id) AS BIGINT) AS dis0,
        CAST(min(event_id) AS DOUBLE) AS min0,
        CAST(max(event_id) AS DOUBLE) AS max0,
        CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul1,
        CAST(count(DISTINCT user_id) AS BIGINT) AS dis1,
        CAST(min(user_id) AS DOUBLE) AS min1,
        CAST(max(user_id) AS DOUBLE) AS max1,
        CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul2,
        CAST(count(DISTINCT value) AS BIGINT) AS dis2,
        CAST(min(value) AS DOUBLE) AS min2,
        CAST(max(value) AS DOUBLE) AS max2,
        CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul3,
        CAST(count(DISTINCT ts) AS BIGINT) AS dis3,
        min(ts) AS tmin3, max(ts) AS tmax3,
        CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS nul4,
        CAST(count(DISTINCT event_type) AS BIGINT) AS dis4
      FROM events)
    SELECT 'event_id' AS column, n_rows, nul0 AS n_nulls, dis0 AS n_distinct,
           min0 AS min_num, max0 AS max_num,
           CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts
    FROM s
    UNION ALL SELECT 'user_id', n_rows, nul1, dis1, min1, max1, NULL, NULL
    FROM s
    UNION ALL SELECT 'value', n_rows, nul2, dis2, min2, max2, NULL, NULL FROM s
    UNION ALL SELECT 'ts', n_rows, nul3, dis3, NULL, NULL, tmin3, tmax3 FROM s
    UNION ALL SELECT 'event_type', n_rows, nul4, dis4, NULL, NULL, NULL, NULL
    FROM s
    """,
)
def profile_events_table(spark: SparkSession, sf: str) -> DataFrame:
    """Column-level profile of events — nulls, exact distincts, typed
    min/max — in ONE scan (operators/expectations.profile_table). The
    per-column report a pipeline snapshots before/after every load to
    drive drift alerts (pair with `value_drift_psi`); min/max stay in
    their native types (double / timestamp) because value→string
    formatting is engine-specific and would break parity where the
    VALUES don't differ.
    """
    from _data_engineering_pipeline_project_spark.operators.expectations import (
        profile_table,
    )

    ev = table(spark, sf, "events")
    return profile_table(
        ev,
        numeric_cols=["event_id", "user_id", "value"],
        timestamp_cols=["ts"],
        other_cols=["event_type"],
    )


# --------------------------------------------------------------------------
# IVFADC: IVF lists x PQ codes (the production ANN composition)
# --------------------------------------------------------------------------
_IVFPQ_SQL = f"""
    WITH iseeds AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec,
             md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings ORDER BY h, vec_id LIMIT 8),
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER)
               AS centroid_id, cvec
      FROM iseeds),
    cscore AS (
      SELECT e.vec_id, c.centroid_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS cos
      FROM embeddings e, cent c),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore) WHERE arnk = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore WHERE vec_id < 10) WHERE arnk <= 2),
    seeds AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS svec,
             md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings ORDER BY h, vec_id LIMIT {_PQ_K}),
    codes0 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS code,
             svec
      FROM seeds),
    cb AS (
      {_PQ_CB_SLICES}),
    sub AS (
      {_PQ_SUB_SLICES}),
    enc0 AS (
      SELECT s.vec_id, s.subspace, c.code,
             round(list_dot_product(s.svec, s.svec)
                   - 2 * list_dot_product(s.svec, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), 6) AS d2
      FROM sub s JOIN cb c USING (subspace)),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, code) AS rn
        FROM enc0) WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, subspace, svec
             FROM sub WHERE vec_id < 10),
    dtab AS (
      SELECT q.query_id, q.subspace, c.code,
             CAST(round(round(list_dot_product(q.svec, q.svec)
                              - 2 * list_dot_product(q.svec, c.cvec)
                              + list_dot_product(c.cvec, c.cvec), 6)
                        * 1000000) AS BIGINT) AS d2_fp
      FROM qsub q JOIN cb c USING (subspace)),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assigned a JOIN probes p USING (centroid_id)
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT cd.query_id, cd.vec_id AS neighbor_id, sum(d.d2_fp) AS s_fp
      FROM cand cd
      JOIN enc e ON e.vec_id = cd.vec_id
      JOIN dtab d ON d.query_id = cd.query_id
                 AND d.subspace = e.subspace AND d.code = e.code
      GROUP BY cd.query_id, cd.vec_id)
    SELECT query_id, neighbor_id,
           round(s_fp / 1000000.0, 6) AS approx_d2,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY s_fp, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
"""


@query("embedding_topk_ivfpq", _IVFPQ_SQL)
def embedding_topk_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC (Jégou et al.): coarse IVF lists (8 centroids, nprobe=2)
    composed with PQ codes (32×2×64) — queries probe ~1/4 of the
    corpus and score candidates by summed table lookups, never touching
    a full-precision vector at query time. This is the production
    vector-store shape: IVF cuts CANDIDATES, PQ cuts BYTES PER
    CANDIDATE; at 100 TB the scan reads centroid ids + 32 code bytes
    per vector. Deterministic seeding + fixed-point ADC keep even the
    composed approximate operator hash-parity checkable.
    """
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = table(spark, sf, "embeddings")
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        num_centroids=8,
        nprobe=2,
        m=_PQ_M,
        sub_dim=_PQ_SD,
        ksub=_PQ_K,
    )


# --------------------------------------------------------------------------
# Differential-privacy-shaped noisy release (seeded Laplace mechanism)
# --------------------------------------------------------------------------
@query(
    "dp_noisy_counts_events",
    """
    WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type),
    u AS (SELECT event_type, n,
                 (('0x' || substr(md5(event_type), 1, 8))::BIGINT
                  / 4294967296.0) - 0.5 AS uu
          FROM c)
    SELECT event_type, n AS true_count,
           CAST(round(n + (CASE WHEN uu >= 0 THEN -1.0 ELSE 1.0 END)
                          * 2.0 * ln(1.0 - 2.0 * abs(uu)), 0)
                AS BIGINT) AS noisy_count
    FROM u
    """,
)
def dp_noisy_counts_events(spark: SparkSession, sf: str) -> DataFrame:
    """Laplace-mechanism-shaped noisy count release (sensitivity 1,
    b = 1/ε = 2): per-group counts perturbed by inverse-CDF Laplace
    noise ``-b·sign(u)·ln(1-2|u|)`` driven by an md5-uniform in
    [-0.5, 0.5). The noise here is SEEDED (a pure function of the group
    key) so the release is reproducible and oracle-checkable — the
    plumbing a privacy layer needs (per-release noise, post-aggregation,
    integer rounding), with the explicit caveat that production DP
    draws fresh randomness per release; swap the md5-uniform for a true
    RNG and the plan is unchanged (noise applies AFTER the aggregate,
    so it is one map over group rows — free at any scale).
    """
    ev = table(spark, sf, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    uu = (
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 8), 16, 10).cast(
            "bigint"
        )
        / F.lit(4294967296.0)
    ) - F.lit(0.5)
    noise = (
        F.when(uu >= 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.lit(2.0)
        * F.ln(F.lit(1.0) - F.lit(2.0) * F.abs(uu))
    )
    return c.select(
        "event_type",
        F.col("n").alias("true_count"),
        F.round(F.col("n") + noise, 0).cast("bigint").alias("noisy_count"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------
@query(
    "k_anonymity_audit_events",
    """
    WITH q AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(user_id % 10 AS BIGINT) AS user_bucket,
             count(*) AS grp_size
      FROM events GROUP BY event_type, CAST(ts AS DATE), user_id % 10)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN grp_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)
                AS BIGINT) AS n_risky_rows,
           CAST(min(grp_size) AS BIGINT) AS k_actual,
           round(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)
                 / CAST(sum(grp_size) AS DOUBLE), 6) AS risky_row_ratio
    FROM q
    """,
)
def k_anonymity_audit_events(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit (k = 5) over the quasi-identifier tuple
    (event_type, day, user-bucket): how many equivalence classes fall
    below k, how many rows they expose, and the dataset's actual k
    (the minimum class size — the number that goes in the privacy
    review). One groupBy on the quasi-identifiers + one scalar rollup;
    the release decision (suppress / generalize the small classes)
    consumes exactly this report. All-integer until the final ratio.
    """
    ev = table(spark, sf, "events")
    q = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 10).cast("bigint").alias("user_bucket"),
    ).agg(F.count(F.lit(1)).alias("grp_size"))
    small = F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(F.lit(0))
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("grp_size") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(small).cast("bigint").alias("n_risky_rows"),
        F.min("grp_size").cast("bigint").alias("k_actual"),
        F.round(
            F.sum(small) / F.sum("grp_size").cast("double"), 6
        ).alias("risky_row_ratio"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------
@query(
    "theil_sen_trend_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    d0 AS (SELECT min(day) AS day0 FROM daily),
    xy AS (SELECT event_type,
                  CAST(date_diff('day', day0, day) AS BIGINT) AS x, y
           FROM daily, d0),
    slopes AS (
      SELECT a.event_type,
             (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s
      FROM xy a JOIN xy b
        ON a.event_type = b.event_type AND a.x < b.x)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(median(s) AS DOUBLE), 6) AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
)
def theil_sen_trend_events(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust trend per series: the MEDIAN of all pairwise
    slopes — up to 29% of the points can be corrupted before the
    estimate moves (OLS breaks at one outlier; run next to
    `ols_trend_events_daily` and a gap between them IS the outlier
    alarm). Pairs are quadratic only in days-per-series (the series is
    already aggregated — 30 days → 435 pairs), every slope is one
    exact integer-ratio division, and the median is an order statistic
    — no accumulation-order float risk anywhere.
    """
    ev = table(spark, sf, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    d0 = daily.agg(F.min("day").alias("day0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff(F.col("day"), F.col("day0")).cast("bigint").alias("x"),
        "y",
    )
    a, b = xy.alias("a"), xy.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y"))
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("s"),
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.median("s"), 6).alias("theil_sen_slope"),
    )


# --------------------------------------------------------------------------
# Autocorrelation function (seasonality detector)
# --------------------------------------------------------------------------
@query(
    "acf_daily_counts_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.y AS y0, b.y AS y1
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + to_days(CAST(l.lag AS INTEGER))),
    s AS (SELECT event_type, lag, count(*) AS n, sum(y0) AS s0, sum(y1) AS s1,
                 sum(y0 * y1) AS s01, sum(y0 * y0) AS s00, sum(y1 * y1) AS s11
          FROM pairs GROUP BY event_type, lag)
    SELECT event_type, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * s00 - s0 * s0) * (n * s11 - s1 * s1) <= 0 THEN NULL
                ELSE round((n * s01 - s0 * s1)
                           / sqrt(CAST(n * s00 - s0 * s0 AS DOUBLE)
                                  * (n * s11 - s1 * s1)), 6)
           END AS acf
    FROM s
    """,
)
def acf_daily_counts_events(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation of each daily series at lags 1-7 — the
    seasonality detector (a weekly cycle shows as an ACF spike at
    lag 7; pair with `seasonal_residual_events` which ASSUMES the
    period this query MEASURES). Lagged alignment is an equi-join on
    (series, day+lag) — no window, no sort; the correlation at each
    lag is the five-integer-sums Pearson form with one final division
    over exact bigints. At 100 TB each (series, lag) cell is one
    aggregation group — millions of series parallelize trivially.
    """
    ev = table(spark, sf, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "event_type", "day", "lag", F.col("y").alias("y0"),
        F.date_add(F.col("day"), F.col("lag")).alias("day1"),
    )
    b = daily.select(
        F.col("event_type").alias("bet"),
        F.col("day").alias("b_day"),
        F.col("y").alias("y1"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("bet"))
        & (F.col("day1") == F.col("b_day")),
    ).select("event_type", "lag", "y0", "y1")
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y0").alias("s0"),
        F.sum("y1").alias("s1"),
        F.sum(F.col("y0") * F.col("y1")).alias("s01"),
        F.sum(F.col("y0") * F.col("y0")).alias("s00"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11"),
    )
    dx = F.col("n") * F.col("s00") - F.col("s0") * F.col("s0")
    dy = F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")
    num = F.col("n") * F.col("s01") - F.col("s0") * F.col("s1")
    return s.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        F.when(dx * dy <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(num / F.sqrt(dx.cast("double") * dy), 6))
        .alias("acf"),
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (co-purchase cosine)
# --------------------------------------------------------------------------
_COPURCHASE_MAX_BASKET = 4096
"""Hyper-active-customer guard for the item-item pair expansion: a
customer whose distinct-part basket exceeds this is dropped before the
cust self-join (a bot/aggregator account's co-occurrence signal is
noise; one 10^5-part basket is 10^10 pairs). TPC-H customers buy ≲100
distinct parts so the cap never fires on test data; the oracle applies
the identical HAVING cap so both engines agree at any scale."""


@query(
    "item_item_cosine_parts",
    f"""
    WITH ui0 AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    ui AS (
      SELECT cust, part FROM ui0 WHERE cust NOT IN (
        SELECT cust FROM ui0
        GROUP BY cust HAVING count(*) > {_COPURCHASE_MAX_BASKET})),
    deg AS (SELECT part, CAST(count(*) AS BIGINT) AS buyers
            FROM ui GROUP BY part),
    co AS (
      SELECT a.part AS part_a, b.part AS part_b,
             CAST(count(*) AS BIGINT) AS common
      FROM ui a JOIN ui b ON a.cust = b.cust AND a.part < b.part
      GROUP BY a.part, b.part),
    scored AS (
      SELECT co.part_a, co.part_b, co.common,
             round(co.common / sqrt(CAST(da.buyers AS DOUBLE) * db.buyers), 6)
               AS cosine
      FROM co
      JOIN deg da ON da.part = co.part_a
      JOIN deg db ON db.part = co.part_b)
    SELECT part_a, part_b, common, cosine
    FROM scored
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 20
    """,
)
def item_item_cosine_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity of parts
    over the binary customer×part purchase matrix —
    ``common_buyers / sqrt(buyers_a · buyers_b)`` — the classic
    "customers who bought X also bought Y" scorer (the lift-ranked
    twin is `market_basket_part_pairs`; cosine damps the
    popular-item bias lift amplifies). Integer counts everywhere; one
    division + sqrt at output; top-20 via a deterministic
    (cosine, part_a, part_b) TakeOrdered — no global sort materialized.

    PLAN (the triangle edge-generation shape, r8): ONE
    ``groupBy(cust).collect_set(part)`` builds the per-customer basket
    — the collect_set IS the (cust, part) distinct, so the pre-r8
    distinct shuffle, the census pass, and the cust self-join all
    collapse into this single aggregate. Pairs (id-ordered) and
    per-part buyer counts then stream out of map-side explodes into
    partial aggregates: work is still Σ (parts-per-customer)² — bounded
    by basket size, never catalog size — but no join build ever
    materializes, and per-row memory is O(basket). The hyper-customer
    cap (skew hardening at planet scale) is a ``size(ps)`` filter on
    the same aggregate — distinct-part count, exactly the oracle's
    HAVING count(*) over the distinct matrix.
    """
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    baskets = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .groupBy("cust")
        .agg(F.collect_set("part").alias("ps"))
        .filter(F.size("ps") <= _COPURCHASE_MAX_BASKET)
        .select("ps")
    ).cache()  # customer-sized; feeds the pair explode AND the degrees
    deg = (
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("buyers"))
        .cache()
    )
    from _data_engineering_pipeline_project_spark.operators.skew import (
        explode_ordered_pairs,
    )

    co = (
        explode_ordered_pairs(baskets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    da = deg.select(F.col("part").alias("part_a"), F.col("buyers").alias("ba"))
    db = deg.select(F.col("part").alias("part_b"), F.col("buyers").alias("bb"))
    scored = (
        co.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "common",
            F.round(
                F.col("common")
                / F.sqrt(F.col("ba").cast("double") * F.col("bb")),
                6,
            ).alias("cosine"),
        )
    )
    from _data_engineering_pipeline_project_spark.queries_ext import (
        track_query_caches,
    )

    track_query_caches(spark, "item_item_cosine_parts", sf, [baskets, deg])
    return scored.orderBy(
        F.col("cosine").desc(), "part_a", "part_b"
    ).limit(20)


# --------------------------------------------------------------------------
# Readability scoring (Flesch-style, deterministic heuristics)
# --------------------------------------------------------------------------
@query(
    "readability_documents",
    r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
               AS words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS sentences,
             CAST(greatest(len(regexp_extract_all(lower(text),
                                                  '[aeiouy]+')), 1)
               AS BIGINT) AS syllables
      FROM documents)
    SELECT doc_id, words, sentences, syllables,
           round(206.835 - 1.015 * (words / CAST(sentences AS DOUBLE))
                 - 84.6 * (syllables / CAST(words AS DOUBLE)), 4)
             AS flesch_score
    FROM c WHERE words > 0
    """,
)
def readability_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-style readability per document from three deterministic
    regexp counts (words = alnum runs, sentences = terminal-punctuation
    runs floored at 1, syllables ≈ vowel groups floored at 1) — the
    classic quality-scoring axis next to `text_quality_documents`'s
    length/stopword ratios (C4-style filters cut on exactly these
    shapes: too-low readability = boilerplate/code, implausibly high =
    word salad). Pure JVM-side regexp counting, shuffle-free; the score
    arithmetic is two divisions of exact integers, identical in both
    engines, rounded at 4.
    """
    d = table(spark, sf, "documents")
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z0-9]+"), 0)).cast(
        "bigint"
    )
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("bigint")
    syllables = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
        ),
        F.lit(1),
    ).cast("bigint")
    c = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    return c.filter(F.col("words") > 0).select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("words") / F.col("sentences").cast("double"))
            - F.lit(84.6)
            * (F.col("syllables") / F.col("words").cast("double")),
            4,
        ).alias("flesch_score"),
    )


# --------------------------------------------------------------------------
# Quantile (rank) normalization — distribution-free feature scaling
# --------------------------------------------------------------------------
@query(
    "quantile_normalized_values_events",
    """
    SELECT event_id, event_type, round(value, 4) AS value,
           round(percent_rank() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id), 6) AS pr
    FROM events WHERE value IS NOT NULL
    """,
)
def quantile_normalized_values_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group quantile normalization: each value mapped to its
    percent rank within its event type — the distribution-free scaling
    that makes heavy-tailed features comparable across groups (the
    rank-based sibling of `minmax_scaled_embedding_elements` and the
    z-score queries; immune to outliers by construction). percent_rank
    is (rank-1)/(n-1) over exact integer ranks with an event_id
    tie-break — deterministic and engine-identical before the one
    final division. The window partitions by event_type, so each group
    sorts independently — shards across the cluster like the Gini rank
    window.
    """
    ev = table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )

"""Relational / TPC-H / sketch / snapshot-lake queries (SURVEY §2.1–2.7).
Mechanically moved out of the former queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import load, local_frame
from codex_africanus_spark.operators import skew as skew_op  # noqa: E402
from codex_africanus_spark.operators import sketches as sketch_op  # noqa: E402
from codex_africanus_spark.sources import tables as tables_mod  # noqa: E402
from codex_africanus_spark.sources import snapshot as snap_mod  # noqa: E402
from codex_africanus_spark.operators import corpus_stats as cstat_op  # noqa: E402

from ._core import (  # noqa: F401
    _with_ms,
    register,
)

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)                 AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
               * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT)      AS sum_charge_c6,
           COUNT(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 with exact integer-cents aggregation (order-independent)."""
    li = load(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc)).alias("sum_disc_c4"),
            F.sum(cents * (100 - disc) * (100 + tax)).alias("sum_charge_c6"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
           strftime(o.o_orderdate, '%Y-%m-%d')                    AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
    ORDER BY revenue_c4 DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter broadcast into the fact join."""
    c = load(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp_ntz")
    )
    l = load(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.sum(rev).alias("revenue_c4"))
        .select("o_orderkey", "revenue_c4", "orderdate")
        .orderBy(F.col("revenue_c4").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY revenue_c4 DESC, n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style snowflake join; dims broadcast, fact never shuffled
    until the final small groupBy."""
    l = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    s = load(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load(spark, "nation", sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, "region", sf_dir).filter(F.col("r_name").isin("ASIA", "EUROPE"))
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_c4"))
        .orderBy(F.col("revenue_c4").desc(), "n_name")
    )


@register(
    "topk_parts_by_revenue",
    """
    SELECT l_partkey,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_partkey
    ORDER BY revenue_cents DESC, l_partkey
    LIMIT 25
    """,
)
def topk_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (SURVEY §2.6) — TakeOrderedAndProject, no full sort."""
    li = load(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.groupBy("l_partkey")
        .agg(F.sum(cents).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue_cents").desc(), "l_partkey")
        .limit(25)
    )


@register(
    "union_source_catalogues",
    _with_ms(
        """
        SELECT source_id, source_type, flux_i FROM (
          SELECT source_id, source_type, flux_i FROM src WHERE source_type = 'POINT'
          UNION ALL
          SELECT source_id, source_type, flux_i FROM src WHERE source_type = 'GAUSSIAN'
        ) u ORDER BY source_id
        """
    ),
)
def union_source_catalogues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point+gaussian catalogue concat (unionByName, SURVEY §2.7;
    reference: predict.py:566-571 summing per-type outputs)."""
    src = tpch_ms.source_table(spark, sf_dir)
    pts = src.filter(F.col("source_type") == "POINT")
    gauss = src.filter(F.col("source_type") == "GAUSSIAN")
    return (
        pts.unionByName(gauss)
        .select("source_id", "source_type", "flux_i")
        .orderBy("source_id")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
               * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure selective scan+agg — every predicate must reach the
    parquet reader (PushedFilters)."""
    li = load(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round(F.col("l_discount") * 100).cast("long")
        ).alias("revenue_c4"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_c4 DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: returned-item revenue ranking."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    l = load(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load(spark, "nation", sf_dir)
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("revenue_c4"))
        .orderBy(F.col("revenue_c4").desc(), "c_custkey")
        .limit(20)
    )


_SALTED_ORACLE = _with_ms(
    """
    SELECT antenna1, antenna2,
           CAST(SUM(CAST(ROUND(vis_re * 100) AS BIGINT)) AS BIGINT) AS vis_re_q,
           CAST(SUM(CAST(ROUND(weight * 100) AS BIGINT)) AS BIGINT) AS weight_q,
           COUNT(*) AS n_rows
    FROM vis GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("salted_skew_safe_aggregate", _SALTED_ORACLE)
def salted_skew_safe_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the (skew-prone) baseline key —
    byte-identical to the direct groupBy because the aggregates are
    exact integers (the 100 TB hot-key strategy, operators/skew.py)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    from codex_africanus_spark.functions.deterministic import quantize

    return skew_op.salted_sum(
        vis,
        keys=["antenna1", "antenna2"],
        sums={
            "vis_re_q": quantize(F.col("vis_re"), 100.0),
            "weight_q": quantize(F.col("weight"), 100.0),
        },
        spread_col="row_id",
    ).orderBy("antenna1", "antenna2")


@register(
    "distinct_user_counts",
    _with_ms(
        """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM ev GROUP BY event_type ORDER BY event_type
        """
    ),
)
def distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand+two-phase under the hood); the
    approx_count_distinct sketch variant is the scale path — exact here
    so the oracle can hash-match."""
    ev = tpch_ms.events_table(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "q4_order_priority_exists",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: EXISTS → left-semi join (no fact-row duplication)."""
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    l = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "parts_never_returned_anti",
    """
    SELECT p.p_brand, COUNT(*) AS n_parts
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = 1
    )
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def parts_never_returned_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join: parts supplier 1 never shipped."""
    p = load(spark, "part", sf_dir)
    l = load(spark, "lineitem", sf_dir).filter(F.col("l_suppkey") == 1).select(
        "l_partkey"
    )
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("p_brand")
    )


_KMV_ORACLE = sketch_op.KMV_SQL(
    "orders", ["o_orderpriority"], "CAST(o_custkey AS VARCHAR)", k=64
)


@register("kmv_theta_distinct_customers", _KMV_ORACLE)
def kmv_theta_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta-style) distinct-customer estimate per order priority —
    a mergeable sketch whose order-statistic definition makes it exactly
    reproducible across engines (oracle matches the ESTIMATE, not just
    the true count). ROADMAP #6."""
    orders = load(spark, "orders", sf_dir)
    return sketch_op.kmv_distinct(
        orders, ["o_orderpriority"], F.col("o_custkey").cast("string"), k=64
    ).orderBy("o_orderpriority")


@register(
    "kmv_merge_rollup_customers",
    sketch_op.KMV_GLOBAL_SQL("orders", "CAST(o_custkey AS VARCHAR)", k=64),
)
def kmv_merge_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE: per-priority sketches pooled into the global
    distinct-customer estimate. k-min(∪ sets) == k-min(∪ k-min sets), so
    the oracle's direct global computation matches the rollup exactly —
    the lossless re-aggregation that makes sketches the 100 TB answer."""
    orders = load(spark, "orders", sf_dir)
    return sketch_op.kmv_merge_global(
        orders, ["o_orderpriority"], F.col("o_custkey").cast("string"), k=64
    )


_KLL_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"


_KLL_ORACLE = f"""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             LEAST({_KLL_CENTS} // 50000, 199) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2, 3
    ), c AS (
      SELECT l_returnflag, l_linestatus, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
                                 ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus) AS BIGINT) AS n
      FROM s
    )
    SELECT l_returnflag, l_linestatus, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN (bucket + 1) * 50000 END) AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN cum >= (19 * n + 19) // 20
                         THEN (bucket + 1) * 50000 END) AS BIGINT) AS p95_cents
    FROM c GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


_KLL_QUANTILES = [("p50_cents", 1, 2), ("p95_cents", 19, 20)]


@register("kll_grid_quantiles_price", _KLL_ORACLE)
def kll_grid_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (the KLL role, ROADMAP #6): per-group
    fixed-grid histogram in integer cents → rank-crossing estimate with
    value error ≤ $500. Deterministic ⇒ exactly oracled; sketch state is
    ≤ 200 rows per group regardless of cardinality."""
    li = load(spark, "lineitem", sf_dir)
    sk = sketch_op.grid_quantile_sketch(
        li, ["l_returnflag", "l_linestatus"], _KLL_CENTS, 50000, 200
    )
    return sketch_op.grid_quantile_estimate(
        sk, ["l_returnflag", "l_linestatus"], _KLL_QUANTILES, 50000
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "kll_quantile_rollup",
    f"""
    WITH s AS (
      SELECT l_returnflag,
             LEAST({_KLL_CENTS} // 50000, 199) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM s
    )
    SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN (bucket + 1) * 50000 END) AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN cum >= (19 * n + 19) // 20
                         THEN (bucket + 1) * 50000 END) AS BIGINT) AS p95_cents
    FROM c GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch MERGE: per-(returnflag, linestatus, supplier-shard)
    sub-sketches count-summed up to per-returnflag, then estimated. The
    oracle computes the coarse sketch DIRECTLY from the fact table —
    equality proves the rollup is lossless (bit-equal merge), the
    re-aggregation-without-rescan property at 100 TB."""
    li = load(spark, "lineitem", sf_dir).withColumn(
        "supp_shard", (F.col("l_suppkey") % 7).cast("int")
    )
    fine = sketch_op.grid_quantile_sketch(
        li, ["l_returnflag", "l_linestatus", "supp_shard"], _KLL_CENTS, 50000, 200
    )
    merged = sketch_op.grid_quantile_rollup(fine, ["l_returnflag"])
    return sketch_op.grid_quantile_estimate(
        merged, ["l_returnflag"], _KLL_QUANTILES, 50000
    ).orderBy("l_returnflag")


_HLL_ORACLE = sketch_op.HLL_SQL(
    "lineitem", ["l_returnflag"], "CAST(l_partkey AS VARCHAR)"
)


@register("hll_sketch_distinct_parts", _HLL_ORACLE)
def hll_sketch_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-level HyperLogLog distinct l_partkey per returnflag:
    64 registers from hash60 bucket/rank-of-first-one, harmonic-mean
    estimate. Bit-deterministic (integer register state + one IEEE
    division) ⇒ the DuckDB oracle reproduces the ESTIMATE exactly. At
    100 TB each map task ships ≤ 64 register rows per group, never the
    key set. Error bound vs true count asserted in tests/test_sketches.py."""
    li = load(spark, "lineitem", sf_dir)
    return sketch_op.hll_distinct(
        li, ["l_returnflag"], F.col("l_partkey").cast("string")
    ).orderBy("l_returnflag")


@register("hll_union_rollup", _HLL_ORACLE)
def hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch-union rollup: per-(returnflag, linestatus) register
    states merged to per-returnflag by element-wise register MAX —
    re-aggregation without rescanning the fact table. The merge is
    LOSSLESS (max associativity), so the oracle's direct per-returnflag
    sketch matches the rollup bit-exactly — the same oracle discipline
    as kmv_merge_rollup_customers."""
    li = load(spark, "lineitem", sf_dir)
    return sketch_op.hll_rollup_union(
        li,
        ["l_returnflag", "l_linestatus"],
        ["l_returnflag"],
        F.col("l_partkey").cast("string"),
    ).orderBy("l_returnflag")


@register(
    "exact_quantiles_price",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def exact_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark percentile ==
    DuckDB quantile_cont, both the linear-interpolation 'type 7'
    definition). The exact tier of the quantile family — the scale path
    is approx_percentile_price below."""
    li = load(spark, "lineitem", sf_dir)
    aggs = [
        F.round(F.expr(f"percentile(l_extendedprice, {q})"), 6).alias(f"p{int(q*100)}")
        for q in (0.25, 0.50, 0.75, 0.99)
    ]
    return li.groupBy("l_returnflag").agg(*aggs).orderBy("l_returnflag")


# Approximate percentiles via the deterministic grid sketch (step $100
# in integer cents, 1200 buckets ⇒ value error ≤ $100) — unlike Spark's
# Greenwald-Khanna approx_percentile, whose merge state is engine-opaque
# and partition-order-dependent, this mergeable sketch is exactly
# reproducible in DuckDB. GK itself stays exercised (error-bound vs the
# exact tier) in tests/test_sketches.py.
_APPROX_PCT_STEP = 10000


_APPROX_PCT_NB = 1200


_APPROX_PCT_QS = [("p25_cents", 1, 4), ("p50_cents", 1, 2),
                  ("p75_cents", 3, 4), ("p99_cents", 99, 100)]


_APPROX_PCT_ORACLE = f"""
    WITH s AS (
      SELECT l_returnflag,
             LEAST({_KLL_CENTS} // {_APPROX_PCT_STEP}, {_APPROX_PCT_NB - 1}) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM s
    )
    SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (1 * n + 3) // 4
                         THEN (bucket + 1) * {_APPROX_PCT_STEP} END) AS BIGINT) AS p25_cents,
           CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN (bucket + 1) * {_APPROX_PCT_STEP} END) AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN cum >= (3 * n + 3) // 4
                         THEN (bucket + 1) * {_APPROX_PCT_STEP} END) AS BIGINT) AS p75_cents,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100
                         THEN (bucket + 1) * {_APPROX_PCT_STEP} END) AS BIGINT) AS p99_cents
    FROM c GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@register("approx_percentile_price", _APPROX_PCT_ORACLE)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles from the mergeable fixed-grid
    sketch ($100 buckets over integer cents): bounded state per group,
    count-sum merge, value error ≤ one step — the 100 TB path where
    exact percentile would sort each group, with an EXACT DuckDB oracle
    (deterministic, unlike GK's partition-order-dependent state)."""
    li = load(spark, "lineitem", sf_dir)
    sk = sketch_op.grid_quantile_sketch(
        li, ["l_returnflag"], _KLL_CENTS, _APPROX_PCT_STEP, _APPROX_PCT_NB
    )
    return sketch_op.grid_quantile_estimate(
        sk, ["l_returnflag"], _APPROX_PCT_QS, _APPROX_PCT_STEP
    ).orderBy("l_returnflag")


@register(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, o.o_orderkey, CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey
    HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 150
    ORDER BY total_qty DESC, o.o_orderkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING over a 3-way join (the
    group-filter-after-agg pattern; dims broadcast, one fact shuffle)."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


_C4 = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
       " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))")


@register(
    "q7_volume_shipping",
    f"""
    SELECT sn.n_nationkey AS supp_nation, cn.n_nationkey AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_C4}) AS BIGINT) AS revenue_c4
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_nationkey = 3 AND cn.n_nationkey = 9)
        OR (sn.n_nationkey = 9 AND cn.n_nationkey = 3))
      AND l.l_shipdate >= DATE '1995-01-01' AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume through a 6-way join
    (two broadcast nation lookups, supplier/customer dims broadcast, one
    fact shuffle for the final aggregate); exact integer-cents⁴ revenue."""
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    sn = n.select(F.col("n_nationkey").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cust_nation"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("supp_nation"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cust_nation"))
        .filter(
            ((F.col("supp_nation") == 3) & (F.col("cust_nation") == 9))
            | ((F.col("supp_nation") == 9) & (F.col("cust_nation") == 3))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(c4).alias("revenue_c4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    f"""
    WITH all_lines AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_C4} AS volume_c4,
             s.s_nationkey AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE p.p_type = 'STANDARD' AND o.o_orderdate >= DATE '1995-01-01'
        AND o.o_orderdate < DATE '1997-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 9 THEN volume_c4 ELSE 0 END) AS BIGINT) AS nation_c4,
           CAST(SUM(volume_c4) AS BIGINT) AS total_c4,
           round(CAST(SUM(CASE WHEN supp_nation = 9 THEN volume_c4 ELSE 0 END) AS DOUBLE)
                 / SUM(volume_c4), 9) AS mkt_share
    FROM all_lines GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's market share of a part-type segment
    (STANDARD, the testdata's type vocabulary) per order year —
    conditional-aggregate ratio over a 4-way join with all dims
    broadcast; exact integer volumes, deterministic share division."""
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    p = load(spark, "part", sf_dir).filter(F.col("p_type") == "STANDARD")
    s = load(spark, "supplier", sf_dir)
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    nat = F.when(F.col("s_nationkey") == 9, c4).otherwise(F.lit(0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(nat).alias("nation_c4"),
            F.sum(c4).alias("total_c4"),
            F.round(
                F.sum(nat).cast("double") / F.sum(c4), 9
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation over a filtered LEFT join
    (customers with zero orders stay in the distribution)."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q14_promo_revenue",
    f"""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_C4} ELSE 0 END) AS BIGINT) AS promo_c4,
           CAST(SUM({_C4}) AS BIGINT) AS total_c4,
           round(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_C4} ELSE 0 END)
                 / SUM({_C4}), 9) AS promo_share_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1995-09-01' AND l.l_shipdate < DATE '1995-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a broadcast part
    join; the share divides two exact integers (deterministic double)."""
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = load(spark, "part", sf_dir)
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    promo = F.when(F.col("p_type").like("PROMO%"), c4).otherwise(F.lit(0))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.sum(promo).alias("promo_c4"),
        F.sum(c4).alias("total_c4"),
        F.round(
            F.lit(100.0) * F.sum(promo) / F.sum(c4), 9
        ).alias("promo_share_pct"),
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, CAST(SUM({_C4}) AS BIGINT) AS total_revenue_c4
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_c4
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_c4 = (SELECT MAX(total_revenue_c4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar-subquery max against a derived revenue
    view (exact integer revenue makes the max well-defined — ties kept)."""
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    c4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(c4).alias("total_revenue_c4")
    )
    best = rev.agg(F.max("total_revenue_c4").alias("m"))
    s = load(spark, "supplier", sf_dir)
    return (
        rev.join(F.broadcast(best), rev.total_revenue_c4 == F.col("m"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_c4")
        .orderBy("s_suppkey")
    )


_PS_CTE = """
  ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           (l_partkey * 31 + l_suppkey * 17) % 100000 AS ps_supplycost_c,
           (l_partkey * 7 + l_suppkey * 13) % 1000    AS ps_availqty
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  )
"""


def _ps_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp reconstruction: distinct (part, supplier) pairs from the
    fact table with key-derived cost/qty (engine-independent integers).
    One distinct-shuffle at supply-relationship cardinality."""
    li = load(spark, "lineitem", sf_dir)
    return (
        li.select("l_partkey", "l_suppkey").distinct()
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            ((F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 100000)
            .alias("ps_supplycost_c"),
            ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 1000)
            .alias("ps_availqty"),
        )
    )


def _cents():
    return F.round(F.col("l_extendedprice") * 100).cast("long")


def _disc_c():
    return F.round(F.col("l_discount") * 100).cast("long")


@register(
    "q2_min_cost_supplier",
    f"""
    WITH {_PS_CTE},
    eligible AS (
      SELECT p.p_partkey, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
             ps.ps_supplycost_c
      FROM ps
      JOIN part p     ON p.p_partkey = ps.ps_partkey
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size = 15 AND p.p_type = 'STANDARD'
    ),
    mc AS (SELECT p_partkey, MIN(ps_supplycost_c) AS min_cost_c
           FROM eligible GROUP BY p_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey,
           e.ps_supplycost_c AS supplycost_c
    FROM eligible e JOIN mc ON mc.p_partkey = e.p_partkey
                           AND e.ps_supplycost_c = mc.min_cost_c
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated min-cost subquery over the supply relation,
    rewritten as group-min + equality join (what Catalyst does to the
    subquery anyway); dims broadcast."""
    ps = _ps_frame(spark, sf_dir)
    p = load(spark, "part", sf_dir).filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    eligible = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name",
                "ps_supplycost_c")
    )
    mc = eligible.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost_c").alias("min_cost_c")
    )
    return (
        eligible.join(
            F.broadcast(mc),
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost_c") == F.col("min_cost_c")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey",
                F.col("ps_supplycost_c").alias("supplycost_c"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_profit",
    f"""
    WITH {_PS_CTE}
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                    - ps.ps_supplycost_c * 100 * CAST(l.l_quantity AS BIGINT))
                AS BIGINT) AS profit_c4
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN ps         ON ps.ps_partkey = l.l_partkey
                   AND ps.ps_suppkey = l.l_suppkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit (revenue − supply cost) per nation per year across
    a five-way join; part/supplier/nation broadcast, orders co-keyed on
    orderkey, ps broadcast (supply-relationship cardinality ≪ fact)."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    o = load(spark, "orders", sf_dir)
    p = load(spark, "part", sf_dir).filter(F.col("p_name").like("%red%"))
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    ps = _ps_frame(spark, sf_dir)
    profit = (
        _cents() * (F.lit(100) - _disc_c())
        - F.col("ps_supplycost_c") * 100 * F.col("l_quantity").cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(ps),
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).alias("profit_c4"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_stock",
    f"""
    WITH {_PS_CTE},
    natps AS (
      SELECT ps.ps_partkey,
             CAST(ps.ps_supplycost_c * ps.ps_availqty AS BIGINT) AS val_c
      FROM ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      WHERE s.s_nationkey = 7
    ),
    tot AS (SELECT CAST(SUM(val_c) AS BIGINT) AS total_c FROM natps),
    grp AS (SELECT ps_partkey, CAST(SUM(val_c) AS BIGINT) AS value_c
            FROM natps GROUP BY ps_partkey)
    SELECT g.ps_partkey, g.value_c
    FROM grp g, tot t
    WHERE g.value_c * 1000 > t.total_c
    ORDER BY g.value_c DESC, g.ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part stock value filtered against a scalar fraction
    of the global total — the scalar aggregate is a 1-row broadcast cross
    join; the comparison is an exact integer cross-multiply."""
    ps = _ps_frame(spark, sf_dir)
    s = load(spark, "supplier", sf_dir).filter(F.col("s_nationkey") == 7)
    natps = ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey).select(
        "ps_partkey",
        (F.col("ps_supplycost_c") * F.col("ps_availqty")).alias("val_c"),
    )
    grp = natps.groupBy("ps_partkey").agg(F.sum("val_c").alias("value_c"))
    tot = natps.agg(F.sum("val_c").alias("total_c"))
    return (
        grp.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select("ps_partkey", "value_c")
        .orderBy(F.col("value_c").desc(), "ps_partkey")
    )


@register(
    "q12_shipping_delay",
    """
    SELECT CAST(FLOOR(date_diff('day', o.o_orderdate, l.l_shipdate) / 30.0)
                AS BIGINT) AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (priority × lateness conditional counts); the schema has
    no l_shipmode/l_receiptdate, so the class axis is the ship-vs-order
    delay bucket. One join keyed on orderkey + one agg at bucket
    cardinality."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    o = load(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.floor(F.datediff("l_shipdate", "o_orderdate") / 30.0)
            .alias("delay_bucket")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 100.0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part class with an
    exclusion anti-join (the reference's complaints filter becomes an
    acctbal filter on the reduced schema). Anti side broadcast."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    p = load(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 100.0)
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS small_rev_c,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa     ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND CAST(l.l_quantity AS BIGINT) * 5 * pa.cnt < pa.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: rows below 20% of their part's average quantity —
    the correlated avg subquery becomes a per-part aggregate join, and
    the 0.2·avg comparison an integer cross-multiply (qty·5·cnt <
    sum_qty), so the filter is exact."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    p = load(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#3")
    pa = (
        load(spark, "lineitem", sf_dir)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(pa.withColumnRenamed("l_partkey", "pa_partkey")),
              li.l_partkey == F.col("pa_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("cnt") < F.col("sum_qty")
        )
        .agg(
            F.sum(_cents()).alias("small_rev_c"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q19_disjunctive_pushdown",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_c4,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs across both join sides. The part-only
    conjuncts (brand OR-set) are pushed below the join by Catalyst; the
    mixed ones evaluate post-join — assert via .explain that the scan of
    part carries a brand IN filter."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    p = load(spark, "part", sf_dir)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 40))
    )
    return j.filter(cond).agg(
        F.sum(_cents() * (F.lit(100) - _disc_c())).alias("revenue_c4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q20_promo_part_suppliers",
    f"""
    WITH {_PS_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey
      FROM ps
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND CAST(ps.ps_availqty AS BIGINT) * 2 > sh.sq
    ) AND s.s_nationkey < 13
    ORDER BY s.s_name
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN subqueries → a chain of semi-joins (part-type
    semi into ps, shipped-quantity join with the half-stock integer
    comparison, then semi into supplier)."""
    ps = _ps_frame(spark, sf_dir)
    promo = load(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    li = load(spark, "lineitem", sf_dir)
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
    )
    qual = (
        ps.join(F.broadcast(promo), ps.ps_partkey == promo.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty").cast("long") * 2 > F.col("sq"))
        .select("ps_suppkey")
    )
    s = load(spark, "supplier", sf_dir).filter(F.col("s_nationkey") < 13)
    return (
        s.join(qual, s.s_suppkey == qual.ps_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_blocking_returns",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o   ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_blocking_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the correlated EXISTS / NOT EXISTS pair is rewritten as
    one per-order aggregate (distinct suppliers, distinct returning
    suppliers) joined back — one extra agg at order cardinality instead
    of two correlated scans, the scalable form of the same predicate:
    EXISTS(other supp) ⟺ n_supps > 1; NOT EXISTS(other R supp) ⟺
    n_ret_supps = 1 (this row's supplier returned)."""
    li = tables_mod.fan_out(load(spark, "lineitem", sf_dir))
    per_order = li.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supps"),
    )
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    s = load(spark, "supplier", sf_dir)
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(per_order, li.l_orderkey == F.col("po_orderkey"))
        .filter((F.col("n_supps") > 1) & (F.col("n_ret_supps") == 1))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_custkey % 7 AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS totacctbal_c
    FROM customer c, avg_bal a
    WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * a.n > a.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1 ORDER BY 1
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average balance (scalar subquery → 1-row
    broadcast, integer cross-multiplied compare) + NOT EXISTS recent
    orders (anti-join; every customer has SOME order in this data, so
    'idle' means none since 2000); country code derived from the key on
    the reduced schema."""
    c = load(spark, "customer", sf_dir)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n"))
    )
    o = (
        load(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(cents * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cents).alias("totacctbal_c"),
        )
        .orderBy("cntrycode")
    )


_DV_MOR_ORACLE = """
  WITH versions AS (
    SELECT 2 AS version, l_returnflag, l_quantity FROM lineitem
    UNION ALL
    SELECT 3 AS version, l_returnflag, l_quantity FROM lineitem
    WHERE NOT (l_returnflag = 'R')
    UNION ALL
    SELECT 4 AS version, l_returnflag, l_quantity FROM lineitem
    WHERE NOT (l_returnflag = 'R') AND NOT (l_quantity > 30)
  )
  SELECT version, l_returnflag,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c2
  FROM versions
  GROUP BY version, l_returnflag
  ORDER BY version, l_returnflag
"""


@register("snapshot_dv_merge_on_read", _DV_MOR_ORACLE)
def snapshot_dv_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletion vectors (r13 — the Iceberg
    positional-delete / Delta deletion-vector shape the sink's
    copy-on-write MERGE lacked): v1/v2 build the table by appends, then
    two `commit_deletes` stack row-position tombstones (v3 deletes the
    returned rows, v4 the high-quantity rows) WITHOUT rewriting a
    single data file. Reads at v2/v3/v4 replay the same log — the DV
    set anti-joins away tombstoned rows at scan time, and the pre-delete
    version still time-travels intact. The oracle reconstructs each
    version's surviving row set from the defining predicates.
    At 100 TB: a delete costs O(matching rows) write IO (the DV
    parquet), not O(touched files) rewrite IO; `compact()` is the PURGE
    that folds DVs back into the data files."""
    import os
    import shutil
    import tempfile

    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    root = f"{tempfile.gettempdir()}/cas_snapshot/dv_mor_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    snap_mod.commit(li.filter(F.col("l_linenumber") <= 4), root, mode="append")
    snap_mod.commit(li.filter(F.col("l_linenumber") > 4), root, mode="append")
    snap_mod.commit_deletes(spark, root, "l_returnflag = 'R'")      # v3
    snap_mod.commit_deletes(spark, root, "l_quantity > 30")         # v4
    reads = [
        snap_mod.read_snapshot(spark, root, version=v)
        .select(F.lit(v).alias("version"), "l_returnflag", "l_quantity")
        for v in (2, 3, 4)
    ]
    allv = reads[0].unionByName(reads[1]).unionByName(reads[2])
    return (
        allv.groupBy("version", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_c2"),
        )
        .orderBy("version", "l_returnflag")
    )


_SNAPSHOT_ORACLE = """
  WITH versions AS (
    SELECT 1 AS version, l_returnflag, l_quantity
    FROM lineitem WHERE l_linenumber <= 2
    UNION ALL
    SELECT 2 AS version, l_returnflag, l_quantity FROM lineitem
    UNION ALL
    SELECT 3 AS version, l_returnflag, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
  )
  SELECT version, l_returnflag,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c2
  FROM versions
  GROUP BY version, l_returnflag
  ORDER BY version, l_returnflag
"""


@register("snapshot_sink_time_travel", _SNAPSHOT_ORACLE)
def snapshot_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional snapshot sink round-trip with time travel (the
    Delta/Iceberg-shaped replacement for the reference's locked in-place
    MS writes, xds_to_table in examples/predict.py:576-586):

    v1 overwrite = lineitem rows with l_linenumber <= 2;
    v2 append    = the remaining rows (head snapshot == full lineitem);
    v3 overwrite = only the returned ('R') rows.

    All three retained versions are then read back through the manifest
    log — each a pinned historical snapshot — and re-aggregated.
    Matching the oracle (which recomputes each version's row set straight
    from lineitem) proves commit atomicity bookkeeping, append/overwrite
    log replay, and time-travel reads preserve values and multiplicity.
    At 100 TB: commits move manifest metadata only; readers plan from the
    manifest (no data-tree listing); see sources/snapshot.py."""
    import shutil
    import tempfile

    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    root = f"{tempfile.gettempdir()}/cas_snapshot/lineitem"
    # deterministic version numbers per run; fixed per-boot path (no
    # mkdtemp leak — same policy as ms_sink_roundtrip)
    shutil.rmtree(root, ignore_errors=True)
    snap_mod.commit(li.filter(F.col("l_linenumber") <= 2), root, mode="overwrite")
    snap_mod.commit(li.filter(F.col("l_linenumber") > 2), root, mode="append")
    snap_mod.commit(li.filter(F.col("l_returnflag") == "R"), root, mode="overwrite")

    reads = [
        snap_mod.read_snapshot(spark, root, version=v)
        .select(F.lit(v).alias("version"), "l_returnflag", "l_quantity")
        for v in (1, 2, 3)
    ]
    allv = reads[0].unionByName(reads[1]).unionByName(reads[2])
    return (
        allv.groupBy("version", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_c2"),
        )
        .orderBy("version", "l_returnflag")
    )


@register("bloom_source_overlap", cstat_op.BLOOM_OVERLAP_SQL())
def bloom_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 1008-bit Bloom signatures (bit_or-aggregated 63-bit
    words, k=4 salted hashes per doc) compared pairwise by AND-popcount —
    the constant-size sketch twin of source_overlap_matrix: 16 BIGINTs
    per source regardless of corpus size, partial-agg-native like the
    HLL registers."""
    return cstat_op.bloom_source_overlap(load(spark, "documents", sf_dir))


_SNAPSHOT_MERGE_ORACLE = """
  WITH base AS (
    SELECT o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c2,
           CASE WHEN o_orderkey % 10 = 0 THEN 'upd' ELSE 'base' END AS tag,
           CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS mult
    FROM orders
  ),
  merged AS (
    SELECT tag, price_c2 * mult AS price_c2 FROM base
    UNION ALL
    SELECT 'ins' AS tag, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c2
    FROM orders WHERE o_orderkey % 1000 = 1
  )
  SELECT tag, COUNT(*) AS n_rows, CAST(SUM(price_c2) AS BIGINT) AS price_c2
  FROM merged GROUP BY tag ORDER BY tag
"""


@register("snapshot_merge_upsert", _SNAPSHOT_MERGE_ORACLE)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the snapshot table with file-range pruning: base =
    all orders (range-partitioned by key so file footers carry disjoint
    key ranges), updates double the price of every key % 10 == 0 row,
    inserts add shifted-key copies of key % 1000 == 1 rows. The merged
    snapshot is read back and rolled up by row provenance. Matching the
    oracle (recomputed straight from orders) proves upsert row semantics
    through the manifest log; the pruning itself is plan-asserted in
    tests/test_snapshot_sink.py."""
    import shutil
    import tempfile

    orders = load(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c2"),
    )
    base = orders.withColumn("tag", F.lit("base"))
    root = f"{tempfile.gettempdir()}/cas_snapshot/orders_merge"
    shutil.rmtree(root, ignore_errors=True)
    snap_mod.commit_with_stats(
        base.repartitionByRange(8, "k"), root, stats_cols=["k"],
        mode="overwrite",
    )
    upd = orders.filter(F.col("k") % 10 == 0).select(
        "k", (F.col("price_c2") * 2).alias("price_c2"), F.lit("upd").alias("tag")
    )
    # Insert keys live in the NEGATIVE key space: order keys are
    # positive at every scale, so -k-1 can never collide with an
    # existing base key. (r11 sf1.0 sweep fork: the old +1e9 shift
    # collided with gen_sf1's copy shift — also 1e9 — turning 90% of
    # the "inserts" into silent updates that consumed base rows.)
    ins = orders.filter(F.col("k") % 1000 == 1).select(
        (-F.col("k") - 1).alias("k"), "price_c2",
        F.lit("ins").alias("tag"),
    )
    snap_mod.merge_into(spark, root, upd.unionByName(ins), key="k")
    return (
        snap_mod.read_snapshot(spark, root)
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_c2").alias("price_c2"),
        )
        .orderBy("tag")
    )


@register(
    "kmv_intersection_customers",
    sketch_op.KMV_INTERSECT_SQL(
        "orders", "o_orderpriority", "CAST(o_custkey AS VARCHAR)", k=64
    ),
)
def kmv_intersection_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch intersection: estimated distinct-customer overlap
    between every pair of order priorities, computed from the k=64
    per-segment KMV sketches alone (the pair join touches #segments x k
    rows, never the fact table). Deterministic order statistics ->
    the ESTIMATE itself is exactly oracled."""
    orders = load(spark, "orders", sf_dir)
    return sketch_op.kmv_intersection(
        orders, "o_orderpriority", F.col("o_custkey").cast("string"), k=64
    )


@register(
    "cms_heavy_hitter_users",
    sketch_op.CMS_HEAVY_SQL("events", "user_id", 7000),
)
def cms_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter report THROUGH the Count-Min sketch — the probe
    surface a streaming pipeline actually serves (its stateful twin
    keeps the same 4x1024 cell state across micro-batches): users whose
    CMS estimate clears 0.7% of the event stream, decided by integer
    cross-multiplication so the threshold boundary is exactly oracled;
    true counts ride along to assert the one-sided error."""
    return sketch_op.cms_heavy_hitters(
        load(spark, "events", sf_dir), "user_id", ppm_threshold=7000
    )


_ZORDER_BOX = (120, 140, 60, 90)  # u_cell/v_cell box (cells = floor(val)+100)


_ZORDER_FORMAT = 1


_ZORDER_BOX_ORACLE = _with_ms(
    f"""
    SELECT chan,
           COUNT(*) AS n_rows,
           SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) / 1000000.0 AS sum_re,
           SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) / 1000000.0 AS sum_im
    FROM vis
    WHERE CAST(FLOOR(u) AS BIGINT) + 100 BETWEEN {_ZORDER_BOX[0]} AND {_ZORDER_BOX[1]}
      AND CAST(FLOOR(v) AS BIGINT) + 100 BETWEEN {_ZORDER_BOX[2]} AND {_ZORDER_BOX[3]}
    GROUP BY chan
    ORDER BY chan
    """
)


def _zorder_root(sf_dir: str) -> str:
    import hashlib
    import os as _o
    import tempfile as _t

    tag = hashlib.md5(_o.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"{_t.gettempdir()}/cas_zorder_vis/{tag}"


def _ensure_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Commit the visibility table Z-ordered on (u_cell, v_cell) once
    per corpus version (driver-side source digest, the persisted-index
    freshness contract) — build-once, range-query-many."""
    from codex_africanus_spark.operators.similarity import (
        _index_fresh_source,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap

    root = _zorder_root(sf_dir)
    vis = tpch_ms.vis_table(spark, sf_dir)
    src_fp = tables_mod.source_fingerprint(vis)
    consts = f"zorder=u_cell,v_cell;files=16;box_bits=8;fmt={_ZORDER_FORMAT}"
    if not _index_fresh_source(spark, root, _ZORDER_FORMAT, consts, src_fp):
        _tombstone_index_meta(spark, root)
        laid = vis.select(
            "row_id", "chan", "vis_re", "vis_im",
            (F.floor(F.col("u")).cast("long") + 100).alias("u_cell"),
            (F.floor(F.col("v")).cast("long") + 100).alias("v_cell"),
        )
        snap.commit_zordered(
            laid, f"{root}/data", "u_cell", "v_cell", n_files=16, bits=8,
            mode="overwrite",
        )
        _write_index_meta(
            spark, root, (_ZORDER_FORMAT, 0, 0, consts), src_fp
        )
    return root


@register("snapshot_zorder_uv_box_scan", _ZORDER_BOX_ORACLE)
def snapshot_zorder_uv_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered data layout + stats-pruned range scan — the Delta
    OPTIMIZE ZORDER workflow end-to-end: the vis table is committed
    once along the (u_cell, v_cell) Morton curve with per-file min/max
    stats in the manifest; a uv-box query then opens only the files
    whose u_cell footprint intersects the box (manifest-level data
    skipping, no directory layout) and row-filters the rest. The result
    is layout-independent — the DuckDB twin runs the plain box filter —
    so the driver hash-checks it while the pruning itself is locked by
    the skip test (test_round7_fixes)."""
    from codex_africanus_spark.sources import snapshot as snap

    root = _ensure_zorder_layout(spark, sf_dir)
    lo_u, hi_u, lo_v, hi_v = _ZORDER_BOX
    pruned = snap.read_snapshot_where_all(
        spark, f"{root}/data",
        {"u_cell": (lo_u, hi_u), "v_cell": (lo_v, hi_v)},
    )
    from codex_africanus_spark.functions.deterministic import qsum

    return (
        pruned.groupBy("chan")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (qsum(F.col("vis_re"), 1e6) / F.lit(1e6)).alias("sum_re"),
            (qsum(F.col("vis_im"), 1e6) / F.lit(1e6)).alias("sum_im"),
        )
        .orderBy("chan")
    )


_COMPACTION_ORACLE = """
  WITH sub AS (
    SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber <= 4
  ),
  agg AS (
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c2
    FROM sub GROUP BY l_returnflag
  )
  SELECT 'post' AS phase, l_returnflag, n_rows, qty_c2 FROM agg
  UNION ALL
  SELECT 'pre' AS phase, l_returnflag, n_rows, qty_c2 FROM agg
  ORDER BY phase, l_returnflag
"""


@register("snapshot_compaction_scan", _COMPACTION_ORACLE)
def snapshot_compaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style small-file compaction round-trip: four per-batch
    appends build a fragmented snapshot (the streaming small-file
    problem), `compact` rewrites the live file set as one atomic
    overwrite commit, and BOTH the compacted head and the pinned
    pre-compaction version re-aggregate to the identical row set — the
    contract that lets a 100 TB lake compact in the background while
    readers keep planning from whichever manifest they resolved. File
    counts and vacuum behaviour are locked by
    tests/test_snapshot_sink.py; the driver check proves content
    identity through the rewrite."""
    import shutil
    import tempfile

    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    ).filter(F.col("l_linenumber") <= 4)
    root = f"{tempfile.gettempdir()}/cas_snapshot/compaction"
    shutil.rmtree(root, ignore_errors=True)
    for ln in (1, 2, 3, 4):
        snap_mod.commit(
            li.filter(F.col("l_linenumber") == ln),
            root,
            mode="overwrite" if ln == 1 else "append",
        )
    pre_version = snap_mod.latest_version(root)
    snap_mod.compact(spark, root, target_partitions=2)
    pre = snap_mod.read_snapshot(spark, root, version=pre_version).select(
        F.lit("pre").alias("phase"), "l_returnflag", "l_quantity"
    )
    post = snap_mod.read_snapshot(spark, root).select(
        F.lit("post").alias("phase"), "l_returnflag", "l_quantity"
    )
    return (
        pre.unionByName(post)
        .groupBy("phase", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_c2"),
        )
        .orderBy("phase", "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Round 9: additive schema evolution through the snapshot sink — an
# append introduces a NEW column; readers union by name and old files
# surface it as NULL (read_snapshot's mergeSchema contract, the
# Delta/Iceberg schema-evolution shape). Layout-independent aggregate
# so the oracle recomputes straight from lineitem.
# ---------------------------------------------------------------------------

_SCHEMA_EVO_SQL = """
  WITH v1 AS (
    SELECT l_orderkey * 8 + l_linenumber AS row_id, l_quantity
    FROM lineitem WHERE l_orderkey % 7 = 0
  ),
  v2 AS (
    SELECT l_orderkey * 8 + l_linenumber AS row_id, l_quantity,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM lineitem WHERE l_orderkey % 7 = 1
  ),
  unioned AS (
    SELECT row_id, l_quantity, NULL AS price_cents, 0 AS has_price FROM v1
    UNION ALL
    SELECT row_id, l_quantity, price_cents, 1 AS has_price FROM v2
  )
  SELECT has_price,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents,
         CAST(COALESCE(SUM(price_cents), 0) AS BIGINT) AS price_cents_sum
  FROM unioned GROUP BY has_price ORDER BY has_price
"""


def _schema_evo_root(sf_dir: str) -> str:
    import hashlib
    import os as _o
    import tempfile as _t

    tag = hashlib.md5(_o.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"{_t.gettempdir()}/cas_schema_evo/{tag}"


@register("snapshot_schema_evolution_scan", _SCHEMA_EVO_SQL)
def snapshot_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the transactional snapshot
    sink: version 1 commits (row_id, l_quantity); version 2 APPENDS a
    slice that also carries price_cents. read_snapshot unions by name
    (mergeSchema), so v1 rows surface the new column as NULL — the
    Delta/Iceberg additive-evolution contract — and the scan aggregates
    by column presence. The layout is rebuilt only when the source
    digest changes (the persisted-index freshness pattern); results are
    layout-independent, so the oracle recomputes from lineitem."""
    from codex_africanus_spark.operators.similarity import (
        _index_fresh_source,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap

    root = _schema_evo_root(sf_dir)
    li = load(spark, "lineitem", sf_dir)
    src_fp = tables_mod.source_fingerprint(li.select(F.col("l_orderkey").alias("vec_id")))
    consts = "schema_evo=v2-adds-price_cents;fmt=1"
    if not _index_fresh_source(spark, root, 90, consts, src_fp):
        _tombstone_index_meta(spark, root)
        rid = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("row_id")
        v1 = li.filter(F.col("l_orderkey") % 7 == 0).select(
            rid, "l_quantity"
        )
        v2 = li.filter(F.col("l_orderkey") % 7 == 1).select(
            rid, "l_quantity",
            F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias(
                "price_cents"
            ),
        )
        snap.commit(v1, f"{root}/data", mode="overwrite")
        snap.commit(v2, f"{root}/data", mode="append")
        _write_index_meta(spark, root, (90, 0, 0, consts), src_fp)
    df = snap.read_snapshot(spark, f"{root}/data")
    return (
        df.select(
            "l_quantity", "price_cents",
            F.col("price_cents").isNotNull().cast("int").alias("has_price"),
        )
        .groupBy("has_price")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)")).alias(
                "qty_cents"
            ),
            F.coalesce(F.sum("price_cents"), F.lit(0)).alias("price_cents_sum"),
        )
        .orderBy("has_price")
    )


# ---------------------------------------------------------------------------
# r10: snapshot branch + fast-forward merge (Nessie/Iceberg-branch
# shape): a dev branch commits in ISOLATION over the shared data pool,
# the source keeps serving its own head, and a fast-forward merge
# lands the branch's delta as one atomic manifest commit. The census
# proves all three read surfaces: main-before (slice A only), branch
# (A+B), main-after-merge (A+B) — and time travel back to the
# pre-merge main still reads A only. Layout-independent aggregate, so
# the oracle recomputes straight from lineitem slices.
# ---------------------------------------------------------------------------

_BRANCH_MERGE_SQL = """
  WITH a AS (
    SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 5 = 0
  ),
  b AS (
    SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 5 = 1
  ),
  phases AS (
    SELECT 'branch' AS phase, * FROM a
    UNION ALL SELECT 'branch', * FROM b
    UNION ALL SELECT 'main_post', * FROM a
    UNION ALL SELECT 'main_post', * FROM b
    UNION ALL SELECT 'main_pre', * FROM a
  )
  SELECT phase, l_returnflag,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents
  FROM phases GROUP BY phase, l_returnflag
  ORDER BY phase, l_returnflag
"""


def _branch_root(sf_dir: str) -> str:
    import hashlib
    import os as _o
    import tempfile as _t

    tag = hashlib.md5(_o.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"{_t.gettempdir()}/cas_branching/{tag}"


@register("snapshot_branch_merge", _BRANCH_MERGE_SQL)
def snapshot_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch-isolation + fast-forward-merge round-trip through the
    snapshot sink (see module comment). Rebuilt only when the source
    digest changes; the pre-merge main version stays time-travel
    readable after the merge (asserted in tests/test_round10_snapshot
    _branch.py — here the driver checks the three read surfaces)."""
    from codex_africanus_spark.operators.similarity import (
        _index_fresh_source,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap

    root = _branch_root(sf_dir)
    li = load(spark, "lineitem", sf_dir)
    src_fp = tables_mod.source_fingerprint(li.select(F.col("l_orderkey").alias("vec_id")))
    consts = "branching=ff-merge;fmt=1"
    main = f"{root}/main"
    dev = f"{root}/dev"
    if not _index_fresh_source(spark, root, 92, consts, src_fp):
        import shutil

        _tombstone_index_meta(spark, root)
        shutil.rmtree(main, ignore_errors=True)
        shutil.rmtree(dev, ignore_errors=True)
        a = li.filter(F.col("l_orderkey") % 5 == 0).select(
            "l_returnflag", "l_quantity"
        )
        b = li.filter(F.col("l_orderkey") % 5 == 1).select(
            "l_returnflag", "l_quantity"
        )
        snap.commit(a, main, mode="overwrite")          # main v1
        snap.create_branch(main, dev)                   # dev @ base v1
        snap.commit(b, dev, mode="append")              # dev v2 (isolated)
        snap.merge_ff(dev, main)                        # main v2 = A + B
        _write_index_meta(spark, root, (92, 0, 0, consts), src_fp)
    pre = snap.read_snapshot(spark, main, version=1).select(
        F.lit("main_pre").alias("phase"), "l_returnflag", "l_quantity"
    )
    br = snap.read_snapshot(spark, dev).select(
        F.lit("branch").alias("phase"), "l_returnflag", "l_quantity"
    )
    post = snap.read_snapshot(spark, main).select(
        F.lit("main_post").alias("phase"), "l_returnflag", "l_quantity"
    )
    return (
        pre.unionByName(br).unionByName(post)
        .groupBy("phase", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)"))
            .cast("long").alias("qty_cents"),
        )
        .orderBy("phase", "l_returnflag")
    )


# ---------------------------------------------------------------------------
# r10: market-basket brand lift — association-rule mining at brand
# grain (the retail-analytics staple the TPC-H shapes never cover):
# for every unordered brand pair, lift = P(a,b)/(P(a)·P(b)) =
# n_ab·N / (n_a·n_b) over order baskets. Brand-grain keeps the pair
# space ≤ 300 at any corpus size; the per-order distinct collapse is
# the only fact-scale pass. Lift from exact integer counts (products
# < 2^53 — exact in the double division), 1e-6-quantized.
# ---------------------------------------------------------------------------

_BASKET_LIFT_SQL = """
  WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  ),
  norders AS (SELECT COUNT(DISTINCT okey) AS n FROM ob),
  per AS (SELECT brand, COUNT(*) AS n_b FROM ob GROUP BY brand),
  pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
    FROM ob a JOIN ob b ON b.okey = a.okey AND a.brand < b.brand
    GROUP BY a.brand, b.brand
  )
  SELECT p.brand_a, p.brand_b, p.n_ab,
         CAST(ROUND(CAST(p.n_ab AS DOUBLE) * n.n
                    / (CAST(pa.n_b AS DOUBLE) * pb.n_b) * 1000000.0)
              AS BIGINT) AS lift_q6
  FROM pairs p
  JOIN per pa ON pa.brand = p.brand_a
  JOIN per pb ON pb.brand = p.brand_b
  CROSS JOIN norders n
  ORDER BY p.brand_a, p.brand_b
"""


@register("market_basket_brand_lift", _BASKET_LIFT_SQL)
def market_basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-pair lift over order baskets (see _BASKET_LIFT_SQL)."""
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"),
                F.col("p_brand").alias("brand"))
        .distinct()
    )
    norders = ob.agg(F.count_distinct("okey").alias("n"))
    per = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = ob.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, ["okey"])
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    q6 = (
        F.col("n_ab").cast("double") * F.col("n")
        / (F.col("na").cast("double") * F.col("nb"))
    ) * F.lit(1e6)
    return (
        pairs.join(
            F.broadcast(per.select(F.col("brand").alias("brand_a"),
                                   F.col("n_b").alias("na"))), "brand_a")
        .join(
            F.broadcast(per.select(F.col("brand").alias("brand_b"),
                                   F.col("n_b").alias("nb"))), "brand_b")
        .crossJoin(F.broadcast(norders))
        .select(
            "brand_a", "brand_b", "n_ab",
            (q6 + F.when(q6 >= 0, F.lit(0.5)).otherwise(F.lit(-0.5)))
            .cast("long").alias("lift_q6"),
        )
        .orderBy("brand_a", "brand_b")
    )


# ---------------------------------------------------------------------------
# r10: supplier-concentration HHI per brand — the Herfindahl-Hirschman
# index of supplier share within each part brand's shipped quantity
# (procurement-risk analytics: HHI > 0.25 ~ concentrated supply). All
# integer: shares in ppm via truncating division, HHI = Σ share_ppm² in
# ppm² units — order-free exact sums, no float anywhere.
# ---------------------------------------------------------------------------

_HHI_SQL = """
  WITH sq AS (
    SELECT p.p_brand AS brand, l.l_suppkey AS supp,
           CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS q_c
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
  ),
  tot AS (SELECT brand, CAST(SUM(q_c) AS BIGINT) AS t FROM sq GROUP BY brand),
  shares AS (
    SELECT s.brand, CAST(s.q_c * 1000000 // t.t AS BIGINT) AS share_ppm
    FROM sq s JOIN tot t USING (brand)
  )
  SELECT brand,
         COUNT(*) AS n_suppliers,
         CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2,
         CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
  FROM shares GROUP BY brand ORDER BY brand
"""


@register("supplier_concentration_hhi", _HHI_SQL)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand supplier HHI from exact integer quantity shares (see
    _HHI_SQL). One (brand, supplier)-grain collapse; the index runs on
    dimension-grain rows."""
    li = load(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    part = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    sq = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"),
                 F.col("l_suppkey").alias("supp"))
        .agg(F.sum(F.expr("CAST(ROUND(l_quantity * 100) AS BIGINT)"))
             .cast("long").alias("q_c"))
    )
    tot = sq.groupBy("brand").agg(F.sum("q_c").cast("long").alias("t"))
    shares = sq.join(tot, "brand").select(
        "brand", F.expr("CAST(q_c * 1000000 DIV t AS BIGINT)").alias("share_ppm")
    )
    return (
        shares.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("share_ppm") * F.col("share_ppm")).cast("long")
            .alias("hhi_ppm2"),
            F.max("share_ppm").cast("long").alias("top_share_ppm"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# r11: ROLLUP over the Q1 pricing grain — the reference's summary
# tooling reports per-(returnflag, linestatus) AND margin totals in one
# pass (africanus has no analogue; TPC-H tooling does it with repeated
# scans). Spark expresses it as a single Expand + hash-aggregate plan
# (`df.rollup`) — ONE fact scan produces all three grouping levels, and
# the Expand multiplies rows map-side BEFORE the shuffle so the
# exchange carries (3 levels × group cardinality), not 3× the fact.
# GROUPING_ID convention (leftmost key = MSB) verified identical in
# Spark and DuckDB; rolled-up keys are emitted as the 'ALL' sentinel so
# the output carries no NULL group keys.
# ---------------------------------------------------------------------------

@register(
    "lineitem_rollup_pricing",
    """
    SELECT
      CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
        AS returnflag,
      CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
        AS linestatus,
      CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INT) AS gid,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        AS sum_base_cents
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
)
def lineitem_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing grain + rollup margins in one Expand plan (see the
    section comment). Exact integer aggregates at every level."""
    li = load(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
        )
        .select(
            F.when(F.col("g_rf") == 1, F.lit("ALL"))
            .otherwise(F.col("l_returnflag")).alias("returnflag"),
            F.when(F.col("g_ls") == 1, F.lit("ALL"))
            .otherwise(F.col("l_linestatus")).alias("linestatus"),
            "gid", "n_items", "sum_qty", "sum_base_cents",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# r11: non-fast-forward branch merge with conflict detection
# (snapshot.merge_3way — the Delta-WriteSerializable / Nessie-merge
# analogue). The scenario drives BOTH verdicts:
#   commits 1-3: base (all keys, positive), branch appends the returned
#     rows in the NEGATIVE key space, source concurrently appends the
#     linenumber-1 rows (positive) -> key ranges provably disjoint ->
#     merge_3way lands the branch append on the advanced source head.
#   commits 4-6: a second branch and the source both append into the
#     positive key space -> ranges overlap -> merge_3way REFUSES
#     (SnapshotConflictError with the conflicting file pairs); the
#     branch rows must NOT appear in the final table while the source's
#     own append stands.
# The read-back provenance rollup + the conflict census are oracled
# straight from lineitem.
# ---------------------------------------------------------------------------

_MERGE3_ORACLE = """
  WITH li AS (
    SELECT l_returnflag, l_linenumber, l_orderkey,
           CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c2
    FROM lineitem
  )
  SELECT 'base' AS tag, COUNT(*) AS n_rows,
         CAST(SUM(qty_c2) AS BIGINT) AS qty_c2 FROM li
  UNION ALL
  SELECT 'br', COUNT(*), CAST(SUM(qty_c2) AS BIGINT)
  FROM li WHERE l_returnflag = 'R'
  UNION ALL
  SELECT 'src', COUNT(*), CAST(SUM(qty_c2) AS BIGINT)
  FROM li WHERE l_linenumber = 1
  UNION ALL
  SELECT 'src2', COUNT(*), CAST(SUM(qty_c2) AS BIGINT)
  FROM li WHERE l_orderkey % 100 = 9
  UNION ALL
  SELECT 'conflict', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
  ORDER BY tag
"""


@register("snapshot_merge_conflict", _MERGE3_ORACLE)
def snapshot_merge_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive merge_3way through its accept AND refuse paths (see the
    section comment); emit the provenance rollup of the final table
    plus the conflict census."""
    import shutil
    import tempfile

    li = load(spark, "lineitem", sf_dir).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c2"),
        "l_returnflag", "l_linenumber", "l_orderkey",
    )
    root = f"{tempfile.gettempdir()}/cas_snapshot/li_3way"
    br1 = f"{tempfile.gettempdir()}/cas_snapshot/li_3way_br1"
    br2 = f"{tempfile.gettempdir()}/cas_snapshot/li_3way_br2"
    for p in (root, br1, br2):
        shutil.rmtree(p, ignore_errors=True)

    cols = ["k", "qty_c2"]
    base = li.select(*cols).withColumn("tag", F.lit("base"))
    snap_mod.commit_with_stats(base, root, stats_cols=["k"], mode="overwrite")
    snap_mod.create_branch(root, br1)
    br_rows = (
        li.filter(F.col("l_returnflag") == "R")
        .select((-F.col("k") - 1).alias("k"), "qty_c2")
        .withColumn("tag", F.lit("br")).coalesce(1)
    )
    snap_mod.commit_with_stats(br_rows, br1, stats_cols=["k"])
    src_rows = (
        li.filter(F.col("l_linenumber") == 1)
        .select(*cols).withColumn("tag", F.lit("src")).coalesce(1)
    )
    snap_mod.commit_with_stats(src_rows, root, stats_cols=["k"])
    snap_mod.merge_3way(br1, root, key="k")  # disjoint -> lands

    snap_mod.create_branch(root, br2)
    br2_rows = (
        li.filter(F.col("l_orderkey") % 100 == 7)
        .select(*cols).withColumn("tag", F.lit("br2")).coalesce(1)
    )
    snap_mod.commit_with_stats(br2_rows, br2, stats_cols=["k"])
    src2_rows = (
        li.filter(F.col("l_orderkey") % 100 == 9)
        .select(*cols).withColumn("tag", F.lit("src2")).coalesce(1)
    )
    snap_mod.commit_with_stats(src2_rows, root, stats_cols=["k"])
    n_conflict_merges = 0
    try:
        snap_mod.merge_3way(br2, root, key="k")
    except snap_mod.SnapshotConflictError as e:
        assert e.conflicts, "conflict error must carry the pair list"
        n_conflict_merges = 1

    rollup = (
        snap_mod.read_snapshot(spark, root)
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty_c2").cast("long").alias("qty_c2"),
        )
    )
    conflict_row = local_frame(
        spark,
        [("conflict", n_conflict_merges, 0)],
        "tag string, n_rows long, qty_c2 long",
    )
    return rollup.unionByName(conflict_row).orderBy("tag")


# ---------------------------------------------------------------------------
# r11: CDC / incremental consumption through the snapshot log —
# read_changes(from, to] is how a downstream job resumes from its last
# processed version instead of rescanning the table (Delta CDF /
# Iceberg incremental-scan shape; the sink's append manifests ARE the
# changelog). Three consumer checkpoints are replayed over a 4-version
# table; matching the oracle (each window recomputed straight from
# lineitem) proves the manifest ranges slice exactly — no overlap, no
# gap, no double-count.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
  WITH li AS (
    SELECT l_linenumber, CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c2
    FROM lineitem
  )
  SELECT 'after_v2' AS win, COUNT(*) AS n_rows,
         CAST(SUM(qty_c2) AS BIGINT) AS qty_c2
  FROM li WHERE l_linenumber IN (5, 6, 7)
  UNION ALL
  SELECT 'after_v3', COUNT(*), CAST(SUM(qty_c2) AS BIGINT)
  FROM li WHERE l_linenumber = 7
  UNION ALL
  SELECT 'v2_only', COUNT(*), CAST(SUM(qty_c2) AS BIGINT)
  FROM li WHERE l_linenumber IN (3, 4)
  ORDER BY win
"""


@register("snapshot_incremental_changes", _CDC_ORACLE)
def snapshot_incremental_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three CDC consumer checkpoints over a 4-version snapshot table
    (see the section comment)."""
    import shutil
    import tempfile

    li = load(spark, "lineitem", sf_dir).select(
        "l_linenumber",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c2"),
    )
    root = f"{tempfile.gettempdir()}/cas_snapshot/li_cdc"
    shutil.rmtree(root, ignore_errors=True)
    snap_mod.commit(li.filter(F.col("l_linenumber") <= 2), root,
                    mode="overwrite")                              # v1 seed
    snap_mod.commit(li.filter(F.col("l_linenumber").isin(3, 4)), root)  # v2
    snap_mod.commit(li.filter(F.col("l_linenumber").isin(5, 6)), root)  # v3
    snap_mod.commit(li.filter(F.col("l_linenumber") == 7), root)        # v4
    windows = [
        ("after_v2", snap_mod.read_changes(spark, root, from_version=2)),
        ("after_v3", snap_mod.read_changes(spark, root, from_version=3)),
        ("v2_only", snap_mod.read_changes(spark, root, 1, 2)),
    ]
    frames = [
        df.select(F.lit(w).alias("win"), "qty_c2") for w, df in windows
    ]
    allw = frames[0].unionByName(frames[1]).unionByName(frames[2])
    return (
        allw.groupBy("win")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty_c2").cast("long").alias("qty_c2"),
        )
        .orderBy("win")
    )


# ---------------------------------------------------------------------------
# r12 (r11 verdict item 6): NEW plan shapes — recursive CTE (Spark 4's
# UnionLoop, first appearance in the registry) and a correlated LATERAL
# top-k join.
# ---------------------------------------------------------------------------

_ESCALATION_ORACLE = """
    WITH RECURSIVE chain AS (
      SELECT s_suppkey AS leaf, s_suppkey AS cur,
             CAST(0 AS BIGINT) AS depth,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS path_bal_c
      FROM supplier
      UNION ALL
      SELECT c.leaf, p.s_suppkey, c.depth + 1,
             c.path_bal_c + CAST(ROUND(p.s_acctbal * 100) AS BIGINT)
      FROM chain c
      JOIN supplier p ON p.s_suppkey = c.cur // 7
      WHERE c.cur > 0
    ),
    tops AS (
      SELECT leaf, MAX(depth) AS depth FROM chain GROUP BY leaf
    ),
    final AS (
      SELECT c.leaf, c.cur AS root, c.depth, c.path_bal_c
      FROM chain c JOIN tops t ON t.leaf = c.leaf AND t.depth = c.depth
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_leaves,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           CAST(SUM(path_bal_c) AS BIGINT) AS path_bal_c_sum
    FROM final GROUP BY depth ORDER BY depth
"""


@register("supplier_escalation_chain", _ESCALATION_ORACLE)
def supplier_escalation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE escalation hierarchy (synthetic tier rule: supplier
    s escalates to supplier s DIV 7 while one exists — a deterministic
    parent function over the real key space, exercising Spark 4's
    recursive WITH / UnionLoop plan, the registry's first): per leaf the
    full chain to its root, rolled up to depth-profile totals on the
    exact cents grid. Scale shape: recursion depth is log_7(max key) —
    13 levels at the sf10 key span — and each level is one equi-join on
    the parent key, so the loop is depth-bounded, never row-recursive.
    DuckDB replays the identical recursion."""
    load(spark, "supplier", sf_dir).createOrReplaceTempView("supplier_r12")
    return spark.sql(
        _ESCALATION_ORACLE.replace("FROM supplier", "FROM supplier_r12")
        .replace("JOIN supplier p", "JOIN supplier_r12 p")
        .replace("//", "DIV")
    )


_BRAND_TOPK_ORACLE = """
    WITH brands AS (SELECT DISTINCT p_brand FROM part)
    SELECT b.p_brand, t.p_partkey, t.price_c, t.rk
    FROM brands b,
    LATERAL (
      SELECT p.p_partkey,
             CAST(ROUND(p.p_retailprice * 100) AS BIGINT) AS price_c,
             row_number() OVER (ORDER BY p.p_retailprice DESC, p.p_partkey)
               AS rk
      FROM part p
      WHERE p.p_brand = b.p_brand
      ORDER BY p.p_retailprice DESC, p.p_partkey
      LIMIT 3
    ) t
    ORDER BY b.p_brand, t.rk
"""


@register("brand_topk_lateral", _BRAND_TOPK_ORACLE)
def brand_topk_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand through a correlated LATERAL subquery with
    ORDER BY + LIMIT — the registry's first LateralJoin plan (the
    de-correlated form Spark compiles it to is the windowed top-k, which
    is exactly what the plan lock asserts: no per-brand rescan of
    part)."""
    load(spark, "part", sf_dir).createOrReplaceTempView("part_r12")
    return spark.sql(_BRAND_TOPK_ORACLE.replace("FROM part", "FROM part_r12")
                     .replace("FROM part p", "FROM part_r12 p"))


# ---------------------------------------------------------------------------
# r12 (r11 verdict item 6): z-order-pruned AS-OF compose — the
# snapshot's manifest-level data skipping feeding the beam-frequency
# interval join: only files whose (u_cell, v_cell) stats intersect the
# box are opened, the survivors' channel frequencies as-of match the
# bandpass grid, and the result rolls up per grid interval (integer
# micro-weight sums, cent-grid vis sums — nothing float crosses
# engines unrounded). The oracle is layout-independent (plain box
# filter + the same interval algebra the asof tier already proves
# cross-engine); the file-skipping itself stays locked by the
# round-7 skip tests.
# ---------------------------------------------------------------------------

_ZASOF_GRID_SQL = "856000000.0, 1070000000.0, 1284000000.0, 1498000000.0, 1712000000.0"

_ZORDER_ASOF_ORACLE = _with_ms(
    f"""
    , grid AS (SELECT unnest([{_ZASOF_GRID_SQL}]) AS g),
    boxed AS (
      SELECT row_id, vis_re, vis_im,
             LEAST(GREATEST(frequency, 856000000.0), 1712000000.0) AS v
      FROM vis
      WHERE CAST(FLOOR(u) AS BIGINT) + 100 BETWEEN {_ZORDER_BOX[0]} AND {_ZORDER_BOX[1]}
        AND CAST(FLOOR(v) AS BIGINT) + 100 BETWEEN {_ZORDER_BOX[2]} AND {_ZORDER_BOX[3]}
    ),
    lo AS (
      SELECT b.row_id, b.vis_re, b.vis_im, b.v,
             CASE WHEN MAX(g.g) >= 1712000000.0 THEN 1498000000.0
                  ELSE MAX(g.g) END AS grid_lo
      FROM boxed b JOIN grid g ON g.g <= b.v
      GROUP BY b.row_id, b.vis_re, b.vis_im, b.v
    ),
    hi AS (
      SELECT l.row_id, l.vis_re, l.vis_im, l.v, l.grid_lo,
             MIN(g.g) AS grid_hi
      FROM lo l JOIN grid g ON g.g > l.grid_lo
      GROUP BY l.row_id, l.vis_re, l.vis_im, l.v, l.grid_lo
    )
    SELECT grid_lo,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND((v - grid_lo) / (grid_hi - grid_lo)
                               * 1000000.0) AS BIGINT)) AS BIGINT)
             AS w_micro_sum,
           CAST(SUM(CAST(ROUND(vis_re * 100.0) AS BIGINT)) AS BIGINT)
             AS re_c_sum,
           CAST(SUM(CAST(ROUND(vis_im * 100.0) AS BIGINT)) AS BIGINT)
             AS im_c_sum
    FROM hi GROUP BY grid_lo ORDER BY grid_lo
    """
)


@register("snapshot_zorder_pruned_asof", _ZORDER_ASOF_ORACLE)
def snapshot_zorder_pruned_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order stats-pruned box scan feeding the as-of interval join
    (see the section comment)."""
    from codex_africanus_spark.operators import asof as asof_op
    from codex_africanus_spark.sources import snapshot as snap

    root = _ensure_zorder_layout(spark, sf_dir)
    lo_u, hi_u, lo_v, hi_v = _ZORDER_BOX
    pruned = snap.read_snapshot_where_all(
        spark, f"{root}/data",
        {"u_cell": (lo_u, hi_u), "v_cell": (lo_v, hi_v)},
    ).select(
        "row_id", "vis_re", "vis_im",
        (F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0)))
        .alias("frequency"),
    )
    grid = local_frame(
        spark,
        [(856e6,), (1070e6,), (1284e6,), (1498e6,), (1712e6,)],
        "grid_value double",
    )
    out = asof_op.asof_grid_interp(
        pruned, grid, "frequency",
        keys=["row_id", "vis_re", "vis_im"],
    )
    return (
        out.groupBy("grid_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("interp_weight") * 1000000.0).cast("long"))
            .cast("long").alias("w_micro_sum"),
            F.sum(F.round(F.col("vis_re") * 100.0).cast("long")).cast("long")
            .alias("re_c_sum"),
            F.sum(F.round(F.col("vis_im") * 100.0).cast("long")).cast("long")
            .alias("im_c_sum"),
        )
        .orderBy("grid_lo")
    )


# ---------------------------------------------------------------------------
# r13 (r12 verdict item 6): MULTI-LEVEL RECURSIVE AGGREGATE — the r12
# UnionLoop recursion composed with a grouping-lattice rollup, a plan
# shape the registry had not exercised (UnionLoop feeding Expand).
# Chain rule is the r12 escalation hierarchy (parent = key DIV 7 while
# one exists: depth-bounded log_7 recursion, one equi-join per level,
# never row-recursive); the lattice rolls the full chain edge set up
# by ROLLUP(depth, node_mod) with GROUPING() disambiguation, all sums
# on the cents grid.
# ---------------------------------------------------------------------------

_ESC_ROLLUP_ORACLE = """
    WITH RECURSIVE chain AS (
      SELECT s_suppkey AS leaf, s_suppkey AS cur,
             CAST(0 AS BIGINT) AS depth,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_c
      FROM supplier
      UNION ALL
      SELECT c.leaf, p.s_suppkey, c.depth + 1,
             CAST(ROUND(p.s_acctbal * 100) AS BIGINT)
      FROM chain c
      JOIN supplier p ON p.s_suppkey = c.cur // 7
      WHERE c.cur > 0
    ),
    nodes AS (SELECT depth, cur % 4 AS node_mod, bal_c FROM chain)
    SELECT depth, node_mod,
           CAST(GROUPING(depth) * 2 + GROUPING(node_mod) AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(SUM(bal_c) AS BIGINT) AS bal_c_sum
    FROM nodes
    GROUP BY ROLLUP(depth, node_mod)
    ORDER BY lvl, depth, node_mod
"""


@register("escalation_rollup_lattice", _ESC_ROLLUP_ORACLE)
def escalation_rollup_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive escalation chain rolled up across the grouping lattice
    (see section comment): Spark 4 recursive WITH (UnionLoop) feeding
    GROUP BY ROLLUP (Expand) in one plan. The DuckDB twin replays the
    identical recursion and lattice."""
    load(spark, "supplier", sf_dir).createOrReplaceTempView("supplier_r13r")
    return spark.sql(
        _ESC_ROLLUP_ORACLE.replace("FROM supplier", "FROM supplier_r13r")
        .replace("JOIN supplier p", "JOIN supplier_r13r p")
        .replace("//", "DIV")
    )


# ---------------------------------------------------------------------------
# r13 widening: two join/agg feature classes the registry had not
# exercised — the NULL-SAFE equi-join (Spark `<=>` / DuckDB IS NOT
# DISTINCT FROM; a distinct join-predicate class in the planner, NULL
# keys MATCH instead of dropping) and ordered LISTAGG (Spark 4 WITHIN
# GROUP / DuckDB string_agg ORDER BY — order-sensitive string
# aggregation, deterministic only under a total order).
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = """
    WITH s AS (
      SELECT s_suppkey, s_acctbal,
             NULLIF(s_nationkey, 3) AS nk
      FROM supplier
    ),
    n AS (
      SELECT n_name, NULLIF(n_nationkey, 3) AS nk
      FROM nation
    )
    SELECT COALESCE(n.n_name, '<null-key>') AS n_name,
           CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(ROUND(s.s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_c_sum
    FROM s JOIN n ON s.nk IS NOT DISTINCT FROM n.nk
    GROUP BY n.n_name
    ORDER BY n_name
"""


@register("supplier_nullsafe_nation_join", _NULLSAFE_ORACLE)
def supplier_nullsafe_nation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe supplier-nation join: nationkey 3 is NULLed on BOTH
    sides, so the null-key suppliers still match their (single) null-key
    nation row under `<=>` — rows an inner equi-join silently drops.
    The null class stays dimension-bounded (exactly one nation row), so
    no null-bucket explosion is possible."""
    sup = load(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_acctbal",
        F.expr("NULLIF(s_nationkey, 3)").alias("nk"),
    )
    nat = load(spark, "nation", sf_dir).select(
        "n_name", F.expr("NULLIF(n_nationkey, 3)").alias("nk2"),
    )
    return (
        sup.join(F.broadcast(nat), sup["nk"].eqNullSafe(nat["nk2"]))
        .groupBy(F.coalesce(F.col("n_name"), F.lit("<null-key>")).alias("n_name"))
        .agg(
            F.count("s_suppkey").cast("long").alias("n_suppliers"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).cast("long")
            .alias("bal_c_sum"),
        )
        .orderBy("n_name")
    )


_LISTAGG_ORACLE = """
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           string_agg(s_name, ',' ORDER BY s_name) AS roster
    FROM supplier
    WHERE s_suppkey % 100 = 0
    GROUP BY s_nationkey
    ORDER BY s_nationkey
"""


@register("supplier_roster_listagg", _LISTAGG_ORACLE)
def supplier_roster_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG roster per nation over a keyed sample (bounded
    string length at any SF): Spark 4's listagg WITHIN GROUP vs DuckDB's
    string_agg ORDER BY — byte-equal only because the order is total
    (s_name is unique)."""
    return (
        load(spark, "supplier", sf_dir)
        .filter(F.col("s_suppkey") % 100 == 0)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)")
            .alias("roster"),
        )
        .orderBy("s_nationkey")
    )
